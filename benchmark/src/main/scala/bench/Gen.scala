package bench

import scala.util.Random

/** Corpus and schedule sizes. `full` is what the benchmark measures;
  * `smoke` is the same shape small enough for the benchmark's own test. */
final case class Size(rows: Int, dims: Int, clusters: Int, nlist: Int,
                      vocab: Int, buckets: Int, batchRows: Int, deleteRows: Int)

object Size {
  val full = Size(rows = 5000, dims = 64, clusters = 16, nlist = 16, vocab = 1000,
    buckets = 2, batchRows = 40, deleteRows = 10)
  val smoke = Size(rows = 600, dims = 16, clusters = 4, nlist = 4, vocab = 200,
    buckets = 2, batchRows = 10, deleteRows = 3)
}

final case class Doc(id: String, text: String, rating: Int, vec: Array[Float])

/** The generated wide table, before it is written as parquet. */
final class Corpus(val size: Size, val docs: IndexedSeq[Doc],
                   val centers: Array[Array[Float]]) {
  /** True `$contains` match counts, from a plain scan of the generated
    * text — independent of anything the engine computes. */
  lazy val phraseCounts: Map[String, Int] =
    Gen.Phrases.map(p => p -> docs.count(_.text.contains(p))).toMap
}

sealed trait Request
/** `query` with one embedding, `n_results`; optional `where` on rating
  * (`$gte`) and optional `where_document` `$contains`. */
final case class QueryRequest(vec: Array[Float], ratingAtLeast: Option[Int],
                              contains: Option[String]) extends Request
final case class GetRequest(ids: Seq[String]) extends Request

/** One `mutate_mixed` cycle: two upsert batches, one delete, and the
  * terms of its keyword read. */
final case class Cycle(batch1: Seq[Doc], batch2: Seq[Doc], deletes: Seq[String],
                       kwTerms: Seq[String])

/** Seeded inputs. Every generator draws from its own `Random` derived from
  * the one seed, so adding draws to one stream never shifts another. */
object Gen {
  /** Planted `where_document` phrases, with the share of documents each is
    * planted in. Vocabulary words use only the letters a–p, and every
    * phrase carries a letter from q–z, so a phrase matches only where it
    * was planted. */
  val Phrases: Seq[String] = Seq("qubit vortex", "zephyr", "quartz", "wyvern")
  private val PhraseRates = Seq(0.004, 0.02, 0.06, 0.15)
  /** Phrases common enough that a 10-result IVF read always fills. */
  val CommonPhrases: Seq[String] = Phrases.drop(2)
  val K = 10

  private val Consonants = "bcdfghjklmnp"
  private val Vowels = "aeio"

  def vocabulary(n: Int): IndexedSeq[String] = {
    val r = new Random(7)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 1 + r.nextInt(3)
      seen += (0 until syl).map(_ =>
        s"${Consonants(r.nextInt(Consonants.length))}${Vowels(r.nextInt(Vowels.length))}").mkString
    }
    seen.toIndexedSeq
  }

  /** Zipf(s = 1.07) rank sampler over `n` words. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.07))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def vecNear(r: Random, c: Array[Float], sigma: Double): Array[Float] =
    c.map(x => (x + sigma * r.nextGaussian()).toFloat)

  def text(r: Random, vocab: IndexedSeq[String], zipf: Zipf): String = {
    val words = Array.fill(12 + r.nextInt(13))(vocab(zipf.draw(r)))
    val planted = Phrases.zip(PhraseRates).collect {
      case (p, rate) if r.nextDouble() < rate => p
    }
    (words ++ planted).mkString(" ")
  }

  def corpus(seed: Long, size: Size): Corpus = {
    val r = new Random(seed)
    val centers = Array.fill(size.clusters, size.dims)(r.nextGaussian().toFloat)
    val vocab = vocabulary(size.vocab)
    val zipf = new Zipf(size.vocab)
    val docs = (0 until size.rows).map { i =>
      val c = centers(r.nextInt(size.clusters))
      Doc(i.toString, text(r, vocab, zipf), 1 + r.nextInt(5), vecNear(r, c, 0.25))
    }
    new Corpus(size, docs, centers)
  }

  /** The `serve_query` stream: 70% plain query, 15% query + `where` on
    * rating, 10% query + `where_document` `$contains`, 5% `get` by ids. */
  def requests(seed: Long, corpus: Corpus, n: Int): IndexedSeq[Request] = {
    val r = new Random(seed * 31 + 1)
    (0 until n).map { _ =>
      val u = r.nextDouble()
      def vec = vecNear(r, corpus.centers(r.nextInt(corpus.centers.length)), 0.25)
      if (u < 0.70) QueryRequest(vec, None, None)
      else if (u < 0.85) QueryRequest(vec, Some(3 + r.nextInt(3)), None)
      else if (u < 0.95) QueryRequest(vec, None,
        Some(CommonPhrases(r.nextInt(CommonPhrases.length))))
      else GetRequest(Seq.fill(5)(corpus.docs(r.nextInt(corpus.docs.length)).id).distinct)
    }
  }

  /** The `mutate_mixed` schedule. Upsert ids are drawn uniformly — half
    * existing ids (updates), half new ones — so a batch touches most id
    * buckets, the CDC shape. `live` is the id set before the cycle and is
    * advanced by the caller's model, which keeps deletes on live ids. */
  final class Schedule(seed: Long, corpus: Corpus) {
    private val r = new Random(seed * 31 + 2)
    private val vocab = vocabulary(corpus.size.vocab)
    private val zipf = new Zipf(corpus.size.vocab)
    private var nextNew = corpus.size.rows + 1000000

    private def batch(live: IndexedSeq[String], exclude: Set[String]): Seq[Doc] = {
      val n = corpus.size.batchRows
      val updates = Iterator.continually(live(r.nextInt(live.length)))
        .filterNot(exclude).distinct.take(n / 2).toSeq
      val inserts = Seq.fill(n - updates.length) { nextNew += 1; nextNew.toString }
      (updates ++ inserts).map { id =>
        val c = corpus.centers(r.nextInt(corpus.centers.length))
        Doc(id, text(r, vocab, zipf), 1 + r.nextInt(5), vecNear(r, c, 0.25))
      }
    }

    def next(live: IndexedSeq[String]): Cycle = {
      val b1 = batch(live, Set.empty)
      val b2 = batch(live, b1.map(_.id).toSet)
      val touched = (b1 ++ b2).map(_.id).toSet
      val deletes = Iterator.continually(live(r.nextInt(live.length)))
        .filterNot(touched).distinct.take(corpus.size.deleteRows).toSeq
      // terms among the 20 most frequent words, so the read always hits
      val kw = Seq.fill(2)(vocab(r.nextInt(20))).distinct
      Cycle(b1, b2, deletes, kw)
    }
  }
}

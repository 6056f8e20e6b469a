package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.CollectionCatalog
import graft.functions.Distances
import graft.operators.{ChromaFilter, Knn, KnnTopK}

/** [[KnnTopK]] — the one-job per-query top-k body of `queryBatch`,
  * `queryStruct` and both PQ read stages — ranks exactly what the window
  * form it replaced ranked: same ids, ranks and distance bits, for every
  * space and for arbitrary score columns, on corpora built to tie, to
  * repeat vectors, to carry null and NaN embeddings, to run short of k and
  * to leave a query of the batch with no candidates. */
class KnnTopKSpec extends SparkTestBase {
  import spark.implicits._

  private val spaces = Seq("l2", "ip", "cosine")

  /** The window form: `Knn.topKBatch` on the exact path, and on the IVF
    * path the broadcast join of each query with its probe set, a
    * `row_number` over `(dist, id)` per query and the `rnk <= k` filter. */
  private def windowForm(corpus: DataFrame, qs: Seq[Seq[Float]], k: Int, space: String,
                         cells: Seq[Seq[Int]]): DataFrame =
    if (cells.isEmpty)
      Knn.topKBatch(corpus, "id", "embedding", qs.zipWithIndex.map(_.swap).toDF("qid", "qvec"),
        "qid", "qvec", k, space, excludeSelf = false)
    else {
      val queries = qs.zipWithIndex.map { case (v, i) => (i, v, cells(i)) }
        .toDF("qid", "__qvec", "__qcells")
      val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))
      corpus.join(broadcast(queries), array_contains(col("__qcells"), col("cell")))
        .withColumn("dist", Distances.bySpace(space)(col("embedding"), col("__qvec")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .drop("embedding", "__qvec", "__qcells", "cell")
    }

  /** The window form over arbitrary per-query score columns: each query's
    * rows (those `probed(q)` admits) scored by `scores(q)`, a `row_number`
    * over `(dist, id)` per query and the `rnk <= k` filter. */
  private def scoreWindowForm(corpus: DataFrame, scores: Seq[Column], probed: Seq[Column],
                              k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("id"))
    scores.indices.map { q =>
      val rows = corpus.withColumn("qid", lit(q)).withColumn("dist", scores(q))
      if (probed.isEmpty) rows else rows.filter(probed(q))
    }.reduce(_ union _)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Rows as (qid, rnk, id, dist bits, document), in (qid, rnk) order. */
  private def ranked(df: DataFrame): Seq[(Int, Int, String, Option[Long], String)] =
    df.select("qid", "rnk", "id", "dist", "document").collect().toSeq.map { r =>
      (r.getInt(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(3))),
        r.getString(4))
    }.sortBy(r => (r._1, r._2))

  /** A corpus of small-integer vectors — many repeated vectors and tied
    * distances — with ids whose string order is not their insertion
    * order, null and NaN embeddings, a `cell` and a `tag`. */
  private def corpus(seed: Int, n: Int = 60, dim: Int = 3): DataFrame = {
    val r = new Random(seed)
    val rows = (0 until n).map { i =>
      val v: Seq[Float] =
        if (i % 17 == 5) null
        else if (i == 11) Seq.fill(dim)(Float.NaN)
        else Seq.fill(dim)((r.nextInt(3) + 1).toFloat)
      (s"r${r.nextInt(1000)}_$i", s"doc $i", v, r.nextInt(4), if (i % 2 == 0) "even" else "odd")
    }
    rows.toDF("id", "document", "embedding", "cell", "tag").repartition(4)
  }

  private def queries(seed: Int, n: Int, dim: Int = 3): Seq[Seq[Float]] = {
    val r = new Random(seed * 7 + 1)
    Seq.fill(n)(Seq.fill(dim)((r.nextInt(3) + 1).toFloat))
  }

  test("exact body equals the window form: ties, repeats, null and NaN vectors, k past the rows") {
    for (space <- spaces; seed <- 1 to 3; k <- Seq(1, 4, 200)) {
      val df = corpus(seed)
      val qs = queries(seed, 3)
      val want = ranked(windowForm(df.drop("cell"), qs, k, space, Nil))
      val got = KnnTopK.batch(df.drop("cell"), "id", "embedding", qs, k, space)
      assert(ranked(got) == want, s"$space seed $seed k $k (collect)")
      // the same rows through a parent operator (the shuffle-merge path)
      assert(ranked(got.orderBy("qid", "rnk")) == want, s"$space seed $seed k $k (parent)")
      if (k >= 4) assert(want.filter(_._1 == 0).take(3).forall(_._4.isEmpty),
        s"$space seed $seed: null embeddings rank first")
    }
    // arbitrary per-query score columns, built to tie, to be null, NaN and
    // ±0.0 and to differ per query, with and without probe predicates
    def score(q: Int): Column =
      when(col("tag") === "even", ((col("cell") + q) % 3).cast("double"))
        .when(col("cell") === q % 4, lit(Double.NaN))
        .when(col("cell") === (q + 1) % 4, lit(-0.0))
        .when(col("cell") === (q + 2) % 4, lit(0.0))
    for (seed <- 1 to 3; k <- Seq(1, 3, 100); probe <- Seq(false, true)) {
      val df = corpus(seed)
      val scores = (0 until 4).map(score)
      val probed = if (probe) (0 until 4).map(q => col("cell") =!= q) else Nil
      val want = ranked(scoreWindowForm(df, scores, probed, k))
      val got = KnnTopK.batch(df, "id", scores, k, probed, Seq("embedding", "cell"))
      assert(ranked(got) == want, s"scores seed $seed k $k probe $probe (collect)")
      assert(ranked(got.orderBy("qid", "rnk")) == want, s"scores seed $seed k $k probe $probe (parent)")
      assert(got.columns.toSeq == Seq("id", "document", "tag", "qid", "dist", "rnk"))
    }
  }

  test("IVF body equals the window form: per-query probe sets, one query emptied by a filter") {
    for (space <- spaces; seed <- 1 to 3; k <- Seq(2, 50)) {
      val cells = Seq(Seq(0, 1), Seq(2), Seq(1, 3), Seq(0, 1, 2, 3))
      val qs = queries(seed, cells.size)
      // cell 2 holds no odd rows: the filter leaves query 1 no candidates
      val df = corpus(seed).filter(!(col("cell") === 2 && col("tag") === "odd"))
        .filter(col("tag") === "odd")
      val want = ranked(windowForm(df, qs, k, space, cells))
      val got = KnnTopK.batch(df, "id", "embedding", qs, k, space,
        probed = cells.map(c => col("cell").isin(c: _*)), dropCols = Seq("cell"))
      assert(ranked(got) == want, s"$space seed $seed k $k")
      assert(!want.exists(_._1 == 1) && want.exists(_._1 == 3), s"$space seed $seed")
      assert(got.columns.toSeq == Seq("id", "document", "tag", "qid", "dist", "rnk"))
    }
  }

  test("the fold gives every query vector a row, in qid order, with rank-ordered lists") {
    val df = corpus(4).drop("cell")
    val qs = queries(4, 3)
    val long = KnnTopK.batch(df.filter(col("tag") === "even"), "id", "embedding", qs, 3, "l2")
    val folded = KnnTopK.fold(long, Seq(col("id").as("ids"), col("dist").as("distances")))
      .collect().toSeq
    val want = ranked(long)
    assert(folded.map(_.getInt(0)) == Seq(0, 1, 2))
    folded.foreach { r =>
      val hits = want.filter(_._1 == r.getInt(0))
      assert(r.getSeq[String](1) == hits.map(_._3))
    }
    // a filter that leaves nothing: every query vector still answers
    val none = KnnTopK.fold(
      KnnTopK.batch(df.filter(col("tag") === "none"), "id", "embedding", qs, 3, "l2"),
      Seq(col("id").as("ids"))).collect().toSeq
    assert(none.map(r => (r.getInt(0), r.getSeq[String](1))) == Seq((0, Nil), (1, Nil), (2, Nil)))
  }

  test("Collection.queryBatch equals the window form over the collection, with a where") {
    for (space <- spaces) {
      val c = new CollectionCatalog(spark, tmpDir("knntopk"), numBuckets = 4)
        .getOrCreateCollection(s"c_$space", space)
      val rows = corpus(9, n = 80).drop("cell").filter(col("embedding").isNotNull &&
        !array_contains(col("embedding"), Float.NaN))
      c.add(rows)
      val qs = queries(9, 4)
      for (where <- Seq(None, Some(ChromaFilter.Eq("tag", "even")))) {
        val scan = where.fold(c.toDF)(_ => c.toDF.filter(col("tag") === "even"))
        val want = ranked(windowForm(scan, qs, 7, space, Nil))
        assert(ranked(c.queryBatch(qs, 7, where = where)) == want, s"$space $where")
      }
      val got: Row = c.queryStruct(qs.take(1), 7, include = Set("distances")).head()
      assert(got.getSeq[Double](2).size == 7)
    }
  }
}

package bench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{HydrateConfig, Hydrator}
import graft.catalog.{Collection, CollectionCatalog}

/** A collection hydrated and indexed from the generated input. */
final case class Built(coll: Collection, hydrateMs: Double, buildMs: Seq[Double],
                       storeBytes: Long)

/** Everything one run shares: the session, the tracer, the generated
  * input, and the tally of attempted and failed operations. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val counters: Counters,
                val work: String, val seed: Long, val seconds: Int, val size: Size) {
  val store = s"$work/store"
  val input = s"$work/input.parquet"
  lazy val catalog = new CollectionCatalog(spark, store, numBuckets = size.buckets)
  val phase = new Phase(spark, counters)

  private var attemptedN = 0L
  private var failedN = 0L
  val failures = ArrayBuffer.empty[String]
  /** Files each traced call left on disk, by span name. */
  val filesWritten = mutable.LinkedHashMap.empty[String, ArrayBuffer[Long]]
  /** Values the traced run reports that are not span aggregates. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload facts for the run record (latency summaries and the like). */
  val record = mutable.LinkedHashMap.empty[String, Any]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)

  /** Runs one operation: counts it, times it (a span when tracing) and
    * applies `checks` to its answer. An exception or any failed check
    * counts the operation as failed. None when it threw. */
  def op[A](name: String)(f: => A)(checks: A => Seq[Option[String]]): Option[(A, Double)] = {
    synchronized(attemptedN += 1)
    val res = try Right(tracer.span(name)(f))
      catch { case NonFatal(e) => Left(s"$name threw $e") }
    val errs = res match {
      case Right((a, _)) =>
        try checks(a).flatten catch { case NonFatal(e) => Seq(s"$name check threw $e") }
      case Left(m) => Seq(m)
    }
    if (errs.nonEmpty) synchronized {
      failedN += 1
      if (failures.length < 20) failures ++= errs
    }
    res.toOption
  }

  def collDir(name: String): String = s"$store/$name"

  /** Runs `f` and, when tracing, records how many files it added under
    * `dir` (checksum sidecars excluded). */
  def tracked[A](name: String, dir: String)(f: => A): A =
    if (!tracer.enabled) f
    else {
      val before = Files.list(dir)
      val r = f
      filesWritten.getOrElseUpdate(name, ArrayBuffer.empty) +=
        Files.list(dir).diff(before).size.toLong
      r
    }

  /** Writes the generated corpus as the wide input table:
    * doc_id, text, rating, emb_000 .. emb_<d-1>. */
  def writeInput(corpus: Corpus): Unit = {
    val d = corpus.size.dims
    val schema = StructType(Seq(
      StructField("doc_id", LongType, false),
      StructField("text", StringType, false),
      StructField("rating", IntegerType, false)) ++
      (0 until d).map(j => StructField(f"emb_$j%03d", FloatType, false)))
    val rows = corpus.docs.map(doc =>
      Row.fromSeq(Seq(doc.id.toLong, doc.text, doc.rating) ++ doc.vec.toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(input)
  }

  /** Collection-row frame for a write batch: the shape hydration stores. */
  def rowsFrame(docs: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType, false),
      StructField("document", StringType, true),
      StructField("embedding", ArrayType(FloatType, false), true),
      StructField("metadata", MapType(StringType, StringType, true), true)))
    val rows = docs.map(doc =>
      Row(doc.id, doc.text, doc.vec.toSeq, Map("rating" -> doc.rating.toString)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def build(coll: Collection, family: String): Unit = family match {
    case "index" => coll.buildIndex(size.nlist)
    case "kwindex" => coll.buildKeywordIndex()
    case "docindex" => coll.buildDocIndex()
  }

  /** The reference's pipeline: `Hydrator.run` of the wide input into a
    * fresh collection, then the named index builds. */
  def pipeline(name: String, families: Seq[String]): Option[Built] = {
    // creating the collection first fixes its bucket count; Hydrator.run
    // then opens it as an existing collection
    catalog.getOrCreateCollection(name)
    val cfg = HydrateConfig(inputTable = input, textVar = "text", docId = "doc_id",
      embeddingPattern = "emb_", metadataColumn = Some("rating"),
      collectionName = name, persistentPath = store)
    tracked("Hydrator.run", collDir(name)) {
      op("Hydrator.run")(Hydrator.run(spark, cfg))(c =>
        Seq(if (c.isDefined) None else Some("Hydrator.run returned no collection")))
    }.map { case (c, hydrateMs) =>
      val coll = c.get
      val buildMs = families.flatMap { f =>
        val span = Workloads.BuildSpan(f)
        tracked(span, collDir(name))(op(span)(build(coll, f))(_ => Nil)).map(_._2)
      }
      Built(coll, hydrateMs, buildMs, Files.bytes(collDir(name)))
    }
  }
}

/** The boundary between set-up and the measured phase, and the end of the
  * measured phase: wall clock, listener counters and GC time at each. */
final class Phase(spark: SparkSession, counters: Counters) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  var setupS = 0.0
  var startNs, endNs = 0L
  var startCounts, endCounts: Map[String, Long] = Map.empty
  var startGcMs, endGcMs = 0L

  private def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def setupDone(): Unit = {
    setupS = sinceJvmStart
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    startCounts = counters.snapshot
    startGcMs = gcMs
    startNs = System.nanoTime()
  }

  def measuredDone(): Unit = {
    endNs = System.nanoTime()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    endCounts = counters.snapshot
    endGcMs = gcMs
  }

  def seconds: Double = (endNs - startNs) / 1e9
  def delta(k: String): Long = endCounts(k) - startCounts(k)
}

object Files {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatMap(_.iterator).flatMap(walk)
    else Iterator(f)

  /** Regular files under `dir`, without Hadoop's `.crc` checksum sidecars. */
  def list(dir: String): Set[String] =
    walk(new File(dir)).filterNot(_.getName.endsWith(".crc")).map(_.getPath).toSet

  def bytes(dir: String): Long =
    walk(new File(dir)).filterNot(_.getName.endsWith(".crc")).map(_.length).sum
}

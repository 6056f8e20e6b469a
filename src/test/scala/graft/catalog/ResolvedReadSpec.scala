package graft.catalog

import org.apache.spark.sql.{DataFrame, GraftColumnShim}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The resolved-read cache ([[ResolvedCache]]): a committed data version or
  * index build is resolved once — its read plan, schemas, dimension and
  * sidecars — so constructing a read of an unchanged snapshot runs no Spark
  * job, while every new version, carried version, rollback and reborn path
  * reads exactly what a fresh schema inference reads. */
class ResolvedReadSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs started while `call` runs (its construction only: the
    * returned frame is not executed). */
  private def jobs(call: => Any): Int = GraftColumnShim.countJobs(spark.sparkContext)(call)._2

  private def rows(ids: Range) =
    ids.map(i => (s"id$i", s"doc $i", Seq(i.toFloat, (i % 7).toFloat, 1f)))
      .toDF("id", "document", "embedding")

  private val ivf: Collection => Unit = _.buildIndex(nlist = 3)
  private val pq: Collection => Unit = _.buildIndexPq(m = 3, ksub = 4, nlist = 3)
  private val residualPq: Collection => Unit = _.buildIndexPqResidual(m = 3, ksub = 4, nlist = 3)
  private val unindexed: Collection => Unit = _ => ()

  private def collection(name: String, index: Collection => Unit = ivf): Collection = {
    val c = new CollectionCatalog(spark, tmpDir("resolved-read"), numBuckets = 4)
      .getOrCreateCollection(name)
    c.add(rows(0 until 40))
    index(c)
    c
  }

  /** Rows as sorted strings over the sorted column names. */
  private def contents(df: DataFrame): (Seq[(String, String)], Seq[String]) = {
    val cols = df.columns.sorted.toSeq
    (df.schema.fields.map(f => f.name -> f.dataType.simpleString).sortBy(_._1).toSeq,
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq)
  }

  /** A fresh `mergeSchema` inference over a version's resolved leaf dirs —
    * the read with no cache in front of it. */
  private def inferred(c: Collection, version: Int): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(c.leafDataDirs(version): _*)

  private def inferredOf(dirs: Seq[String]) =
    spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema

  test("a second construct of query/queryStruct/get on an unchanged snapshot runs no job") {
    val q = Seq(3f, 3f, 1f)
    // the IVF reads resolve their build (the build itself resolved the
    // data version); get resolves the data version a plain add never read;
    // count and a PQ read at fetchN = 0 count the version's rows
    for ((what, index, construct) <- Seq[(String, Collection => Unit, Collection => Any)](
        ("query", ivf, _.query(q, 5)),
        ("queryStruct", ivf, _.queryStruct(Seq(q), 5)),
        ("get", unindexed, _.get(ids = Seq("id3", "id4"))),
        ("count", unindexed, _.count()),
        ("queryPq fetchN=0", pq, _.queryPq(q, 5)))) {
      val c = collection(s"c_${what.takeWhile(_ != ' ')}", index)
      val first = jobs(construct(c))
      val second = jobs(construct(c))
      assert(first >= 1, s"$what: the first construct resolved nothing ($first jobs)")
      assert(second == 0, s"$what: the second construct on an unchanged snapshot ran $second jobs")
    }
    // a frame built from the cache answers like the one that filled it
    val c = collection("answers")
    val miss = c.query(q, 5).collect().toSeq
    assert(miss.nonEmpty && c.query(q, 5).collect().toSeq == miss)
    assert(c.get(ids = Seq("id3")).select("document").as[String].collect().toSeq == Seq("doc 3"))
  }

  test("a served read runs one Spark job: constructing it on a warm snapshot runs none") {
    val c = collection("one_job")
    val (plain, residual) = (collection("one_job_pq", pq), collection("one_job_rpq", residualPq))
    val q = Seq(3f, 3f, 1f)
    val batch = Seq(q, Seq(1f, 0f, 1f), Seq(20f, 6f, 1f), Seq(39f, 4f, 1f))
    // a PQ read runs two: the shortlist's broadcast, then the refine
    for ((what, coll, read, want) <- Seq[(String, Collection, Collection => DataFrame, Int)](
        ("queryStruct IVF", c, _.queryStruct(Seq(q), 5), 1),
        ("queryStruct exact", c, _.queryStruct(Seq(q), 5, exact = true), 1),
        ("queryStruct embeddings", c, _.queryStruct(Seq(q), 5,
          include = Set("embeddings", "distances", "documents")), 1),
        ("queryBatch of 4", c, _.queryBatch(batch, 5), 1),
        ("query", c, _.query(q, 5), 1),
        ("queryPq plain", plain, _.queryPq(q, 5), 2),
        ("queryPqBatch of 4 plain", plain, _.queryPqBatch(batch, 5), 2),
        ("queryPq residual", residual, _.queryPq(q, 5, fetchN = 10), 2),
        ("queryPqBatch of 4 residual", residual, _.queryPqBatch(batch, 5, fetchN = 10), 2))) {
      read(coll).collect() // warms the snapshot
      var df: DataFrame = null
      assert(jobs { df = read(coll) } == 0, s"$what: the construct ran a job")
      var rows = Array.empty[org.apache.spark.sql.Row]
      val n = jobs { rows = df.collect() }
      assert(n == want, s"$what: collecting ran $n Spark jobs")
      assert(rows.nonEmpty, s"$what: no rows")
    }
  }

  test("the graft SQL source resolves its schema once per committed version and dir set") {
    val root = tmpDir("resolved-sql")
    val c = new CollectionCatalog(spark, root, numBuckets = 4).getOrCreateCollection("s")
    c.add(rows(0 until 40))
    // one bucket rewritten with a new column, the others carried
    c.upsert(Seq(("id1", "patched", Seq(1f, 1f, 1f), "t1"))
      .toDF("id", "document", "embedding", "tag"))
    def read(opts: (String, String)*): DataFrame = spark.read.format("graft")
      .option("root", root).option("name", "s").options(opts.toMap).load()
    read().collect() // fills the cache
    assert(jobs(read()) == 0, "the second construct still infers")
    assert(read().columns.contains("tag"))
    assert(read().filter(col("id") === "id1").select("tag").as[String].collect().toSeq == Seq("t1"))
    // an ids= read binds its ids' buckets: it keeps what THOSE dirs infer
    val v = c.meta.version
    val tagged = (0 until 40).map { i =>
      val bound = read("ids" -> s"id$i")
      assert(bound.schema == inferredOf(c.leafDataDirsForIds(v, Seq(s"id$i"))), s"id$i")
      bound.columns.contains("tag")
    }
    assert(tagged.contains(true) && tagged.contains(false))
  }

  test("an upsert that adds a column is visible in the new version") {
    val c = collection("addcol")
    val v1 = c.meta.version
    assert(!c.toDF.columns.contains("tag"))
    c.upsert(Seq(("id1", "patched", Seq(1f, 1f, 1f), "t1"))
      .toDF("id", "document", "embedding", "tag"))
    val now = c.toDF
    assert(now.columns.contains("tag"))
    assert(now.filter(col("id") === "id1").select("tag").as[String].collect().toSeq == Seq("t1"))
    assert(now.filter(col("tag").isNull).count() == 39)
    assert(!c.toDFAt(v1).columns.contains("tag"))
  }

  test("a carried version and a rollback read what a fresh inference reads") {
    val c = collection("carry")
    val v1 = c.meta.version
    c.toDF.count()
    // a partial upsert: one bucket rewritten with a new column, the others
    // carried from v1 by manifest — a union of two owner reads
    c.upsert(Seq(("id2", "patched", Seq(2f, 2f, 2f), 7L))
      .toDF("id", "document", "embedding", "score"))
    val v2 = c.meta.version
    c.rollbackTo(v1)
    val v3 = c.meta.version
    for (v <- Seq(v1, v2, v3)) {
      c.toDFAt(v).count() // fills the cache
      assert(jobs(c.toDFAt(v)) == 0, s"v$v: the cached read still infers")
      assert(contents(c.toDFAt(v)) == contents(inferred(c, v).drop("pt")), s"v$v differs")
    }
    assert(contents(c.toDF) == contents(c.toDFAt(v1)))
  }

  test("a deleted and recreated collection at the same path reads its new schema") {
    val root = tmpDir("resolved-reborn")
    val cat = new CollectionCatalog(spark, root, numBuckets = 4)
    cat.getOrCreateCollection("c").add(rows(0 until 8).withColumn("a", lit(1)))
    assert(cat.getCollection("c").get.toDF.columns.contains("a"))
    assert(cat.deleteCollection("c"))
    val c = cat.getOrCreateCollection("c")
    c.add(rows(0 until 8).withColumn("b", lit("x")))
    val cols = c.toDF.columns
    assert(cols.contains("b") && !cols.contains("a"), s"reborn path read ${cols.mkString(",")}")
    assert(c.toDF.filter(col("b") === "x").count() == 8)
  }
}

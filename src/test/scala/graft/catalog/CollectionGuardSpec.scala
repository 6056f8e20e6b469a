package graft.catalog

import graft.operators.HashingEmbedder

/** Argument and layout guards shared by every vector read and every IVF/PQ
  * build: `k <= 0` is rejected on each read path (IVF, exact scan, PQ,
  * text), and user columns that collide with the index layout (`cell`,
  * `pb`, and `codes` on PQ-coded builds) fail every build and refresh with
  * one message. */
class CollectionGuardSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def rows(ids: Range) = ids.map { i =>
    (s"id$i", s"doc $i", Seq(i.toFloat, (i % 4).toFloat, (i % 3).toFloat, 1f))
  }.toDF("id", "document", "embedding")

  private def fresh(tag: String, space: String = "l2"): Collection =
    new CollectionCatalog(spark, tmpDir(tag), numBuckets = 4)
      .getOrCreateCollection("c", space)

  private def pqSeeded(c: Collection): Unit =
    c.buildIndexPqSeeded(Seq("id0", "id9"), Seq("id2", "id3", "id5", "id7"), m = 2)

  private def rejectsK(read: Int => Any): Unit =
    Seq(0, -3).foreach { k =>
      val e = intercept[IllegalArgumentException](read(k))
      assert(e.getMessage.contains("k must be positive"), e.getMessage)
    }

  test("k <= 0 is rejected on the IVF, exact-scan and PQ read paths") {
    val c = fresh("guard-k")
    c.add(rows(0 until 20))
    val q = Seq(3f, 1f, 0f, 1f)
    // exact scan (no index yet) and the forced-exact form
    rejectsK(k => c.query(q, k))
    rejectsK(k => c.queryBatch(Seq(q), k))
    rejectsK(k => c.queryStruct(Seq(q), k))
    pqSeeded(c)
    assert(c.hasIndex)
    // IVF path over the (PQ-coded) build, and the exact form beside it
    rejectsK(k => c.query(q, k, nprobe = 2))
    rejectsK(k => c.query(q, k, exact = true))
    rejectsK(k => c.queryBatch(Seq(q), k, nprobe = 2))
    rejectsK(k => c.queryBatch(Seq(q), k, exact = true))
    rejectsK(k => c.queryStruct(Seq(q), k, nprobe = 2))
    rejectsK(k => c.queryPq(q, k, nprobe = 2, fetchN = 10))
    rejectsK(k => c.queryPqBatch(Seq(q), k, nprobe = 2, fetchN = 10))
    // a positive k still serves on every path
    assert(c.query(q, 1, nprobe = 2).count() == 1)
    assert(c.queryPq(q, 1, nprobe = 2, fetchN = 10).count() == 1)
  }

  test("k <= 0 is rejected on the text read forms") {
    val c = fresh("guard-ktext", space = "cosine")
    c.addDocuments(Seq(("1", "alpha beta"), ("2", "gamma delta"))
      .toDF("id", "document"), HashingEmbedder(8))
    rejectsK(k => c.queryText(Seq("alpha"), k))
    rejectsK(k => c.queryText(Seq("alpha"), k, exact = true))
    rejectsK(k => c.queryTextStruct(Seq("alpha"), k))
    rejectsK(k => c.queryTextPq(Seq("alpha"), k))
    assert(c.queryText(Seq("alpha"), 1).count() == 1)
  }

  test("a user cell or pb column fails every IVF/PQ build and refreshIndex with one message") {
    Seq("cell", "pb").foreach { clash =>
      val c = fresh(s"guard-$clash")
      c.add(rows(0 until 20).withColumn(clash, $"id"))
      val attempts: Seq[(String, () => Unit)] = Seq(
        "buildIndex" -> (() => c.buildIndex(nlist = 2)),
        "buildIndexSeeded" -> (() => c.buildIndexSeeded(Seq("id0", "id9"))),
        "buildIndexPq" -> (() => c.buildIndexPq(m = 2, ksub = 4, nlist = 2)),
        "buildIndexPqResidual" -> (() => c.buildIndexPqResidual(m = 2, ksub = 4, nlist = 2)),
        "buildIndexPqSeeded" -> (() => pqSeeded(c)),
        "buildIndexPqResidualSeeded" -> (() =>
          c.buildIndexPqResidualSeeded(Seq("id0", "id9"), Seq("id2", "id3", "id5", "id7"), m = 2)),
        "refreshIndex" -> (() => c.refreshIndex()))
      attempts.foreach { case (what, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"collection has $clash column(s), which collide " +
          "with the index layout"), s"$what: ${e.getMessage}")
      }
      assert(!c.hasIndex)
    }
  }

  private val codesClash = "collection has a 'codes' column, which collides with the PQ index layout"

  test("a user codes column fails the four PQ builds; plain builds keep it as data") {
    val c = fresh("guard-codes")
    c.add(rows(0 until 20).withColumn("codes", $"id"))
    val pqBuilds: Seq[(String, () => Unit)] = Seq(
      "buildIndexPq" -> (() => c.buildIndexPq(m = 2, ksub = 4, nlist = 2)),
      "buildIndexPqResidual" -> (() => c.buildIndexPqResidual(m = 2, ksub = 4, nlist = 2)),
      "buildIndexPqSeeded" -> (() => pqSeeded(c)),
      "buildIndexPqResidualSeeded" -> (() =>
        c.buildIndexPqResidualSeeded(Seq("id0", "id9"), Seq("id2", "id3", "id5", "id7"), m = 2)))
    pqBuilds.foreach { case (what, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(codesClash), s"$what: ${e.getMessage}")
    }
    assert(!c.hasIndex)
    c.buildIndex(nlist = 2)
    assert(c.query(Seq(3f, 1f, 0f, 1f), 3, nprobe = 2).columns.contains("codes"))
  }

  test("a codes column gained after a PQ build fails its rebuild and its refresh") {
    val c = fresh("guard-codes-later")
    c.add(rows(0 until 20))
    pqSeeded(c)
    c.upsert(Seq(("id30", "doc 30", Seq(1f, 2f, 3f, 1f), "user"))
      .toDF("id", "document", "embedding", "codes"))
    val attempts: Seq[(String, () => Unit)] = Seq(
      "refreshIndex" -> (() => c.refreshIndex()),
      "buildIndex" -> (() => c.buildIndex(nlist = 2)),
      "buildIndexSeeded" -> (() => c.buildIndexSeeded(Seq("id0", "id9"))))
    attempts.foreach { case (what, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(codesClash), s"$what: ${e.getMessage}")
    }
    assert(!c.hasIndex, "a rejected rebuild or refresh must not commit a build")
  }
}

package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.ChromaFilter

/** The collection's PQ-coded index (buildIndexPqSeeded / queryPq): build
  * + query, prefilter semantics, layout hygiene on the plain read path,
  * and codes/codebook survival through refreshIndex and compactIndexes
  * — the two maintenance paths that rewrite builds. */
class CollectionPqSpec extends SparkTestBase {
  import spark.implicits._

  private def freshColl(name: String): Collection = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq").toString
    val c = new CollectionCatalog(spark, root, numBuckets = 4)
      .getOrCreateCollection(name, "cosine")
    c.add(spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").cast("string").as("id"), col("embedding"),
        col("label").cast("string").as("label")))
    c
  }

  private def pqBuild(c: Collection): Unit =
    c.buildIndexPqSeeded((0L until 8L).map(_.toString),
      (1L to 16L).map(_.toString), m = 8)

  test("TRAINED buildIndexPq: size-aware dials, queryPq serves, recall beats the seeded build") {
    import graft.operators.{Ann, Knn}
    val c = freshColl("pqtrained")
    c.buildIndexPq(m = 8) // ksub/nlist from the size-aware integer dials
    assert(c.hasIndex, "trained PQ build must commit")
    val emb = spark.read.parquet(sf("embeddings"))
    val qv = emb.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
    val exact = Knn.topK(
      emb.select(col("vec_id").cast("string").as("id"), col("embedding")),
      "id", "embedding", qv, 10, "cosine").select("id").as[String].collect().toSet
    // all cells probed, wide shortlist: the trained codebooks (ksub =
    // pqKsubFor(500) = 62 here vs the seeded spec's 16) must rank well
    val got = c.queryPq(qv, 10, nprobe = 64, fetchN = 100)
      .select("id").as[String].collect()
    assert(got.length == 10)
    val recall = got.count(exact.contains)
    assert(recall >= 8, s"trained-PQ recall@10 = $recall/10 — codebooks are mistrained")
  }

  test("queryHybridTextPq: both-legs-indexed hybrid equals the composed legs; loud without a PQ build") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq-hyb").toString
    val c = new CollectionCatalog(spark, root, numBuckets = 4)
      .getOrCreateCollection("hpq", "cosine")
    c.addDocuments(spark.read.parquet(sf("documents"))
      .select(col("doc_id").cast("string").as("id"), col("text").as("document")),
      graft.operators.HashingEmbedder(16))
    // the vector leg's contract holds through the hybrid: no committed PQ
    // build -> loud, never a silent exact fallback ("hash join stream"
    // is the fixture text q158/q160 prove embeds nonzero at dim 16 — a
    // two-token probe can cancel to the zero vector and trip the cosine
    // gate before the index check)
    intercept[IllegalStateException] {
      c.queryHybridTextPq("hash join stream", k = 3, fetchN = 5)
    }
    pqBuild(c)
    c.buildKeywordIndex()
    val composed = {
      val kw = c.keywordTopK(Seq("hash", "join", "stream"), 10)
        .select(col("id"), col("rnk"))
      val vr = c.queryTextPq(Seq("hash join stream"), 10, nprobe = 2, fetchN = 20)
        .select(col("id"), col("rnk"))
      graft.operators.Retrieval.rrf(Seq(kw, vr), "id", "rnk")
        .orderBy(col("rrf").desc, col("id")).limit(5)
        .collect().map(r => (r.getString(0), r.getDouble(1)))
    }
    val got = c.queryHybridTextPq("hash join stream", k = 5, fetchN = 10,
        nprobe = 2, adcFetchN = 20)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == composed.toSeq)
    assert(got.nonEmpty)
  }

  test("TRAINED buildPq is deterministic: same (corpus, seed) -> same codebooks") {
    import graft.operators.Ann
    val emb = spark.read.parquet(sf("embeddings"))
    val a = Ann.buildPq(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 32, seed = 7L)
    val b = Ann.buildPq(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 32, seed = 7L)
    assert(a.codebooks.flatten.flatten.toSeq == b.codebooks.flatten.flatten.toSeq)
    // and a different seed trains different codebooks (the sample moved)
    val c2 = Ann.buildPq(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 32, seed = 8L)
    assert(a.codebooks.flatten.flatten.toSeq != c2.codebooks.flatten.flatten.toSeq)
  }

  test("TRAINED residual buildIndexPqResidual: residual flag set, serves, recall holds") {
    import graft.operators.Knn
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq-tres").toString
    val c = new CollectionCatalog(spark, root, numBuckets = 4)
      .getOrCreateCollection("pqtrainedres", "cosine")
    c.add(spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").cast("string").as("id"), col("embedding"),
        col("label").cast("string").as("label")))
    c.buildIndexPqResidual(m = 8)
    assert(c.hasIndex)
    val emb = spark.read.parquet(sf("embeddings"))
    val qv = emb.filter(col("vec_id") === 5).select("embedding").head().getSeq[Float](0)
    val exact = Knn.topK(
      emb.select(col("vec_id").cast("string").as("id"), col("embedding")),
      "id", "embedding", qv, 10, "cosine").select("id").as[String].collect().toSet
    val got = c.queryPq(qv, 10, nprobe = 64, fetchN = 100)
      .select("id").as[String].collect()
    assert(got.length == 10)
    assert(got.count(exact.contains) >= 8,
      s"trained residual recall@10 = ${got.count(exact.contains)}/10")
    // the residual flag must ride the sidecar: a reopened catalog still
    // routes per-cell and answers identically (seeded residual spec's pin)
    val reopened = new CollectionCatalog(spark, root, numBuckets = 4)
      .getCollection("pqtrainedres").get
    assert(reopened.queryPq(qv, 3, nprobe = 64, fetchN = 50)
      .select("id").as[String].collect().toSeq ==
      got.take(3).toSeq)
  }

  test("TRAINED build survives the maintenance paths like the seeded one") {
    val c = freshColl("pqtrained2")
    c.buildIndexPq(m = 8, ksub = 32, nlist = 8)
    val qv = Seq.fill(64)(0.25f)
    val before = c.queryPq(qv, 5, nprobe = 8, fetchN = 50)
      .select("id").as[String].collect().toSeq
    c.compactIndexes()
    val after = c.queryPq(qv, 5, nprobe = 8, fetchN = 50)
      .select("id").as[String].collect().toSeq
    assert(before == after, "compaction changed trained-PQ answers")
  }

  test("build + queryPq: ADC shortlist -> exact re-rank, k rows, dist ascending") {
    val c = freshColl("pq1")
    pqBuild(c)
    val rows = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc", "dist").as[(String, Double, Double)].collect()
    assert(rows.length == 5)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
  }

  test("self-match policy: a stored query vector IS returned, at rank 1, dist +0.0 bits") {
    // Chroma's query() returns the query point when it is stored — the
    // store surface has NO self-exclusion (unlike the library Knn helpers'
    // excludeIds). Pinned with the sign bit: the exact cosine distance of
    // a float32 self-match is a tiny NEGATIVE (norm ≈ 1+ε), and the r12
    // driver gate failed 5 PQ queries because DuckDB's ROUND kept that
    // sign (−0.0) while Spark's didn't — rule 2c (roundz + oracle '+ 0.0')
    // makes both emit POSITIVE zero, structurally, not luckily.
    val c = freshColl("pqself")
    pqBuild(c)
    val qv = spark.read.parquet(sf("embeddings"))
      .filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
    val top = c.queryPq(qv, 3, nprobe = 8, fetchN = 20)
      .select("id", "dist").as[(String, Double)].collect()
    assert(top.head._1 == "3", s"stored query vector must be its own rank-1 hit: ${top.toSeq}")
    assert(java.lang.Double.doubleToRawLongBits(top.head._2) == 0L,
      f"self-match dist must be +0.0 exactly (bits 0), got ${top.head._2}%s " +
        f"(bits ${java.lang.Double.doubleToRawLongBits(top.head._2)}%x)")
    // same policy on the exact store path
    val exact = c.query(qv, 1, exact = true).select("id").as[String].collect()
    assert(exact.head == "3")
  }

  test("queryPq with a where prefilter: every hit satisfies it, applied pre-shortlist") {
    val c = freshColl("pq2")
    pqBuild(c)
    val got = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 8, fetchN = 50,
        where = Some(ChromaFilter.Eq("label", "1")))
      .select("id").as[String].collect().toSet
    assert(got.nonEmpty)
    val allowed = c.get(where = Some(ChromaFilter.Eq("label", "1")))
      .select("id").as[String].collect().toSet
    assert(got.subsetOf(allowed))
  }

  test("plain query() on a PQ-coded build neither leaks codes nor changes results") {
    val c = freshColl("pq3")
    val exact = c.query(Seq.fill(64)(0.5f), 5, exact = true)
      .select("id").as[String].collect().toSeq
    pqBuild(c)
    val viaIdx = c.query(Seq.fill(64)(0.5f), 5, nprobe = 8)
    assert(!viaIdx.columns.contains("codes"),
      s"codes leaked into query() output: ${viaIdx.columns.mkString(",")}")
    assert(viaIdx.select("id").as[String].collect().toSeq == exact)
    val viaBatch = c.queryBatch(Seq(Seq.fill(64)(0.5f)), 5, nprobe = 8)
    assert(!viaBatch.columns.contains("codes"))
  }

  test("queryPq on a plain IVF build fails loudly (no silent brute-force fallback)") {
    val c = freshColl("pq4")
    c.buildIndexSeeded((0L until 8L).map(_.toString))
    val e = intercept[IllegalStateException] {
      c.queryPq(Seq.fill(64)(0.5f), 5)
    }
    assert(e.getMessage.contains("no PQ codebooks"))
  }

  test("refreshIndex re-encodes touched buckets and carries codebooks; answers track the corpus") {
    val c = freshColl("pq5")
    pqBuild(c)
    // mutate: plant an exact copy of the query vector under a fresh id
    val qv = spark.read.parquet(sf("embeddings"))
      .filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()
    c.upsert(Seq(("planted", qv, "9")).toDF("id", "embedding", "label"))
    assert(c.refreshIndex() > 0)
    val got = c.queryPq(qv, 2, nprobe = 8, fetchN = 20)
      .select("id").as[String].collect().toSet
    // the planted twin and the original both sit at distance ~0 — the
    // refreshed codes must surface the NEW row (null codes would rank it
    // nowhere; a missing re-encode would drop the whole touched bucket)
    assert(got.contains("planted"), s"refreshed index lost the planted row: $got")
  }

  test("compactIndexes preserves the codebook sidecar and the ADC answers") {
    val c = freshColl("pq6")
    pqBuild(c)
    val before = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc").as[(String, Double)].collect().toSeq
    assert(c.compactIndexes() >= 1)
    val after = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc").as[(String, Double)].collect().toSeq
    assert(after == before)
  }

  test("a user data column named codes is rejected at PQ build, kept by plain builds") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq-codes").toString
    val c = new CollectionCatalog(spark, root, numBuckets = 4)
      .getOrCreateCollection("u", "cosine")
    c.add(spark.read.parquet(sf("embeddings")).limit(32)
      .select(col("vec_id").cast("string").as("id"), col("embedding"),
        lit("user-data").as("codes")))
    intercept[IllegalArgumentException] {
      c.buildIndexPqSeeded(Seq("0", "1"), Seq("2", "3"), m = 8)
    }
    // the plain build keeps the user column as data on the indexed read
    c.buildIndexSeeded(Seq("0", "1"))
    val viaIdx = c.query(Seq.fill(64)(0.5f), 3, nprobe = 2)
    assert(viaIdx.columns.contains("codes"),
      "plain IVF build must keep a user codes DATA column")
  }

  test("queryPq prunes the ADC scan to the probed cells at the file-listing level") {
    val c = freshColl("pq7")
    pqBuild(c)
    val df = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell") && scanLine.contains(" IN "),
      s"expected probed-cell IN filter at the listing level, got: $scanLine")
  }

  test("queryPqBatch prunes the shared codes scan to the UNION of probed cells") {
    val c = freshColl("pq12")
    pqBuild(c)
    val df = c.queryPqBatch(Seq(Seq.fill(64)(0.5f),
      (0 until 64).map(j => (j % 7).toFloat / 7f)), k = 5, nprobe = 2, fetchN = 20)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // BOTH scans in the plan (codes shortlist + embedding refine) read
    // the same pruned build — every scan line must carry the cell IN
    // filter at the file-listing level; at 100 TB this is the difference
    // between touching 2·nprobe directories and the whole corpus per batch
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.nonEmpty, "expected pruned file scans in the batch plan")
    scanLines.foreach(l => assert(l.contains("cell") && l.contains(" IN "),
      s"batch scan not cell-pruned at the listing level: $l"))
  }

  test("refreshIndex full-rebuild fallback keeps centroids AND the PQ surface") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq-fb").toString
    val c = new CollectionCatalog(spark, root, numBuckets = 4)
      .getOrCreateCollection("fb", "cosine")
    c.add(spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").cast("string").as("id"), col("embedding"),
        col("label").cast("string").as("label")))
    pqBuild(c)
    val qv = spark.read.parquet(sf("embeddings"))
      .filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()
    c.upsert(Seq(("planted", qv, "9")).toDF("id", "embedding", "label"))
    // compact makes the CURRENT version self-contained (no carries into
    // v1), then simulate an external cleanup that removed the INDEXED
    // version's data dir while the committed build survived: the refresh
    // cannot diff buckets and must take the full-rebuild fallback — which
    // keeps the prior centroids (refresh semantics, no silent re-train)
    // and the codes + codebooks (no silent PQ downgrade)
    c.compact()
    val v1 = new java.io.File(s"$root/fb/data_v000001")
    assert(v1.isDirectory, s"expected data_v000001 under $root/fb")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(v1)
    assert(c.refreshIndex() > 0)
    val got = c.queryPq(qv, 2, nprobe = 8, fetchN = 20)
      .select("id").as[String].collect().toSet
    assert(got.contains("planted"),
      s"fallback rebuild lost the PQ surface or the planted row: $got")
  }

  test("after the PQ build itself is vacuumed, queryPq stays LOUD (codebooks unrecoverable)") {
    val c = freshColl("pq10")
    pqBuild(c)
    c.upsert(Seq(("x", Seq.fill(64)(0.1f), "9")).toDF("id", "embedding", "label"))
    c.compact(); c.vacuum() // superseded index builds die with their versions
    val e = intercept[IllegalStateException] { c.queryPq(Seq.fill(64)(0.5f), 5) }
    assert(e.getMessage.contains("no committed index") ||
      e.getMessage.contains("no PQ codebooks"))
  }

  test("explicit re-train (buildIndexSeeded) re-encodes codes under the carried codebooks") {
    val c = freshColl("pq9")
    pqBuild(c)
    val before = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 8, fetchN = 50)
      .select("id").as[String].collect().toSeq
    // re-train with DIFFERENT cell seeds: a plain rebuild here used to
    // strand queryPq loudly-broken; now codes re-encode, codebooks carry
    c.buildIndexSeeded((8L until 16L).map(_.toString))
    val after = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 8, fetchN = 50)
      .select("id").as[String].collect().toSeq
    // all cells probed on both sides and codebooks identical -> the ADC
    // shortlist and exact re-rank are cell-layout-invariant
    assert(after == before)
  }

  private def pqResidualBuild(c: Collection): Unit =
    c.buildIndexPqResidualSeeded((0L until 8L).map(_.toString),
      (10L to 25L).map(_.toString), m = 8)

  test("residual build + queryPq: k rows, dist ascending, exact refine intact") {
    val c = freshColl("rpq1")
    pqResidualBuild(c)
    val rows = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc", "dist").as[(String, Double, Double)].collect()
    assert(rows.length == 5)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    assert(rows.forall(_._2 >= 0.0))
  }

  test("residual flag survives the sidecar: a reopened catalog still ADCs per-cell") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq-rflag").toString
    val c = new CollectionCatalog(spark, root, numBuckets = 4)
      .getOrCreateCollection("rf", "cosine")
    c.add(spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").cast("string").as("id"), col("embedding"),
        col("label").cast("string").as("label")))
    pqResidualBuild(c)
    val before = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc").as[(String, Double)].collect().toSeq
    // a FRESH catalog object re-reads the sidecar from disk: identical
    // answers prove the residual construction (per-cell tables) was
    // re-derived from the persisted flag, not in-memory state
    val c2 = new CollectionCatalog(spark, root, numBuckets = 4)
      .getCollection("rf").get
    val after = c2.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc").as[(String, Double)].collect().toSeq
    assert(after == before)
  }

  test("residual refresh re-encodes touched buckets as residuals; planted twin surfaces") {
    val c = freshColl("rpq2")
    pqResidualBuild(c)
    val qv = spark.read.parquet(sf("embeddings"))
      .filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()
    c.upsert(Seq(("planted", qv, "9")).toDF("id", "embedding", "label"))
    assert(c.refreshIndex() > 0)
    val got = c.queryPq(qv, 2, nprobe = 8, fetchN = 20)
      .select("id").as[String].collect().toSet
    assert(got.contains("planted"), s"residual refresh lost the planted row: $got")
  }

  test("compactIndexes preserves residual codebooks and ADC answers") {
    val c = freshColl("rpq3")
    pqResidualBuild(c)
    val before = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc").as[(String, Double)].collect().toSeq
    assert(c.compactIndexes() >= 1)
    val after = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc").as[(String, Double)].collect().toSeq
    assert(after == before)
  }

  test("residual queryPqBatch equals per-vector residual queryPq") {
    val c = freshColl("rpq4")
    pqResidualBuild(c)
    val qs = Seq(Seq.fill(64)(0.5f),
      (0 until 64).map(j => (j % 7).toFloat / 7f))
    val batch = c.queryPqBatch(qs, k = 5, nprobe = 2, fetchN = 20)
      .select("qid", "rnk", "id", "adc", "dist")
      .as[(Int, Int, String, Double, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._3, r._4, r._5)).toSeq).toMap
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = c.queryPq(q, 5, nprobe = 2, fetchN = 20)
        .select("id", "adc", "dist")
        .as[(String, Double, Double)].collect().toSeq
      assert(batch(i) == single, s"residual query $i diverges between batch and single")
    }
  }

  test("re-train (buildIndexSeeded) on a residual build keeps the surface serving") {
    val c = freshColl("rpq5")
    pqResidualBuild(c)
    val qv = spark.read.parquet(sf("embeddings"))
      .filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()
    // re-seed the cells: residual codes re-encode against the NEW
    // centroids under the carried codebooks — unlike the plain-PQ case
    // (pq9) answers are NOT layout-invariant (residuals moved), but the
    // exact refine keeps a distance-0 row on top whenever the ADC
    // shortlist retains it, and the surface must never throw
    c.buildIndexSeeded((8L until 16L).map(_.toString))
    val got = c.queryPq(qv, 2, nprobe = 8, fetchN = 50)
      .select("id", "dist").as[(String, Double)].collect()
    assert(got.length == 2)
    assert(got.head._2 <= got.last._2)
  }

  test("streaming hydration keeps a residual PQ index fresh (per-batch refresh re-encodes)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val c = freshColl("rpq6")
    pqResidualBuild(c)
    val qv = spark.read.parquet(sf("embeddings"))
      .filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()
    // stream a planted twin of the query vector through the per-batch
    // refreshing sink: the refresh must RESIDUAL-encode the touched
    // bucket (raw-encoding against residual codebooks would rank the
    // twin by garbage ADC and likely lose it from the shortlist)
    val mem = MemoryStream[(String, Seq[Float], String)]
    mem.addData(("planted", qv, "9"))
    val q = graft.streaming.StreamingHydrator.hydrateIndexed(
        mem.toDF().toDF("id", "embedding", "label"), c,
        tmpDir("rpq6-ckpt"), refreshIvf = true, refreshDoc = false,
        trigger = Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = c.queryPq(qv, 2, nprobe = 8, fetchN = 20)
      .select("id").as[String].collect().toSet
    assert(got.contains("planted"),
      s"streaming refresh lost the planted row from the residual index: $got")
  }

  test("forkCollection carries the residual PQ build: the fork answers bit-identically") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "collpq-fork").toString
    val cat = new CollectionCatalog(spark, root, numBuckets = 4)
    val c = cat.getOrCreateCollection("src", "cosine")
    c.add(spark.read.parquet(sf("embeddings"))
      .select(col("vec_id").cast("string").as("id"), col("embedding"),
        col("label").cast("string").as("label")))
    pqResidualBuild(c)
    val before = c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc", "dist").as[(String, Double, Double)].collect().toSeq
    val fork = cat.forkCollection("src", "dst")
    // the fork owns the whole dir tree — committed index build, codes
    // column, codebook sidecar AND its residual flag included
    val after = fork.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id", "adc", "dist").as[(String, Double, Double)].collect().toSeq
    assert(after == before)
    // and the fork is independent: mutating it must not touch the source
    fork.delete(ids = Seq(before.head._1))
    assert(c.queryPq(Seq.fill(64)(0.5f), 5, nprobe = 2, fetchN = 20)
      .select("id").as[String].collect().toSeq == before.map(_._1))
  }

  test("queryPqBatch per-query results equal per-vector queryPq (one scan serves the batch)") {
    val c = freshColl("pq11")
    pqBuild(c)
    val qs = Seq(Seq.fill(64)(0.5f),
      (0 until 64).map(j => (j % 7).toFloat / 7f),
      (0 until 64).map(j => 1f - (j % 5).toFloat / 5f))
    val batch = c.queryPqBatch(qs, k = 5, nprobe = 2, fetchN = 20)
      .select("qid", "rnk", "id", "adc", "dist")
      .as[(Int, Int, String, Double, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._3, r._4, r._5)).toSeq).toMap
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = c.queryPq(q, 5, nprobe = 2, fetchN = 20)
        .select("id", "adc", "dist")
        .as[(String, Double, Double)].collect().toSeq
      assert(batch(i) == single, s"query $i diverges between batch and single")
    }
  }

  test("queryPqBatch ranks each query only inside its own probed cells") {
    // two cell seeds as queries at nprobe = 1: each query's probe set is
    // its own cell, and the batch scan reads both cells — a query ranking
    // the other's cell would shortlist rows its single read never sees
    val emb = spark.read.parquet(sf("embeddings"))
    val qs = Seq(0L, 1L).map(id =>
      emb.filter(col("vec_id") === id).select("embedding").as[Seq[Float]].head())
    for ((name, build) <- Seq[(String, Collection => Unit)](
        ("pq13", pqBuild), ("rpq7", pqResidualBuild))) {
      val c = freshColl(name)
      build(c)
      val batch = c.queryPqBatch(qs, k = 5, nprobe = 1, fetchN = 20)
        .select("qid", "rnk", "id", "adc", "dist")
        .as[(Int, Int, String, Double, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(r => (r._3, r._4, r._5)).toSeq).toMap
      qs.zipWithIndex.foreach { case (q, i) =>
        val single = c.queryPq(q, 5, nprobe = 1, fetchN = 20)
          .select("id", "adc", "dist").as[(String, Double, Double)].collect().toSeq
        assert(single.nonEmpty && batch(i) == single, s"$name query $i")
      }
      assert(batch(0).map(_._1) != batch(1).map(_._1), s"$name: both queries probed one cell")
    }
  }
}

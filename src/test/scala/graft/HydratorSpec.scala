package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

class HydratorSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpRoot(): String = Files.createTempDirectory(
    java.nio.file.Paths.get("/root/repo/target"), "hyd").toString

  // wide-shape input mirroring the reference's CAS table (README.md:75)
  private lazy val widePath: String = {
    val p = tmpRoot() + "/wide"
    Seq(
      (1L, "first doc", 9.1, 0.1, 0.2, 0.3),
      (2L, "second doc", 8.2, 0.4, 0.5, 0.6),
      (3L, "third doc", 7.3, 0.7, 0.8, 0.9)
    ).toDF("doc_id", "text", "score", "emb_0", "emb_1", "emb_2")
      .write.parquet(p)
    p
  }

  private def cfg(root: String) = HydrateConfig(
    inputTable = widePath, textVar = "text", docId = "doc_id",
    embeddingPattern = "emb_", metadataColumn = Some("score"),
    collectionName = "wide", persistentPath = root, space = "cosine")

  test("full hydration: wide input -> collection, count conserved, queryable") {
    val root = tmpRoot()
    val coll = Hydrator.run(spark, cfg(root)).get
    assert(coll.count() == 3)
    val row = coll.get(ids = Seq("1")).head()
    assert(row.getAs[String]("document") == "first doc")
    assert(row.getSeq[Float](row.fieldIndex("embedding")) == Seq(0.1f, 0.2f, 0.3f))
    assert(row.getAs[Map[String, String]]("metadata")("rating") == "9.1")
    val knn = coll.query(Seq(0.1f, 0.2f, 0.3f), 2).select("id").as[String].collect()
    assert(knn.head == "1")
  }

  test("RAG composition: chunk -> embed -> hydrate -> query, end to end") {
    import graft.functions.TextAnalysis
    val root = tmpRoot()
    // chunk the corpus, attach a deterministic per-chunk "embedding"
    // (fingerprint-derived 2-dim vector — a stand-in for a model), then
    // hydrate the CHUNKS and serve kNN from the resulting collection:
    // the full pipeline every vector application runs, through our store
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa")).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(docs, "doc_id", "text", 3, 1)
      .withColumn("chunk_key", concat(col("doc_id"), lit("#"), col("chunk_id")))
      .withColumn("emb_0", (TextAnalysis.fingerprint(col("chunk_text")) % 97).cast("double"))
      .withColumn("emb_1", (TextAnalysis.fingerprint(col("chunk_text")) % 89).cast("double"))
    val p = tmpRoot() + "/chunks"
    chunks.write.parquet(p)
    val coll = Hydrator.run(spark, HydrateConfig(
      inputTable = p, textVar = "chunk_text", docId = "chunk_key",
      embeddingPattern = "emb_", metadataColumn = Some("doc_id"),
      collectionName = "rag", persistentPath = root, space = "l2")).get
    assert(coll.count() == chunks.count(), "one collection row per chunk")
    // query with chunk (1,0)'s own vector: it must come back first, and
    // its metadata must point back at the source document
    val probe = chunks.filter(col("chunk_key") === "1#0")
      .select("emb_0", "emb_1").head()
    val top = coll.query(Seq(probe.getDouble(0).toFloat, probe.getDouble(1).toFloat), 1)
    val row = top.head()
    assert(row.getAs[String]("id") == "1#0")
    assert(row.getAs[Map[String, String]]("metadata")("rating") == "1")
  }

  test("second hydration with a different embedding dim is rejected pre-commit") {
    val root = tmpRoot()
    val coll = Hydrator.run(spark, cfg(root)).get   // dim-3 collection
    val p2 = tmpRoot() + "/wide2"
    Seq((9L, "late doc", 1.0, 0.1, 0.2))            // uniform, but dim-2
      .toDF("doc_id", "text", "score", "emb_0", "emb_1")
      .write.parquet(p2)
    val e = intercept[IllegalArgumentException] {
      Hydrator.run(spark, cfg(root).copy(inputTable = p2))
    }
    assert(e.getMessage.contains("dimension"))
    assert(coll.count() == 3, "the mismatched batch must never become visible")
    // the collection still answers dim-3 queries (no ragged rows snuck in)
    assert(coll.query(Seq(0.1f, 0.2f, 0.3f), 1).select("dist")
      .filter(col("dist").isNull).count() == 0)
  }

  test("run trigger off -> no-op (sas:244-255 branch)") {
    val root = tmpRoot()
    assert(Hydrator.run(spark, cfg(root).copy(runTrigger = false)).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(root, "wide", "meta.json")))
  }

  test("validation gates report every failure, fail fast") {
    val bad = cfg(tmpRoot()).copy(textVar = "nope", docId = "also_nope",
      embeddingPattern = "zzz_", metadataColumn = Some("missing"))
    val errs = Hydrator.validate(spark, bad)
    assert(errs.size == 4)
    val e = intercept[IllegalArgumentException] { Hydrator.run(spark, bad) }
    assert(e.getMessage.contains("nope") && e.getMessage.contains("zzz_"))
  }

  test("persistentPath scheme stripping mirrors scan(ref,2,':') (A14)") {
    assert(Hydrator.resolvePersistentPath("sasserver:/data/chroma") == "/data/chroma")
    assert(Hydrator.resolvePersistentPath("/plain/path") == "/plain/path")
    assert(Hydrator.resolvePersistentPath("relative/path") == "/tmp")
    assert(Hydrator.resolvePersistentPath("srv:relative") == "/tmp")
  }

  test("catalog-name inputs resolve through the session catalog (A13)") {
    spark.read.parquet(widePath).createOrReplaceTempView("wide_view")
    val root = tmpRoot()
    val viaCatalog = cfg(root).copy(inputTable = "wide_view", collectionName = "via_cat")
    assert(Hydrator.validate(spark, viaCatalog).isEmpty)
    val coll = Hydrator.run(spark, viaCatalog).get
    assert(coll.count() == 3)
    val missing = Hydrator.validate(spark, viaCatalog.copy(inputTable = "no_such_table"))
    assert(missing.exists(_.contains("not found in the session catalog")))
  }

  test("unreadable input and bad space are validation errors, not crashes") {
    val errs = Hydrator.validate(spark,
      cfg(tmpRoot()).copy(inputTable = "/no/such/path", space = "manhattan"))
    assert(errs.exists(_.contains("unreadable")))
    assert(errs.exists(_.contains("manhattan")))
  }

  test("ragged embeddings rejected at add time (Chroma invariant)") {
    val p = tmpRoot() + "/ragged"
    Seq((1L, "a", Some(1.0), Some(2.0)), (2L, "b", Some(3.0), None))
      .toDF("doc_id", "text", "emb_0", "emb_1").write.parquet(p)
    val root = tmpRoot()
    val e = intercept[IllegalArgumentException] {
      Hydrator.run(spark, cfg(root).copy(inputTable = p, metadataColumn = None))
    }
    assert(e.getMessage.contains("ragged"))
    // the fused observe-based check rejects BEFORE the commit marker: the
    // abandoned version must never become visible to readers
    val coll = new graft.catalog.CollectionCatalog(spark, root).getCollection("wide")
    assert(coll.forall(_.count() == 0L), "ragged batch must not be served")
  }

  test("null embedding rejected at add time, pre-commit (Chroma invariant)") {
    val p = tmpRoot() + "/nullvec"
    // both wide cells null on row 2 -> assembled vector is empty, dim 0 vs 2:
    // caught as ragged; a genuinely NULL embedding needs a null array column
    Seq((1L, "a", Some(1.0), Some(2.0)), (2L, "b", None, None))
      .toDF("doc_id", "text", "emb_0", "emb_1").write.parquet(p)
    val e = intercept[IllegalArgumentException] {
      Hydrator.run(spark, cfg(tmpRoot()).copy(inputTable = p, metadataColumn = None))
    }
    assert(e.getMessage.contains("ragged") || e.getMessage.contains("null embedding"))
  }

  test("csv and json inputs hydrate through the same config path") {
    val base = tmpRoot()
    val df = Seq((1L, "csv doc", 0.1, 0.2), (2L, "csv doc 2", 0.3, 0.4))
      .toDF("doc_id", "text", "emb_0", "emb_1").coalesce(1)
    df.write.option("header", "true").csv(base + "/in_csv")
    df.write.json(base + "/in_json")
    // csv/json dirs contain part files; point at the dir with the extension hint
    val csvDir = base + "/in_csv"
    val jsonDir = base + "/in_json"
    // Spark reads a directory of csv/json parts fine; extension check is on
    // the user-supplied path, so use explicit suffixed copies
    import java.nio.file.{Files => F, Paths => P}
    import scala.jdk.CollectionConverters._
    def firstPart(dir: String, suffix: String): String =
      F.list(P.get(dir)).iterator.asScala
        .find(_.getFileName.toString.endsWith(suffix)).get.toString
    val csvCfg = HydrateConfig(
      inputTable = firstPart(csvDir, ".csv"), textVar = "text", docId = "doc_id",
      embeddingPattern = "emb_", metadataColumn = None,
      collectionName = "from_csv", persistentPath = tmpRoot())
    assert(Hydrator.run(spark, csvCfg).get.count() == 2)
    val jsonCfg = csvCfg.copy(inputTable = firstPart(jsonDir, ".json"),
      collectionName = "from_json", persistentPath = tmpRoot())
    assert(Hydrator.run(spark, jsonCfg).get.count() == 2)
  }

  test("count conservation holds across a second batch into the same collection") {
    val root = tmpRoot()
    Hydrator.run(spark, cfg(root))
    val p2 = tmpRoot() + "/more"
    Seq((10L, "tenth", 1.0, 0.5, 0.5, 0.5)).toDF("doc_id", "text", "score", "emb_0", "emb_1", "emb_2")
      .write.parquet(p2)
    val coll = Hydrator.run(spark, cfg(root).copy(inputTable = p2)).get
    assert(coll.count() == 4)
  }

  test("upsert without orderCol on a hydrated collection: MAP metadata hashes, same winner under any layout") {
    // within-batch duplicate ids; the variants differ only in row order,
    // partitioning and map insertion order
    val rows = Seq(
      ("1", "rewrite a", Seq(1f, 0f, 0f), Seq("rating" -> "1.0")),
      ("1", "rewrite b", Seq(0f, 1f, 0f), Seq("rating" -> "2.0")),
      ("1", "rewrite c", Seq(0f, 0f, 1f), Seq("rating" -> "3.0", "src" -> "cdc")),
      ("4", "new d", Seq(1f, 1f, 0f), Seq("rating" -> "4.0")),
      ("4", "new e", Seq(0f, 1f, 1f), Seq("src" -> "cdc", "rating" -> "5.0")))
    def upserted(batch: Seq[(String, String, Seq[Float], Seq[(String, String)])],
                 parts: Int): Seq[org.apache.spark.sql.Row] = {
      val coll = Hydrator.run(spark, cfg(tmpRoot())).get
      assert(coll.toDF.schema("metadata").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      coll.upsert(batch.map { case (i, d, e, m) => (i, d, e, m.toMap) }
        .toDF("id", "document", "embedding", "metadata").repartition(parts))
      assert(coll.count() == 4)
      coll.get(ids = Seq("1", "4")).select("id", "document", "embedding", "metadata")
        .orderBy("id").collect().toSeq
    }
    val a = upserted(rows, 1)
    val b = upserted(rows.reverse.map { case (i, d, e, m) => (i, d, e, m.reverse) }, 3)
    assert(a == b)
    assert(a.map(_.getString(0)) == Seq("1", "4"))
  }

  test("delta classifies insert/update/skip null-safely") {
    val cur = Seq(("1", "a", "en"), ("2", "b", null), ("3", "c", "de"))
      .toDF("id", "document", "lang")
    val inc = Seq(
      ("1", "a", "en"),   // identical -> skip
      ("2", "b", null),   // identical with null field -> skip (null-safe)
      ("3", "c", "fr"),   // lang changed -> update
      ("4", "d", "en"))   // unseen -> insert
      .toDF("id", "document", "lang")
    val out = Hydrator.delta(cur, inc, "id", Seq("document", "lang"))
      .select("id", "action").as[(String, String)].collect().toMap
    assert(out == Map("3" -> "update", "4" -> "insert"))
    // 'action' is the classification output — a payload column of that
    // name would be silently overwritten (and later dropped by sync)
    val clash = inc.withColumnRenamed("lang", "action")
    val e = intercept[IllegalArgumentException] {
      Hydrator.delta(cur.withColumnRenamed("lang", "action"), clash, "id", Seq("document"))
    }
    assert(e.getMessage.contains("action"))
  }

  test("sync applies only changes; an unchanged re-sync writes no version") {
    val root = tmpRoot()
    val cat = new graft.catalog.CollectionCatalog(spark, root, numBuckets = 4)
    val c = cat.getOrCreateCollection("inc")
    c.add(Seq(("1", "a"), ("2", "b")).toDF("id", "document"))
    val v1 = c.meta.version
    val batch = Seq(("2", "B"), ("3", "c")).toDF("id", "document")
    assert(Hydrator.sync(c, batch, Seq("document")) == (1L, 1L))
    assert(c.meta.version > v1)
    val docs = c.toDF.select("id", "document").as[(String, String)].collect().toMap
    assert(docs == Map("1" -> "a", "2" -> "B", "3" -> "c"))
    // idempotence: the same batch again brings nothing new — and the store
    // must not even write a version (re-hydration is a metadata no-op)
    val v2 = c.meta.version
    assert(Hydrator.sync(c, batch, Seq("document")) == (0L, 0L))
    assert(c.meta.version == v2, "unchanged sync must not advance the store")
  }

  test("fit-spec route: the config name fits a TF-IDF embedder on the INPUT, binding drops the params") {
    val root = tmpRoot()
    val c = Hydrator.run(spark, HydrateConfig(
      inputTable = widePath, textVar = "text", docId = "doc_id",
      embeddingPattern = "ignored", metadataColumn = None,
      collectionName = "hft", persistentPath = root,
      embeddingFunction = Some("graft-tfidf-srp-v1/8?vocab=4"))).get
    assert(c.count() == 3)
    // the recorded binding is the PLAIN name; the fitted model sits in
    // the sidecar and the vectors match a driver-side fit on the same data
    assert(c.meta.metadata("embedding_function") == "graft-tfidf-srp-v1/8")
    val ef = graft.operators.TfIdfSrpEmbedder.fit(
      spark.read.parquet(widePath), "text", dim = 8, vocabSize = 4)
    assert(c.get(ids = Seq("2")).select("embedding").head().getSeq[Float](0).toSeq
      == ef.embedOne("second doc").toSeq)
    // queryText resolves the persisted model: the exact text ranks first
    assert(c.queryText(Seq("second doc"), k = 1)
      .select("id").head().getString(0) == "2")
    // re-hydration from DIFFERENT data re-fits a different model → loud
    val other = tmpRoot() + "/other"
    Seq((9L, "totally unrelated corpus")).toDF("doc_id", "text").write.parquet(other)
    val e = intercept[IllegalArgumentException] {
      Hydrator.run(spark, HydrateConfig(
        inputTable = other, textVar = "text", docId = "doc_id",
        embeddingPattern = "", metadataColumn = None,
        collectionName = "hft", persistentPath = root,
        embeddingFunction = Some("graft-tfidf-srp-v1/8?vocab=4")))
    }
    assert(e.getMessage.contains("DIFFERS"))
    // malformed fit specs are validation errors, not crashes
    val v = Hydrator.validate(spark, HydrateConfig(
      inputTable = widePath, textVar = "text", docId = "doc_id",
      embeddingPattern = "", metadataColumn = None,
      collectionName = "x", persistentPath = root,
      embeddingFunction = Some("graft-tfidf-srp-v1/8?vocabulary=big")))
    assert(v.exists(_.contains("malformed")))
  }

  test("embedding-function route: documents-only hydration, binding + metadata map") {
    val root = tmpRoot()
    val c = Hydrator.run(spark, HydrateConfig(
      inputTable = widePath, textVar = "text", docId = "doc_id",
      embeddingPattern = "ignored", metadataColumn = Some("score"),
      collectionName = "hef", persistentPath = root,
      space = "cosine", embeddingFunction = Some("graft-hash-v1/8"))).get
    assert(c.count() == 3)
    assert(c.meta.metadata("embedding_function") == "graft-hash-v1/8")
    // vectors are the embedder's output; metadata keeps the 'rating' quirk
    val row = c.get(ids = Seq("2")).select("embedding", "metadata").head()
    assert(row.getSeq[Float](0).toSeq ==
      graft.operators.HashingEmbedder(8).embedOne("second doc").toSeq)
    assert(row.getMap[String, String](1)("rating") == "8.2")
    // queryText resolves the recorded function; exact text ranks first
    assert(c.queryText(Seq("second doc"), k = 1)
      .select("id").head().getString(0) == "2")
    // a different function against the bound collection is rejected up
    // front (the binding check fires before the dim check — this
    // collection records its function; a raw-vector collection of another
    // dim hits the dim guard instead, EmbedderSpec pins that path)
    val e = intercept[IllegalArgumentException] {
      Hydrator.run(spark, HydrateConfig(
        inputTable = widePath, textVar = "text", docId = "doc_id",
        embeddingPattern = "", metadataColumn = None,
        collectionName = "hef", persistentPath = root,
        space = "cosine", embeddingFunction = Some("graft-hash-v1/16")))
    }
    assert(e.getMessage.contains("bound to embedding function"))
    // unknown function names are validation errors, not crashes
    val v = Hydrator.validate(spark, HydrateConfig(
      inputTable = widePath, textVar = "text", docId = "doc_id",
      embeddingPattern = "", metadataColumn = None,
      collectionName = "x", persistentPath = root,
      embeddingFunction = Some("all-MiniLM-L6-v2")))
    assert(v.exists(_.contains("unknown embedding function")))
  }
}

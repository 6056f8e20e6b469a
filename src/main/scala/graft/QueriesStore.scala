package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.{Collection, CollectionCatalog}
import graft.functions.{Distances, TextAnalysis}
import graft.operators.{Ann, Assemble, ChromaFilter, Dedup, Events, HashingEmbedder, Knn, Lm, Mixture, Multimodal, Retrieval, Sketches, Skew, TfIdfSrpEmbedder}

/** SURVEY §2.D query family: the hydration projections, the Chroma
  * collection surface (add/upsert/delete/get/fork/time-travel), the plain-
  * SQL read/write surface, and storage round-trips.
  *
  * Pure code motion from the pre-r15 single-file SparkEntry (the 164/164
  * CORRECTNESS sweep is the refactoring harness — hashes unchanged);
  * [[SparkEntry]] composes the families back into the driver-contract
  * `queries`/`oracleSql` maps. Shared fixtures/helpers live in
  * [[EntryKit]].
  */
private[graft] trait QueriesStore extends EntryKit {

  private[graft] def storeQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-A10: the hydration projection itself (join + id cast + metadata map)
    "q00_hydrate" -> ((s, dir) => {
      val docs = t(s, dir, "documents"); val emb = t(s, dir, "embeddings")
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(Assemble.idAsString("doc_id"), col("text").as("document"),
          size(col("embedding")).as("dim"),
          element_at(Assemble.metadataMap("label"), "rating").as("rating"))
        .orderBy("id")
    }),
    // A1,A5,A6: scan + project + cast
    "q01_scan_project_cast" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(Assemble.idAsString("doc_id"), col("text")).orderBy("id")),
    // A2,A4: wide-pattern projection + row-wise assembly with null drop
    "q02_wide_assemble_nulldrop" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wideCols = (0 until 64).map { j =>
        when(pmod(col("vec_id") + lit(j), lit(17)) === 0, lit(null).cast("float"))
          .otherwise(element_at(col("embedding"), j + 1)).as(s"emb_$j")
      }
      val wide = emb.select(col("vec_id").as("doc_id") +: wideCols: _*)
      wide.select(col("doc_id"),
          size(Assemble.assembleVectorLike(wide, "emb_")).as("dim"))
        .orderBy("doc_id")
    }),
    // A11/B10: count
    "q03_count" -> ((s, dir) =>
      t(s, dir, "documents").agg(count(lit(1)).as("cnt"))),
    // B7 $eq (+ A5 cast)
    "q04_filter_eq" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(ChromaFilter.Eq("label", 3).toColumn)
        .select(col("vec_id").cast("string").as("id")).orderBy("id")),
    // B7 $in
    "q05_filter_in" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(ChromaFilter.In("lang", Seq("en", "es")).toColumn)
        .select("doc_id").orderBy("doc_id")),
    // B7 $gt/$lte
    "q06_filter_range" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(ChromaFilter.And(Seq(
          ChromaFilter.Gt("n_chars", 100), ChromaFilter.Lte("n_chars", 200))).toColumn)
        .select("doc_id").orderBy("doc_id")),
    // B7 $and/$or/$ne/$gte
    "q07_filter_bool" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(ChromaFilter.And(Seq(
          ChromaFilter.Or(Seq(
            ChromaFilter.Eq("lang", "en"), ChromaFilter.Ne("source", "src0"))),
          ChromaFilter.Gte("n_chars", 64))).toColumn)
        .select("doc_id").orderBy("doc_id")),
    // B8 $contains
    "q08_doc_contains" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(ChromaFilter.Contains("scan").toColumn(col("text")))
        .select("doc_id").orderBy("doc_id")),
    // B8 $not_contains
    "q09_doc_not_contains" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(ChromaFilter.NotContains("scan").toColumn(col("text")))
        .agg(count(lit(1)).as("cnt"))),
    // B5 get with limit/offset
    "q10_get_limit_offset" -> ((s, dir) =>
      t(s, dir, "documents").select("doc_id", "lang")
        .orderBy("doc_id").offset(5).limit(10)),
    // B2 upsert latest-wins
    "q17_upsert_latest_wins" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b1 = docs.select(col("doc_id"), col("text"), lit(1).as("batch"))
      val b2 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), lit(2).as("batch"))
      // latest-wins via row_number ≤ 1: Spark plans this as
      // WindowGroupLimit, which prunes every group to its top row ON THE
      // MAP SIDE before the shuffle — the scalable shape for a 100 TB
      // upsert stream. (A max_by(struct(batch, text)) agg is NOT better:
      // var-length buffers force SortAggregate, a full per-group sort.)
      val w = Window.partitionBy("doc_id").orderBy(col("batch").desc)
      b1.unionByName(b2)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("doc_id"), col("batch"), length(col("text")).as("n"))
        .orderBy("doc_id")
    }),
    // B4 delete = anti-join against an id list
    "q18_delete_antijoin" -> ((s, dir) => {
      import s.implicits._
      val doomed = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L).toDF("doc_id")
      t(s, dir, "documents").join(doomed, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    }),
    // JSONL ingest round-trip: the corpus exports to line-delimited JSON
    // (the entry format of most LLM corpora) once per scale, then the
    // query reads it back with an EXPLICIT schema (no inference pass —
    // at 100 TB schema inference is a full extra scan) and aggregates.
    // The oracle aggregates the ORIGINAL table: a hash match proves the
    // write→read loop is lossless byte-for-byte through JSON escaping
    // (newlines, quotes, CJK) — not merely self-consistent.
    "q110_jsonl_roundtrip" -> ((s, dir) => {
      val path = cachedExport(s, dir, "documents", "jsonl") { p =>
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
          .write.mode("overwrite").json(p)
      }
      s.read.schema("doc_id LONG, lang STRING, text STRING").json(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"))
        .orderBy("lang")
    }),
    // CSV ingest round-trip, q110's pattern with the quoting semantics CSV
    // adds: the fixture text has no embedded newlines/quotes/commas, so a
    // constructed `gnarly` column (comma + double-quote + newline prefix)
    // forces the writer through quoting + escape + multi-line records. The
    // oracle aggregates the ORIGINAL table with the same construction — a
    // hash match proves write→multiLine-read lossless where CSV is
    // actually hard. Same content-keyed export cache, Hadoop-FS probes.
    "q118_csv_roundtrip" -> ((s, dir) => {
      val path = cachedExport(s, dir, "documents", "csv") { p =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"),
            concat(lit("x,\"y\"\n"), col("text")).as("gnarly"))
          .write.mode("overwrite").csv(p)
      }
      s.read.schema("doc_id LONG, lang STRING, text STRING, gnarly STRING")
        .option("multiLine", "true").csv(path)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          sum(length(col("gnarly"))).cast("long").as("n_gnarly"))
        .orderBy("lang")
    }),
    // ORC ingest round-trip — the TYPED columnar sibling of q110/q118,
    // through the nested ARRAY<FLOAT> column: read back with an explicit
    // schema and aggregate with the q65 per-(label,pos) DECIMAL-mean fold
    // (pinned cross-engine at all four scales). The oracle runs the same
    // fold on the ORIGINAL parquet. NOT one whole-label element sum: the
    // per-element float→DECIMAL cast rounds differently between engines
    // on rare boundary values, and a 10⁵-element sum accumulates that
    // into the 4th decimal (measured on the sf1 replica's jittered
    // copies); per-(label,pos) means divide the same noise below ROUND(4).
    "q119_orc_roundtrip" -> ((s, dir) => {
      val path = cachedExport(s, dir, "embeddings", "orc") { p =>
        t(s, dir, "embeddings").write.mode("overwrite").orc(p)
      }
      s.read.schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT").orc(path)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          roundz(sum(col("e").cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 4).as("m"))
        .orderBy("label", "pos")
    }),
    // q66's SCALE PATH: the same BM25 top-k served through the persisted
    // keyword-stats sidecar (KeywordIndex — per-query cost O(matching
    // postings) on tp-pruned partitions, not q66's O(corpus) explode),
    // exercised THROUGH an incremental refresh (bulk add + build, then an
    // upsert slice + refreshKeywordIndex, which rebuilds only touched id
    // buckets and carries the rest by manifest). The shared score fold
    // makes the result hash-EQUAL to the scan-semantics oracle by
    // construction. Hydrate-once with the q112 fingerprint discipline.
    // The plain-Spark-SQL surface: a hydrated collection read back through
    // `spark.read.format("graft")` (RelationProvider → Spark's own parquet
    // relation over the carry-resolved snapshot leaf dirs), with a filter
    // + projection that must behave exactly like the scan-semantics
    // oracle. Pushdown (ReadSchema pruning, PushedFilters) is pinned by
    // GraftDataSourceSpec; this entry pins the VALUES end-to-end.
    "q155_dsv2_read" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      val fp = s"dsv1|$dir|tag=${fixtureTag(s, dir, "documents")}"
      cachedCollection(cat, "dsv", fp) {
        val c = cat.getOrCreateCollection("dsv")
        c.add(docs.select(col("doc_id").cast("string").as("id"),
          col("text").as("document"), col("lang"), col("n_chars")))
        c
      }
      s.read.format("graft").option("root", root).option("name", "dsv").load()
        .filter(col("lang") === "en" && col("n_chars") > 200)
        .select(col("id"), col("lang"), col("n_chars"))
        .orderBy(col("id").cast("long"))
    }),
    // The plain-Spark-SQL WRITE surface (q155's other half): hydration
    // through `df.write.format("graft")` — overwrite (create fresh), a
    // disjoint append (add gates), then an overlapping latest-wins
    // upsert — read back through the same source. Every mode routes
    // through the collection API's own commit protocol; the oracle
    // replays the final merged state from the raw table.
    "q156_dsv2_write" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      def part(m: Long) = docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("document"), col("lang"), col("n_chars"))
      part(0).write.format("graft").option("root", root).option("name", "dwr")
        .option("buckets", "8").mode("overwrite").save()
      part(1).write.format("graft").option("root", root).option("name", "dwr")
        .mode("append").save()
      docs.filter(col("doc_id") % 3 === 2 || col("doc_id") % 6 === 0)
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("document"),
          when(col("doc_id") % 6 === 0, lit("xx")).otherwise(col("lang")).as("lang"),
          col("n_chars"))
        .write.format("graft").option("root", root).option("name", "dwr")
        .mode("append").option("upsert", "true").save()
      s.read.format("graft").option("root", root).option("name", "dwr").load()
        .select(col("id"), col("lang"), col("n_chars"))
        .orderBy(col("id").cast("long"))
    }),
    // B3 update: replace non-null fields for existing ids (join + coalesce,
    // the Collection.update merge shape — null update fields leave the
    // current value in place)
    "q40_update_coalesce" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val upd = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), lit("xx").as("lang"),
          lit(null).cast("string").as("source"))
      docs.alias("c").join(upd.alias("u"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("u.lang"), col("c.lang")).as("lang"),
          coalesce(col("u.source"), col("c.source")).as("source"),
          col("c.n_chars").as("n_chars"))
        .orderBy("doc_id")
    }),
    // B1-B5 END TO END through the copy-on-write store: add a base batch,
    // upsert (replacements + inserts), delete with ids AND a typed where
    // (Chroma's AND semantics), then a filtered get reading back the
    // parquet the store wrote — the commit protocol itself is under the
    // oracle, not just scalatest.
    "q63_collection_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      // the round-trip batch is ~260 rows regardless of sf (doc_id < 260):
      // 8 id-hash buckets right-sizes the file count for the store being
      // exercised; the commit protocol is identical at any bucket count
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("rt")
      val coll = cat.getOrCreateCollection("rt")
      coll.add(docs.filter(col("doc_id") < 200)
        .select(col("doc_id").cast("string").as("id"), col("text").as("document"),
          col("lang"), col("n_chars")))
      coll.upsert(docs.filter(pmod(col("doc_id"), lit(3)) === 0 && col("doc_id") < 260)
        .select(col("doc_id").cast("string").as("id"), upper(col("text")).as("document"),
          lit("xx").as("lang"), col("n_chars")))
      coll.delete(ids = Seq("5", "10", "15", "20"),
        where = Some(ChromaFilter.Gt("n_chars", 100)))
      coll.get(where = Some(ChromaFilter.In("lang", Seq("en", "es", "xx"))))
        .select(col("id"), col("lang"), col("n_chars"),
          length(col("document")).cast("int").as("n_doc"))
    }),
    // B10 peek + B11 modify/rename under one oracle hash (VERDICT r16
    // task 6 — the last spec-only B-surface rows): a lifecycle whose
    // OUTPUT depends on every step. modifyMetadata must MERGE (stage
    // overwritten, owner added), renameCollection must carry data AND
    // metadata (the old name must stop resolving), and peek must be the
    // first-n-by-string-id page of the renamed collection. The surviving
    // metadata rides the output as a column, so a rename that dropped
    // the patch — or a peek that ordered numerically — hash-mismatches.
    "q184_collection_lifecycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("lc"); cat.deleteCollection("lc2")
      val c0 = cat.getOrCreateCollection("lc", metadata = Map("stage" -> "raw"))
      c0.add(docs.filter(col("doc_id") < 150)
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("document"), col("lang")))
      c0.modifyMetadata(Map("stage" -> "curated", "owner" -> "graft"))
      require(cat.renameCollection("lc", "lc2"), "rename must succeed")
      require(cat.getCollection("lc").isEmpty, "old name must stop resolving")
      val c = cat.getCollection("lc2").get
      require(c.meta.metadata("owner") == "graft",
        "modifyMetadata must merge, not replace")
      c.peek(12)
        .select(col("id"), col("lang"),
          length(col("document")).cast("int").as("n_doc"),
          lit(c.meta.metadata("stage")).as("stage"))
        .orderBy("id")
    }),
    // B8 SCALE PATH: `get(where_document=$contains)` served through the
    // persisted trigram-postings index (DocIndex) — candidates come from
    // the gp-pruned postings read, then the verbatim contains re-check
    // runs on the confined set, so the hash must equal the plain-scan
    // oracle. Hydrate-once with the q60 fingerprint discipline: the
    // artifact is a persistent INDEXED collection; rebuilding per call
    // would measure ingestion forever and the index path never.
    "q112_docindex_contains" -> ((s, dir) => {
      dixCollection(s, dir)
        .get(whereDoc = Some(ChromaFilter.Contains("vector table")))
        .select(col("id"), col("lang"),
          length(col("document")).cast("int").as("n_doc"))
    }),
    // B8 $regex (current chromadb parity): partial-match regex over the
    // document text, served through the SAME trigram postings build as
    // q112 — the conservative literal extractor finds the regex's
    // REQUIRED runs ('vector ', ' table'), their grams confine the scan
    // (superset prefilter), and the verbatim rlike re-check runs on the
    // confined set, so the plain-scan oracle must hash-match. The
    // pattern stays in the RE2 ∩ java.util.regex common subset and is
    // shared verbatim with the DuckDB oracle (the q167 discipline).
    "q173_docindex_regex" -> ((s, dir) => {
      dixCollection(s, dir)
        .get(whereDoc = Some(ChromaFilter.MatchesRegex("vector [a-z]+ table")))
        .select(col("id"), col("lang"),
          length(col("document")).cast("int").as("n_doc"))
    }),
    // B7×B8 COMPOSED through the store surface: one `get` combining $nin +
    // $or + numeric-vs-map comparison + a where_document AND — the
    // ChromaFilter.predicate path over MAP-typed metadata (keyResolver →
    // element_at; numeric literals take the try_cast-double route). The
    // pieces are oracled individually in q04-q09; this pins their
    // composition and the map-lookup typing rules.
    "q114_composite_filter_get" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("cf")
      val coll = cat.getOrCreateCollection("cf")
      coll.add(docs.filter(col("doc_id") < 400)
        .select(col("doc_id").cast("string").as("id"), col("text").as("document"),
          map(lit("lang"), col("lang"),
            lit("n_chars"), col("n_chars").cast("string")).as("metadata")))
      coll.get(
          where = Some(ChromaFilter.And(Seq(
            ChromaFilter.Nin("lang", Seq("de", "fr")),
            ChromaFilter.Or(Seq(
              ChromaFilter.Gt("n_chars", 150),
              ChromaFilter.Eq("lang", "en")))))),
          whereDoc = Some(ChromaFilter.AndDoc(Seq(
            ChromaFilter.Contains("table"),
            ChromaFilter.NotContains("slow")))))
        .select(col("id"),
          element_at(col("metadata"), "lang").as("lang"),
          element_at(col("metadata"), "n_chars").cast("int").as("n_chars"),
          length(col("document")).cast("int").as("n_doc"))
    }),
    // The EMBEDDING-FUNCTION surface end-to-end (the one public chromadb
    // call shape the reference never uses, sas:177-190 always passes
    // vectors): `add(documents=...)` embeds server-side inside the write
    // scan (compiled HashEmbed — portable signed feature hashing), the
    // function binding is recorded in collection metadata, and
    // `query(query_texts=...)` resolves the SAME function for the query
    // side. The oracle recomputes every stored vector AND both query
    // vectors from raw text in SQL, then replays the filtered cosine
    // top-k — so storage, binding, and both embedding paths are all
    // hash-pinned.
    "q115_embedding_function" -> ((s, dir) => {
      val docs = twide(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("ef")
      val coll = cat.getOrCreateCollection("ef", space = "cosine")
      coll.addDocuments(docs.select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang")), HashingEmbedder(16))
      coll.queryText(
          Seq("vector database search index", "streaming join throughput"),
          k = 10, where = Some(ChromaFilter.In("lang", Seq("en", "es"))))
        .select(col("qid"), col("rnk"), col("id"),
          roundz(col("dist"), 4).as("dist"), col("lang"))
        .orderBy("qid", "rnk")
    }),
    // The FITTED embedding function end-to-end (the model-based analog
    // of q115's stateless hash embedder): TF-IDF × sign-random-projection
    // is TRAINED on the corpus (document frequencies → top-32 vocabulary,
    // idf quantized to integers at fit time, per-term projection signs
    // from the portable spread hash), the model persists as the
    // collection's sidecar, documents embed through it server-side, and
    // queryText embeds the query texts with the SAME persisted model.
    // The oracle replays the ENTIRE pipeline from raw text — fit
    // (df counts, vocab cut, idf quantization, sign derivation), corpus
    // embedding, query embedding, filtered L2 top-k — value-for-value:
    // integer-exact arithmetic is what makes a trained embedder oracle-
    // checkable at all.
    "q131_fitted_embedder" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("tfx")
      val coll = cat.getOrCreateCollection("tfx") // l2: zero vectors legal
      val ef = TfIdfSrpEmbedder.fit(docs, "text", dim = 16, vocabSize = 32)
      coll.addDocuments(docs.select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang")), ef)
      coll.queryText(
          Seq("vector database search index", "streaming join throughput"),
          k = 8, where = Some(ChromaFilter.In("lang", Seq("en", "es"))))
        .select(col("qid"), col("rnk"), col("id"),
          roundz(col("dist"), 4).as("dist"), col("lang"))
        .orderBy("qid", "rnk")
    }),
    // The fitted-embedder REFIT lifecycle end-to-end: hydrate the full
    // corpus through a model fitted on HALF of it (a deliberately
    // mis-trained binding), then refit() — which re-trains on the
    // current corpus, re-embeds every stored vector in one commit, and
    // swaps sidecar + fingerprint — and query through the re-fitted
    // model. The oracle replays ONLY the post-refit state (fit on the
    // full corpus, q131's replay shape at dim 12 / vocab 24): the
    // answers can only match if the rewrite really replaced every
    // vector the old model wrote.
    "q134_refit_embedder" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("rft")
      val coll = cat.getOrCreateCollection("rft") // l2: zero vectors legal
      val efA = TfIdfSrpEmbedder.fit(
        docs.filter(col("doc_id") % 2 === 0), "text", dim = 12, vocabSize = 24)
      coll.addDocuments(docs.select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang")), efA)
      coll.refit(vocabSize = 24)
      coll.queryText(
          Seq("vector database search index", "streaming join throughput"),
          k = 6, where = Some(ChromaFilter.In("lang", Seq("en", "fr"))))
        .select(col("qid"), col("rnk"), col("id"),
          roundz(col("dist"), 4).as("dist"), col("lang"))
        .orderBy("qid", "rnk")
    }),
    // The reference's CONFIG surface driving the server-side-embedding
    // route end-to-end: HydrateConfig with `embeddingFunction` set (no
    // wide columns, pattern ignored), the A15 validation gates, the
    // documents-only projection with the reference's single-key metadata
    // map (sas:181 — key 'rating' wrapping the chosen column), count
    // conservation, then queryText through the recorded binding with a
    // metadata-map prefilter. The oracle recomputes storage + query
    // vectors from raw text and replays the filtered cosine top-k.
    "q121_hydrate_embed" -> ((s, dir) => {
      val root = verifyCollectionsRoot(dir)
      twide(s, dir, "documents").createOrReplaceTempView("q121_docs")
      val cat = new CollectionCatalog(s, root)
      cat.deleteCollection("hef")
      val coll = Hydrator.run(s, HydrateConfig(
        inputTable = "q121_docs", textVar = "text", docId = "doc_id",
        embeddingPattern = "", metadataColumn = Some("lang"),
        collectionName = "hef", persistentPath = s"sasserver:$root",
        space = "cosine", embeddingFunction = Some("graft-hash-v1/16"))).get
      coll.queryText(Seq("distributed hash join"), k = 8,
          where = Some(ChromaFilter.Eq("rating", "en")))
        .select(col("qid"), col("rnk"), col("id"),
          roundz(col("dist"), 4).as("dist"),
          element_at(col("metadata"), "rating").as("rating"))
        .orderBy("rnk")
    }),
    // Zero-copy collection FORK through the MVCC store: the fork is born
    // as a hard-linked snapshot of the source's current version, then
    // DIVERGES (upsert + delete rewrite only the fork's own buckets) while
    // the source must stay bit-identical. Both sides read back through
    // get(); the oracle replays base vs base+mutations — isolation AND
    // divergence hash-pinned.
    "q120_collection_fork" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("fk"); cat.deleteCollection("fk2")
      val src = cat.getOrCreateCollection("fk")
      src.add(docs.filter(col("doc_id") < 300).select(
        col("doc_id").cast("string").as("id"), col("text").as("document"),
        col("lang"), col("n_chars")))
      val dst = cat.forkCollection("fk", "fk2")
      dst.upsert(docs.filter(col("doc_id") < 300 && col("doc_id") % 5 === 0)
        .select(col("doc_id").cast("string").as("id"),
          upper(col("text")).as("document"), lit("xx").as("lang"), col("n_chars")))
      dst.delete(ids = Seq("7", "11"))
      src.get().select(lit("src").as("side"), col("id"), col("lang"),
          length(col("document")).cast("int").as("n_doc"))
        .unionByName(dst.get().select(lit("fork").as("side"), col("id"),
          col("lang"), length(col("document")).cast("int").as("n_doc")))
        .orderBy("side", "id")
    }),
    // Export → import ROUND TRIP through plain parquet — the interchange
    // path that moves a collection between roots/clusters. The source is
    // hydrated (ids + documents + two metadata columns), exported, then
    // imported as a NEW collection THROUGH add's invariant gates (unique
    // non-null ids, uniform dims), and the imported side is read back via
    // get() — the oracle computes the same truth straight from the
    // documents table, so any row the round trip drops, duplicates, or
    // mutates hash-mismatches.
    "q129_export_import_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("xp"); cat.deleteCollection("xp2")
      val src = cat.getOrCreateCollection("xp")
      src.add(docs.filter(col("doc_id") < 250).select(
        col("doc_id").cast("string").as("id"), col("text").as("document"),
        col("lang"), col("n_chars")))
      val expDir = s"$root/xp_export"
      val p = new org.apache.hadoop.fs.Path(expDir)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      src.export(expDir, "parquet")
      val back = cat.importCollection("xp2", expDir)
      back.get().select(col("id"), col("lang"), col("n_chars"),
          length(col("document")).cast("int").as("n_doc"))
        .orderBy("id")
    }),
    // CDC delta hydration: classify an incoming batch against current
    // contents; only real inserts/updates survive (the write an
    // incremental 100 TB pipeline would then apply — Hydrator.sync does,
    // spec-pinned; here the decision table itself is under the oracle)
    "q74_incremental_hydrate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val current = docs.filter(col("doc_id") < 200)
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("document"), col("lang"))
      val incoming = docs.filter(col("doc_id") < 260)
        .select(col("doc_id").cast("string").as("id"),
          when(pmod(col("doc_id"), lit(7)) === 0, upper(col("text")))
            .otherwise(col("text")).as("document"),
          col("lang"))
      Hydrator.delta(current, incoming, "id", Seq("document", "lang"))
        .select(col("id"), col("action")).orderBy("id")
    }),
    // MVCC time travel UNDER THE ORACLE: snapshot-read the first committed
    // version after later mutations — the snapshot must be bit-identical
    // to the original batch, unaffected by the upsert and delete that
    // followed it (the COW version dir IS the snapshot; nothing is copied)
    "q79_time_travel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("tt")
      val coll = cat.getOrCreateCollection("tt")
      coll.add(docs.filter(col("doc_id") < 150)
        .select(col("doc_id").cast("string").as("id"), col("lang"), col("n_chars")))
      val v1 = coll.meta.version
      coll.upsert(docs.filter(col("doc_id") < 180)
        .select(col("doc_id").cast("string").as("id"),
          lit("zz").as("lang"), col("n_chars")))
      coll.delete(ids = Seq("1", "2", "3"))
      coll.toDFAt(v1).select(col("id"), col("lang"), col("n_chars")).orderBy("id")
    }),
    // MVCC storage hygiene END TO END: four mutations accumulate COW
    // versions and small files; compact() repacks into a fresh commit and
    // vacuum(keepHistory=1) drops everything older than the pre-compaction
    // snapshot. The result reads BOTH surviving states — the compacted
    // current and the retained snapshot — tagged and unioned, so the
    // oracle pins that compaction changed nothing and vacuum kept exactly
    // the history it promised.
    "q81_compact_vacuum" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("cv")
      val coll = cat.getOrCreateCollection("cv")
      coll.add(docs.filter(col("doc_id") < 100)
        .select(col("doc_id").cast("string").as("id"), col("lang"), col("n_chars")))
      coll.upsert(docs.filter(col("doc_id") < 40)
        .select(col("doc_id").cast("string").as("id"), lit("aa").as("lang"), col("n_chars")))
      coll.delete(ids = Seq("7", "8"))
      coll.upsert(docs.filter(col("doc_id").between(90, 119))
        .select(col("doc_id").cast("string").as("id"), lit("bb").as("lang"), col("n_chars")))
      val snapshot = coll.meta.version
      coll.compact()
      coll.vacuum(keepHistory = 1)
      coll.get().select(lit("current").as("src"), col("id"), col("lang"), col("n_chars"))
        .unionByName(coll.toDFAt(snapshot)
          .select(lit("snapshot").as("src"), col("id"), col("lang"), col("n_chars")))
        .orderBy(col("src"), col("id").cast("long"))
    }),
    // Cross-version SCHEMA EVOLUTION through the store: batch 1 writes
    // (id, document, embedding); a later upsert introduces a NEW metadata
    // column (src) the original version never had. The union-by-name read
    // admits missing columns as NULL across the carry-manifest version
    // chain, and the evolved column is immediately filterable ($eq) and
    // pageable — the oracle computes the same truth from the documents
    // table with the same split.
    "q143_schema_evolution" -> ((s, dir) => {
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("evolve")
      val c = cat.getOrCreateCollection("evolve")
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id").cast("string").as("id"),
          coalesce(col("text"), lit("")).as("document"),
          array(col("doc_id").cast("float")).as("embedding"), col("source"))
      c.add(docs.filter(col("id").cast("long") < 150).drop("source"))
      // the evolving batch: 50 updated rows + 50 new, now WITH src
      c.upsert(docs.filter(col("id").cast("long") >= 100)
        .withColumnRenamed("source", "src"))
      // full page: pre-evolution rows read the new column as NULL; plus
      // the evolved column must FILTER (the where leg tags src5's rows)
      val tagged = c.get(where = Some(ChromaFilter.Eq("src", "src5")))
        .select(col("id"), lit(1L).as("matched_src5"))
      c.get().select(col("id"), coalesce(col("src"), lit("__pre")).as("src"))
        .join(tagged, Seq("id"), "left")
        .na.fill(0L, Seq("matched_src5"))
        .orderBy(col("id"))
    }),
    // Chroma `include=` made SCAN-real (r12 VERDICT #5): a documents+
    // metadatas get must not read a single embedding byte — at 100 TB the
    // embedding column IS the collection's bulk. GetIncludeSpec pins the
    // pruned ReadSchema; this entry hash-pins the VALUES of the projected
    // page (filter + string-ordered paging + include interplay).
    "q152_get_include" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("inc152")
      val coll = cat.getOrCreateCollection("inc152", "cosine")
      coll.add(emb.join(docs, col("vec_id") === col("doc_id"))
        .filter(col("vec_id") < 400)
        .select(col("vec_id").cast("string").as("id"), col("embedding"),
          col("text").as("document"), col("lang"), col("n_chars")))
      val page = coll.get(
        where = Some(ChromaFilter.In("lang", Seq("en", "fr"))),
        limit = Some(50),
        include = Some(Set("documents", "metadatas")))
      require(!page.columns.contains("embedding"),
        "include=[documents,metadatas] must prune the embedding column")
      page.select(col("id"), length(col("document")).cast("int").as("n_doc"),
          col("lang"), col("n_chars"))
        .orderBy(col("id"))
    }),
    // TYPED metadata on the MAP layout (r12 VERDICT #6): Chroma metadata
    // is str/int/float/bool; a migrating user carrying the dict as ONE
    // MAP<STRING,STRING> column declares per-key types once
    // (declareMetadataTypes → meta:type:* collection metadata) and the
    // key resolver try_casts lookups — $eq on an int compares as int,
    // $eq(flagged, true) works at all (a bool literal against a string
    // map value is otherwise an ANSI cast error), and unparsable stored
    // values simply don't match (Chroma's typed behavior). The flat
    // typed-column layout needs none of this — parquet types ARE the
    // declaration (q04/q06 pin that path).
    "q153_typed_metadata" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("typed153")
      val coll = cat.getOrCreateCollection("typed153")
      coll.add(docs.filter(col("doc_id") < 400)
        .select(col("doc_id").cast("string").as("id"),
          coalesce(col("text"), lit("")).as("document"),
          map(
            lit("stars"), (col("doc_id") % 5).cast("string"),
            lit("rating"), ((col("doc_id") % 100) / lit(20.0)).cast("string"),
            lit("flagged"), (col("doc_id") % 3 === 0).cast("string")
          ).as("metadata")))
      coll.declareMetadataTypes(Map(
        "stars" -> "long", "rating" -> "double", "flagged" -> "boolean"))
      coll.get(where = Some(ChromaFilter.And(Seq(
          ChromaFilter.Eq("flagged", true),
          ChromaFilter.Gt("stars", 1),
          ChromaFilter.Lte("rating", 4.0)))))
        .select(col("id"),
          element_at(col("metadata"), "stars").cast("long").as("stars"),
          roundz(element_at(col("metadata"), "rating").cast("double"), 4)
            .as("rating"),
          element_at(col("metadata"), "flagged").cast("boolean").as("flagged"))
        .orderBy(col("id"))
    }),
    // A10's missing DIRECTION — Chroma REST INGRESS: a live Chroma server
    // (faked here by a loopback JDK HttpServer speaking the public v2
    // wire shapes — heartbeat negotiation, GET collection, count, paged
    // POST get with parallel-array responses) is imported in ONE call
    // through the normal add gates, then queried. The driver does two
    // tiny calls; every page fetch runs on executors (the 100 TB-honest
    // split: the single-node server bounds throughput, never Spark).
    // The oracle replays the fixture the server serves (documents
    // doc_id < 300, lang + n_chars as typed metadata) with the composed
    // where × where_document read — proving the full wire → store →
    // query path preserves content bit-for-bit.
    "q174_rest_import" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      val fixture = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id").cast("string").as("id"), col("text"),
          col("lang"), col("n_chars").cast("long").as("n_chars"))
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3))))
        .sortBy(_._1)
      def jstr(x: String): String =
        "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def getJson(off: Int, lim: Int): String = {
        val page = fixture.slice(off, off + lim)
        "{\"ids\":[" + page.map(r => jstr(r._1)).mkString(",") +
          "],\"embeddings\":null,\"documents\":[" +
          page.map(r => if (r._2 == null) "null" else jstr(r._2)).mkString(",") +
          "],\"metadatas\":[" + page.map { r =>
            val kv = Seq(Option(r._3).map(l => "\"lang\":" + jstr(l)),
              Option(r._4).map(n => "\"n_chars\":" + n)).flatten
            kv.mkString("{", ",", "}")
          }.mkString(",") + "]}"
      }
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val path = ex.getRequestURI.getPath
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        def num(key: String): Int =
          ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(body)
            .map(_.group(1).toInt).getOrElse(0)
        val payload =
          if (path == "/api/v2/heartbeat") """{"nanosecond heartbeat": 1}"""
          else if (path.endsWith("/collections/restsrc"))
            """{"id":"rsrc-1","name":"restsrc","metadata":{"hnsw:space":"l2"}}"""
          else if (path.endsWith("/collections/rsrc-1/count")) fixture.length.toString
          else if (path.endsWith("/collections/rsrc-1/get"))
            getJson(num("offset"), num("limit"))
          else null
        val bytes = (if (payload == null) """{"error":"nope"}""" else payload)
          .getBytes(UTF_8)
        ex.sendResponseHeaders(if (payload == null) 404 else 200, bytes.length)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      })
      server.setExecutor(null)
      server.start()
      try {
        val root = verifyCollectionsRoot(dir)
        val cat = new CollectionCatalog(s, root, numBuckets = 8)
        cat.deleteCollection("restimp") // re-import each run: add forbids dup ids
        val coll = graft.sources.ChromaRestSource.importInto(cat,
          s"http://127.0.0.1:${server.getAddress.getPort}", "restsrc",
          localName = "restimp", pageSize = 64, parallelism = 4)
        coll.get(where = Some(ChromaFilter.Eq("lang", "en")),
            whereDoc = Some(ChromaFilter.Contains("vector")))
          .select(col("id"),
            element_at(col("metadata"), "lang").as("lang"),
            element_at(col("metadata"), "n_chars").cast("int").as("n_chars"),
            length(col("document")).cast("int").as("n_doc"))
          .orderBy(col("id"))
      } finally server.stop(0)
    }),
    // The FULL REST round trip — EGRESS then INGRESS under one hash:
    // ChromaRestSink.add pushes a deterministic frame (documents slice +
    // 2-dim integer-valued vectors + typed metadata) into a capturing
    // fake Chroma (batched, multi-partition, real wire JSON), the server
    // re-serves what it parsed from those add bodies through the paged
    // get() API, ChromaRestSource.importInto pulls it back through the
    // add gates, and a vector kNN runs over the re-imported embeddings.
    // The egress wire format (previously spec-only) is thereby ORACLED:
    // any drift in batchJson's floats/metadata typing, or in the ingress
    // parse, breaks the hash.
    "q180_rest_roundtrip" -> ((s, dir) => {
      import java.nio.charset.StandardCharsets.UTF_8
      import graft.operators.ChromaFilter.JsonMini
      val frame = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id").cast("string").as("id"),
          col("text").as("document"),
          array((col("doc_id") % 13 + 1).cast("float"),
            (col("doc_id") % 7 + 1).cast("float")).as("embedding"),
          col("lang"), col("n_chars"))
      val n = frame.count()
      // the capturing store: add bodies parsed with the SAME JsonMini the
      // ingress uses; executor posts arrive concurrently → synchronized
      val rows = new java.util.concurrent.CopyOnWriteArrayList[
        (String, String, Seq[Any], Map[String, Any])]()
      def jstr(x: String): String =
        "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      def mjson(v: Any): String = v match {
        case s0: String => jstr(s0)
        case other => String.valueOf(other)
      }
      def getJson(off: Int, lim: Int): String = {
        import scala.jdk.CollectionConverters._
        val page = rows.asScala.toSeq.sortBy(_._1).slice(off, off + lim)
        "{\"ids\":[" + page.map(r => jstr(r._1)).mkString(",") +
          "],\"documents\":[" +
          page.map(r => if (r._2 == null) "null" else jstr(r._2)).mkString(",") +
          "],\"embeddings\":[" + page.map(_._3.mkString("[", ",", "]")).mkString(",") +
          "],\"metadatas\":[" + page.map(r =>
            r._4.map { case (k, v) => jstr(k) + ":" + mjson(v) }
              .mkString("{", ",", "}")).mkString(",") + "]}"
      }
      def storeAdd(body: String): Unit = {
        val (parsed, end) = JsonMini.parse(body)
        JsonMini.requireEnd(end, body)
        val m = parsed.asInstanceOf[Map[String, Any]]
        val ids = m("ids").asInstanceOf[Seq[Any]].map(String.valueOf(_))
        val docs = m.get("documents").collect { case xs: Seq[_] => xs }
        val embs = m.get("embeddings").collect { case xs: Seq[_] => xs }
        val metas = m.get("metadatas").collect { case xs: Seq[_] => xs }
        ids.indices.foreach { i =>
          rows.add((ids(i),
            docs.map(_(i)).map(x => if (x == null) null else x.toString).orNull,
            embs.map(_(i).asInstanceOf[Seq[Any]]).getOrElse(Nil),
            metas.map(_(i).asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)))
        }
      }
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val path = ex.getRequestURI.getPath
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        def num(key: String): Int =
          ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(body)
            .map(_.group(1).toInt).getOrElse(0)
        val payload =
          if (path == "/api/v2/heartbeat") """{"nanosecond heartbeat": 1}"""
          else if (path.endsWith("/collections/rt-1/add")) { storeAdd(body); "true" }
          else if (path.endsWith("/collections/rt-1/count")) rows.size.toString
          else if (path.endsWith("/collections/rt-1/get"))
            getJson(num("offset"), num("limit"))
          else if (path.endsWith("/collections/restrt"))
            """{"id":"rt-1","name":"restrt","metadata":{"hnsw:space":"cosine"}}"""
          else if (path.endsWith("/collections")) // egress get_or_create
            """{"id":"rt-1","name":"restrt","metadata":{"hnsw:space":"cosine"}}"""
          else null
        val bytes = (if (payload == null) """{"error":"nope"}""" else payload)
          .getBytes(UTF_8)
        ex.sendResponseHeaders(if (payload == null) 404 else 200, bytes.length)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      })
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
      server.start()
      try {
        val url = s"http://127.0.0.1:${server.getAddress.getPort}"
        // EGRESS: real wire bodies, multi-partition, batched
        val pushed = graft.sources.ChromaRestSink.add(
          frame.repartition(3), url, "restrt", space = "cosine", batchSize = 64)
        require(pushed == n, s"egress pushed $pushed of $n rows")
        // INGRESS: one-call migration of what the server parsed + stored
        val root = verifyCollectionsRoot(dir)
        val cat = new CollectionCatalog(s, root, numBuckets = 8)
        cat.deleteCollection("restrt_local")
        val coll = graft.sources.ChromaRestSource.importInto(cat, url,
          "restrt", localName = "restrt_local", pageSize = 64, parallelism = 4)
        // the re-imported embeddings answer a vector query; metadata map
        // serves the lang column — both legs of the round trip under hash
        coll.query(Seq(1f, 1f), k = 5)
          .select(col("id"), roundz(col("dist"), 6).as("dist"),
            element_at(col("metadata"), "lang").as("lang"))
          .orderBy("dist", "id")
      } finally server.stop(0)
    }),
    // q181: the reference's stated input WIDTH made real (README.md:75
    // promises "100s or sometimes 1000s of columns"; q02 exercises 64).
    // A genuine 1,025-column parquet fixture — doc_id + emb_0..emb_1023
    // derived deterministically from the embeddings table (tiled 64-dim
    // values, every (doc_id+j)%17 position nulled) — is scanned BACK
    // from disk (the real wide-scan path: past codegen.maxFields=100
    // the columnar batch reader and whole-stage codegen both turn off)
    // and assembled through the native AssembleVector expression
    // (q02's null-drop semantics at 16× the width). Output pins the
    // null-drop count AND the survivor order (first + last element).
    "q181_wide_assemble_1k" -> ((s, dir) => {
      val path = cachedExport(s, dir, "embeddings", "wide1k") { p =>
        val emb = t(s, dir, "embeddings")
        val wideCols = (0 until 1024).map { j =>
          when(pmod(col("vec_id") + lit(j), lit(17)) === 0, lit(null).cast("float"))
            .otherwise(element_at(col("embedding"), j % 64 + 1)).as(s"emb_$j")
        }
        emb.select(col("vec_id").as("doc_id") +: wideCols: _*)
          .write.mode("overwrite").parquet(p)
      }
      val w = s.read.parquet(path)
      val names = Assemble.columnsLike(w, "emb_")
      require(names.length == 1024, s"wide1k fixture lost columns: ${names.length}")
      // pinSort: the sort's sampling pass would otherwise re-run the
      // 1025-column scan + wide assembly; the pinned frame is 4 narrow
      // columns (EntryKit.pinSort)
      pinSort(w.select(col("doc_id"), Assemble.assembleVector(names).as("vec"))
        .select(col("doc_id"), size(col("vec")).as("dim"),
          element_at(col("vec"), 1).as("v_first"),
          element_at(col("vec"), size(col("vec"))).as("v_last")))
        .orderBy("doc_id")
    }),
    // q182: the SERVED query path under the oracle hash — the engine as
    // the Chroma server (VERDICT r16 task 4, the last wire-parity
    // quadrant). A fingerprint-cached collection (documents ⋈ embeddings
    // with lang metadata) is served by ChromaRestServer over loopback
    // HTTP, and the engine's own wire client (queryRemote) runs a
    // metadata-prefiltered batch kNN THROUGH the served
    // /collections/{id}/query route: request JSON (query_embeddings +
    // wire-grammar where) → server-side queryStruct (the collection's
    // own IVF-eligible plan) → nested-array response → client parse.
    // Distances ride the wire as shortest-roundtrip doubles (the q180
    // property), so the hash is bit-identical to a local query — any
    // asymmetry in EITHER wire direction breaks it.
    "q182_served_knn" -> ((s, dir) => {
      val docs = t(s, dir, "documents"); val emb = t(s, dir, "embeddings")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      val fp = s"srv1|$dir|tag=${fixtureTag(s, dir, "documents")}"
      cachedCollection(cat, "served", fp) {
        val c = cat.getOrCreateCollection("served", space = "l2")
        c.add(docs.join(emb, col("doc_id") === col("vec_id"))
          .select(col("doc_id").cast("string").as("id"),
            col("text").as("document"), col("embedding"),
            map(lit("lang"), col("lang")).as("metadata")))
        c
      }
      val srv = graft.sources.ChromaRestServer.serve(cat)
      try {
        graft.sources.ChromaRestSource.queryRemote(s, srv.baseUrl, "served",
            Seq(headVec(emb, 0), headVec(emb, 7)), k = 10,
            whereJson = Some("""{"lang": {"$in": ["en", "fr"]}}"""))
          .select(col("qid"), col("rnk"), col("id"),
            roundz(col("dist"), 6).as("dist"),
            element_at(col("metadata"), "lang").as("lang"))
          .orderBy("qid", "rnk")
      } finally srv.stop()
    }),
  )

  private[graft] def storeOracles: Map[String, String] = Map(
    // q180: wire-format conservation — the embeddings are integer-valued
    // 2-dim vectors, exactly representable through the JSON float round
    // trip, so the cosine kNN replay over the SOURCE expression must
    // hash-match the query over the re-imported store; lang rides the
    // typed-metadata leg. Rank ties break by id ascending (string).
    "q180_rest_roundtrip" -> {
      val qv = "[1.0, 1.0]"
      s"""WITH e AS (SELECT CAST(doc_id AS VARCHAR) AS id, lang,
         |             [CAST(doc_id % 13 + 1 AS DOUBLE),
         |              CAST(doc_id % 7 + 1 AS DOUBLE)] AS v
         |           FROM documents WHERE doc_id < 300),
         |d AS (SELECT id, lang, ${sqlCos("e.v", qv)} AS dist FROM e),
         |r AS (SELECT id, lang, dist,
         |        ROW_NUMBER() OVER (ORDER BY dist, id) AS rnk FROM d)
         |SELECT id, ROUND(dist, 6) + 0.0 AS dist, lang
         |FROM r WHERE rnk <= 5 ORDER BY dist, id""".stripMargin
    },
    // q174: the serve → negotiate → page → parse → add → get pipeline
    // must be CONTENT-PRESERVING, so the fixture the fake server reads
    // from the documents table IS the oracle corpus; the composed
    // where (map metadata) × where_document replays as plain predicates.
    "q174_rest_import" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang,
        |CAST(n_chars AS INTEGER) AS n_chars,
        |CAST(length(text) AS INTEGER) AS n_doc
        |FROM documents
        |WHERE doc_id < 300 AND lang = 'en' AND contains(text, 'vector')
        |ORDER BY id""".stripMargin,
    "q00_hydrate" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, text AS document,
        |CAST(len(embedding) AS INTEGER) AS dim, CAST(label AS VARCHAR) AS rating
        |FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY id""".stripMargin,
    "q01_scan_project_cast" ->
      "SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents ORDER BY id",
    "q02_wide_assemble_nulldrop" ->
      """SELECT vec_id AS doc_id,
        |CAST(len(list_filter(list_transform(range(64),
        |  j -> CASE WHEN (vec_id + j) % 17 = 0 THEN NULL ELSE embedding[j+1] END),
        |  x -> x IS NOT NULL)) AS INTEGER) AS dim
        |FROM embeddings ORDER BY doc_id""".stripMargin,
    "q03_count" -> "SELECT COUNT(*) AS cnt FROM documents",
    "q04_filter_eq" ->
      "SELECT CAST(vec_id AS VARCHAR) AS id FROM embeddings WHERE label = 3 ORDER BY id",
    "q05_filter_in" ->
      "SELECT doc_id FROM documents WHERE lang IN ('en', 'es') ORDER BY doc_id",
    "q06_filter_range" ->
      "SELECT doc_id FROM documents WHERE n_chars > 100 AND n_chars <= 200 ORDER BY doc_id",
    "q07_filter_bool" ->
      """SELECT doc_id FROM documents
        |WHERE (lang = 'en' OR source <> 'src0') AND n_chars >= 64 ORDER BY doc_id""".stripMargin,
    "q08_doc_contains" ->
      "SELECT doc_id FROM documents WHERE contains(text, 'scan') ORDER BY doc_id",
    "q09_doc_not_contains" ->
      "SELECT COUNT(*) AS cnt FROM documents WHERE NOT contains(text, 'scan')",
    "q10_get_limit_offset" ->
      "SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 10 OFFSET 5",
    "q17_upsert_latest_wins" ->
      """WITH b1 AS (SELECT doc_id, text, 1 AS batch FROM documents),
        |b2 AS (SELECT doc_id, upper(text) AS text, 2 AS batch FROM documents WHERE doc_id % 3 = 0),
        |u AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY batch DESC) AS rn
        |      FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2))
        |SELECT doc_id, batch, CAST(length(text) AS INTEGER) AS n
        |FROM u WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q18_delete_antijoin" ->
      """SELECT COUNT(*) AS cnt, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents WHERE doc_id NOT IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)""".stripMargin,
    // q110: the oracle reads the ORIGINAL table — matching the Spark
    // side's export→import aggregate proves the JSONL loop lossless
    "q110_jsonl_roundtrip" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // q118/q119: the oracle aggregates the ORIGINAL table — the engine
    // side aggregates after a csv/orc write→read loop, so matching hashes
    // prove the loop lossless (quoting/escape/multi-line for CSV; nested
    // array-of-float bits for ORC).
    "q118_csv_roundtrip" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |       CAST(SUM(length('x,"y"' || chr(10) || text)) AS BIGINT) AS n_gnarly
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q119_orc_roundtrip" ->
      """SELECT label, i AS pos, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(embedding[CAST(i+1 AS INTEGER)] AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(*), 4) + 0.0 AS m
        |FROM embeddings, range(64) t(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    // q154: the keyword-SIDECAR path must hash-match the plain scan — same
    // corpus, same scan-semantics oracle as q66, with the store's STRING
    // ids (rank ties therefore break on VARCHAR order in both engines)
    // q155: format("graft") read ≡ the collection's content (scan
    // semantics over the hydrated columns)
    "q155_dsv2_read" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars > 200 ORDER BY doc_id""".stripMargin,
    // q156: the final merged state after overwrite + append + overlapping
    // upsert through df.write.format("graft") — replayed from the raw
    // table (the %6==0 slice carries the upsert's replaced lang)
    "q156_dsv2_write" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |       CASE WHEN doc_id % 6 = 0 THEN 'xx' ELSE lang END AS lang,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q40_update_coalesce" ->
      """SELECT c.doc_id AS doc_id, COALESCE(u.lang, c.lang) AS lang,
        |COALESCE(u.source, c.source) AS source, c.n_chars AS n_chars
        |FROM documents c LEFT JOIN
        |  (SELECT doc_id, 'xx' AS lang, CAST(NULL AS VARCHAR) AS source
        |   FROM documents WHERE doc_id % 7 = 0) u
        |  ON c.doc_id = u.doc_id
        |ORDER BY doc_id""".stripMargin,
    // q131: the FITTED embedder replayed from raw text — fit (per-doc
    // distinct tokens → df → top-32 vocab by (df DESC, t ASC) → idfQ =
    // round(1000·(ln((N+1)/(df+1))+1)) → signs = parity of the spread of
    // strHash(t)·(j+1)+j), per-occurrence Σ idfQ·sign corpus/query
    // embedding, lang-filtered squared-L2 top-8 with (dist, id) ties.
    "q131_fitted_embedder" -> {
      val th = sqlStrHash("v.t")
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
         |dtok AS (SELECT doc_id, unnest(list_distinct(list_filter(
         |           string_split_regex(lower(text), '\\s+'), x -> length(x) > 0))) AS t
         |         FROM documents),
         |dfreq AS (SELECT t, COUNT(*) AS c FROM dtok GROUP BY t),
         |vocab AS (SELECT t, CAST(ROUND(1000 * (LN((n + 1.0) / (c + 1.0)) + 1.0)) AS BIGINT) AS w
         |          FROM dfreq, nn ORDER BY c DESC, t LIMIT 32),
         |axes AS (SELECT unnest(range(16)) AS j),
         |signs AS MATERIALIZED (SELECT v.t, v.w, a.j,
         |          CASE WHEN (((($th * (a.j + 1) + a.j) % 2147483647)
         |                      * 2654435761) % 1000000007) % 2 = 0
         |               THEN 1 ELSE -1 END AS s
         |          FROM vocab v CROSS JOIN axes a),
         |toks AS (SELECT doc_id, tm AS t FROM
         |           (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tm
         |            FROM documents) WHERE length(tm) > 0),
         |comp AS (SELECT k.doc_id, g.j, SUM(g.w * g.s) AS val
         |         FROM toks k JOIN signs g ON g.t = k.t GROUP BY k.doc_id, g.j),
         |grid AS (SELECT d.doc_id, a.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d CROSS JOIN axes a),
         |vecs AS (SELECT g.doc_id, list(CAST(COALESCE(c2.val, 0) AS DOUBLE) ORDER BY g.j) AS v
         |         FROM grid g LEFT JOIN comp c2 ON c2.doc_id = g.doc_id AND c2.j = g.j
         |         GROUP BY g.doc_id),
         |qt AS (SELECT * FROM (VALUES (0, 'vector database search index'),
         |                             (1, 'streaming join throughput')) AS q(qid, qtext)),
         |qtoks AS (SELECT qid, tm AS t FROM
         |            (SELECT qid, unnest(string_split_regex(lower(qtext), '\\s+')) AS tm
         |             FROM qt) WHERE length(tm) > 0),
         |qcomp AS (SELECT k.qid, g.j, SUM(g.w * g.s) AS val
         |          FROM qtoks k JOIN signs g ON g.t = k.t GROUP BY k.qid, g.j),
         |qgrid AS (SELECT qq.qid, a.j FROM (SELECT DISTINCT qid FROM qt) qq CROSS JOIN axes a),
         |qvecs AS (SELECT g.qid, list(CAST(COALESCE(c2.val, 0) AS DOUBLE) ORDER BY g.j) AS qv
         |          FROM qgrid g LEFT JOIN qcomp c2 ON c2.qid = g.qid AND c2.j = g.j
         |          GROUP BY g.qid),
         |cd AS (SELECT q.qid, v.doc_id, d.lang, ${sqlL2("v.v", "q.qv")} AS dist_raw
         |       FROM vecs v JOIN documents d ON d.doc_id = v.doc_id
         |       CROSS JOIN qvecs q WHERE d.lang IN ('en', 'es')),
         |r AS (SELECT qid, doc_id, lang, dist_raw, ROW_NUMBER() OVER
         |        (PARTITION BY qid ORDER BY dist_raw, CAST(doc_id AS VARCHAR)) AS rnk
         |      FROM cd)
         |SELECT qid, rnk, CAST(doc_id AS VARCHAR) AS id,
         |       ROUND(dist_raw, 4) + 0.0 AS dist, lang
         |FROM r WHERE rnk <= 8 ORDER BY qid, rnk""".stripMargin
    },
    // q134: the post-REFIT state replayed from scratch — the oracle fits
    // ONLY the final model (full corpus, dim 12, vocab 24, the exact
    // integer pipeline of q131) and never sees the half-corpus model the
    // engine hydrated with: the replay can only match if refit()'s
    // rewrite replaced every vector the old model wrote.
    "q134_refit_embedder" -> {
      val th = sqlStrHash("v.t")
      s"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
         |dtok AS (SELECT doc_id, unnest(list_distinct(list_filter(
         |           string_split_regex(lower(text), '\\s+'), x -> length(x) > 0))) AS t
         |         FROM documents),
         |dfreq AS (SELECT t, COUNT(*) AS c FROM dtok GROUP BY t),
         |vocab AS (SELECT t, CAST(ROUND(1000 * (LN((n + 1.0) / (c + 1.0)) + 1.0)) AS BIGINT) AS w
         |          FROM dfreq, nn ORDER BY c DESC, t LIMIT 24),
         |axes AS (SELECT unnest(range(12)) AS j),
         |signs AS MATERIALIZED (SELECT v.t, v.w, a.j,
         |          CASE WHEN (((($th * (a.j + 1) + a.j) % 2147483647)
         |                      * 2654435761) % 1000000007) % 2 = 0
         |               THEN 1 ELSE -1 END AS s
         |          FROM vocab v CROSS JOIN axes a),
         |toks AS (SELECT doc_id, tm AS t FROM
         |           (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tm
         |            FROM documents) WHERE length(tm) > 0),
         |comp AS (SELECT k.doc_id, g.j, SUM(g.w * g.s) AS val
         |         FROM toks k JOIN signs g ON g.t = k.t GROUP BY k.doc_id, g.j),
         |grid AS (SELECT d.doc_id, a.j
         |         FROM (SELECT DISTINCT doc_id FROM documents) d CROSS JOIN axes a),
         |vecs AS (SELECT g.doc_id, list(CAST(COALESCE(c2.val, 0) AS DOUBLE) ORDER BY g.j) AS v
         |         FROM grid g LEFT JOIN comp c2 ON c2.doc_id = g.doc_id AND c2.j = g.j
         |         GROUP BY g.doc_id),
         |qt AS (SELECT * FROM (VALUES (0, 'vector database search index'),
         |                             (1, 'streaming join throughput')) AS q(qid, qtext)),
         |qtoks AS (SELECT qid, tm AS t FROM
         |            (SELECT qid, unnest(string_split_regex(lower(qtext), '\\s+')) AS tm
         |             FROM qt) WHERE length(tm) > 0),
         |qcomp AS (SELECT k.qid, g.j, SUM(g.w * g.s) AS val
         |          FROM qtoks k JOIN signs g ON g.t = k.t GROUP BY k.qid, g.j),
         |qgrid AS (SELECT qq.qid, a.j FROM (SELECT DISTINCT qid FROM qt) qq CROSS JOIN axes a),
         |qvecs AS (SELECT g.qid, list(CAST(COALESCE(c2.val, 0) AS DOUBLE) ORDER BY g.j) AS qv
         |          FROM qgrid g LEFT JOIN qcomp c2 ON c2.qid = g.qid AND c2.j = g.j
         |          GROUP BY g.qid),
         |cd AS (SELECT q.qid, v.doc_id, d.lang, ${sqlL2("v.v", "q.qv")} AS dist_raw
         |       FROM vecs v JOIN documents d ON d.doc_id = v.doc_id
         |       CROSS JOIN qvecs q WHERE d.lang IN ('en', 'fr')),
         |r AS (SELECT qid, doc_id, lang, dist_raw, ROW_NUMBER() OVER
         |        (PARTITION BY qid ORDER BY dist_raw, CAST(doc_id AS VARCHAR)) AS rnk
         |      FROM cd)
         |SELECT qid, rnk, CAST(doc_id AS VARCHAR) AS id,
         |       ROUND(dist_raw, 4) + 0.0 AS dist, lang
         |FROM r WHERE rnk <= 6 ORDER BY qid, rnk""".stripMargin
    },
    // q63: replays the whole store round-trip relationally — upsert =
    // batch ∪ (base anti batch); delete = NOT (ids AND where); get = the
    // final filtered state, id-ordered (string order, the store's id type).
    "q63_collection_roundtrip" ->
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, text AS document, lang, n_chars
        |              FROM documents WHERE doc_id < 200),
        |ups AS (SELECT CAST(doc_id AS VARCHAR) AS id, upper(text) AS document,
        |               'xx' AS lang, n_chars
        |        FROM documents WHERE doc_id % 3 = 0 AND doc_id < 260),
        |merged AS (SELECT * FROM ups UNION ALL
        |           SELECT b.* FROM base b WHERE b.id NOT IN (SELECT id FROM ups)),
        |kept AS (SELECT * FROM merged
        |         WHERE NOT (id IN ('5', '10', '15', '20') AND n_chars > 100))
        |SELECT id, lang, n_chars, CAST(length(document) AS INTEGER) AS n_doc
        |FROM kept WHERE lang IN ('en', 'es', 'xx') ORDER BY id""".stripMargin,
    // q184: peek = first-n by STRING id of the post-rename collection;
    // 'curated' is the literal the merged-then-renamed metadata must
    // still carry (any lifecycle step dropping it changes the hash)
    "q184_collection_lifecycle" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang,
        |CAST(length(text) AS INTEGER) AS n_doc, 'curated' AS stage
        |FROM documents WHERE doc_id < 150
        |ORDER BY id LIMIT 12""".stripMargin,
    // q112: the postings-INDEX path must hash-match the plain scan — the
    // index is a superset prefilter + verbatim re-check by construction,
    // so the oracle is simply the linear-scan semantics.
    "q112_docindex_contains" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang,
        |CAST(length(text) AS INTEGER) AS n_doc
        |FROM documents WHERE contains(text, 'vector table') ORDER BY id""".stripMargin,
    // q173: same discipline for $regex — the postings index is a superset
    // prefilter (required-literal grams) + verbatim re-check, so linear
    // regexp scan semantics ARE the oracle; the pattern is shared
    // verbatim (RE2-compatible, partial match on both engines).
    "q173_docindex_regex" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang,
        |CAST(length(text) AS INTEGER) AS n_doc
        |FROM documents WHERE regexp_matches(text, 'vector [a-z]+ table')
        |ORDER BY id""".stripMargin,
    // q114: the composed B7×B8 predicate through Collection.get over
    // MAP-typed metadata. The map stores n_chars as a STRING; the numeric
    // $gt literal makes the engine try_cast both sides to double, which
    // on integer-valued strings is exactly the native integer comparison
    // replayed here.
    "q114_composite_filter_get" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang,
        |CAST(n_chars AS INTEGER) AS n_chars,
        |CAST(length(text) AS INTEGER) AS n_doc
        |FROM documents
        |WHERE doc_id < 400 AND NOT lang IN ('de', 'fr')
        |  AND (n_chars > 150 OR lang = 'en')
        |  AND contains(text, 'table') AND NOT contains(text, 'slow')
        |ORDER BY id""".stripMargin,
    // q115: the server-side embedding function replayed from RAW TEXT on
    // both the storage and the query side — signed feature hashing
    // (bucket = strhash % 16, sign = parity of strhash // 16) built into
    // per-doc vectors via a dense (doc × bucket) grid, then the filtered
    // cosine top-k. Vector values are integral counts, so the engine's
    // float32 storage and this DOUBLE replay agree bit-for-bit.
    "q115_embedding_function" -> {
      val hash = sqlStrHash("tm")
      s"""WITH qt AS (SELECT * FROM (VALUES (0, 'vector database search index'),
         |                                  (1, 'streaming join throughput')) AS q(qid, qtext)),
         |toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tm
         |         FROM documents),
         |tk AS (SELECT doc_id, $hash AS h FROM toks WHERE length(tm) > 0),
         |sums AS (SELECT doc_id, CAST(h % 16 AS INTEGER) AS b,
         |                SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |         FROM tk GROUP BY doc_id, b),
         |grid AS (SELECT dd.doc_id, bb.b FROM (SELECT DISTINCT doc_id FROM documents) dd
         |         CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |vecs AS (SELECT g.doc_id, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS v
         |         FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.b
         |         GROUP BY g.doc_id),
         |qtoks AS (SELECT qid, unnest(string_split_regex(lower(qtext), '\\s+')) AS tm FROM qt),
         |qtk AS (SELECT qid, $hash AS h FROM qtoks WHERE length(tm) > 0),
         |qsums AS (SELECT qid, CAST(h % 16 AS INTEGER) AS b,
         |                 SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |          FROM qtk GROUP BY qid, b),
         |qgrid AS (SELECT qq.qid, bb.b FROM (SELECT DISTINCT qid FROM qt) qq
         |          CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |qvecs AS (SELECT g.qid, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS qv
         |          FROM qgrid g LEFT JOIN qsums s ON s.qid = g.qid AND s.b = g.b
         |          GROUP BY g.qid),
         |cd AS (SELECT q.qid, v.doc_id, d.lang, ${sqlCos("v.v", "q.qv")} AS dist_raw
         |       FROM vecs v JOIN documents d ON d.doc_id = v.doc_id
         |       CROSS JOIN qvecs q WHERE d.lang IN ('en', 'es')),
         |r AS (SELECT qid, doc_id, lang, dist_raw, ROW_NUMBER() OVER
         |        (PARTITION BY qid ORDER BY dist_raw, CAST(doc_id AS VARCHAR)) AS rnk
         |      FROM cd)
         |SELECT qid, rnk, CAST(doc_id AS VARCHAR) AS id,
         |       ROUND(dist_raw, 4) + 0.0 AS dist, lang
         |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
    },
    // q121: the Hydrator's embedding-function route — same signed
    // feature-hash replay as q115, one query text, metadata-map ('rating'
    // wraps lang, the reference's single-key quirk) prefilter.
    "q121_hydrate_embed" -> {
      val hash = sqlStrHash("tm")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tm
         |              FROM documents),
         |tk AS (SELECT doc_id, $hash AS h FROM toks WHERE length(tm) > 0),
         |sums AS (SELECT doc_id, CAST(h % 16 AS INTEGER) AS b,
         |                SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |         FROM tk GROUP BY doc_id, b),
         |grid AS (SELECT dd.doc_id, bb.b FROM (SELECT DISTINCT doc_id FROM documents) dd
         |         CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |vecs AS (SELECT g.doc_id, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS v
         |         FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.b
         |         GROUP BY g.doc_id),
         |qtoks AS (SELECT unnest(string_split_regex(lower('distributed hash join'), '\\s+')) AS tm),
         |qtk AS (SELECT $hash AS h FROM qtoks WHERE length(tm) > 0),
         |qsums AS (SELECT CAST(h % 16 AS INTEGER) AS b,
         |                 SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |          FROM qtk GROUP BY b),
         |qvec AS (SELECT list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY bb.b) AS qv
         |         FROM (SELECT unnest(range(16)) AS b) bb
         |         LEFT JOIN qsums s ON s.b = bb.b),
         |cd AS (SELECT v.doc_id, d.lang, ${sqlCos("v.v", "q.qv")} AS dist_raw
         |       FROM vecs v JOIN documents d ON d.doc_id = v.doc_id
         |       CROSS JOIN qvec q WHERE d.lang = 'en'),
         |r AS (SELECT doc_id, lang, dist_raw, ROW_NUMBER() OVER
         |        (ORDER BY dist_raw, CAST(doc_id AS VARCHAR)) AS rnk FROM cd)
         |SELECT 0 AS qid, rnk, CAST(doc_id AS VARCHAR) AS id,
         |       ROUND(dist_raw, 4) + 0.0 AS dist, lang AS rating
         |FROM r WHERE rnk <= 8 ORDER BY rnk""".stripMargin
    },
    // q120: fork isolation + divergence — 'src' rows are the untouched
    // base, 'fork' rows are base with the upsert applied and two ids
    // deleted.
    "q120_collection_fork" ->
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, text, lang
        |              FROM documents WHERE doc_id < 300),
        |ups AS (SELECT CAST(doc_id AS VARCHAR) AS id, upper(text) AS text,
        |               'xx' AS lang
        |        FROM documents WHERE doc_id < 300 AND doc_id % 5 = 0),
        |forked AS (SELECT * FROM ups UNION ALL
        |           SELECT b.* FROM base b WHERE b.id NOT IN (SELECT id FROM ups)),
        |fkept AS (SELECT * FROM forked WHERE id NOT IN ('7', '11'))
        |SELECT 'src' AS side, id, lang, CAST(length(text) AS INTEGER) AS n_doc FROM base
        |UNION ALL
        |SELECT 'fork' AS side, id, lang, CAST(length(text) AS INTEGER) AS n_doc FROM fkept
        |ORDER BY side, id""".stripMargin,
    // q129: export→import round trip — the imported collection must equal
    // the source-side truth computed directly from the documents table.
    "q129_export_import_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang, n_chars,
        |       CAST(length(text) AS INTEGER) AS n_doc
        |FROM documents WHERE doc_id < 250 ORDER BY id""".stripMargin,
    // q143: schema evolution replayed — rows written before the column
    // existed read '__pre' (NULL coalesced); the evolved column filters
    // ($eq src5) exactly like a born-with column
    "q143_schema_evolution" ->
      """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS n, source
        |           FROM documents WHERE doc_id < 200)
        |SELECT id,
        |       CASE WHEN n >= 100 THEN source ELSE '__pre' END AS src,
        |       CAST(CASE WHEN n >= 100 AND source = 'src5' THEN 1 ELSE 0 END AS BIGINT)
        |         AS matched_src5
        |FROM d ORDER BY id""".stripMargin,
    "q74_incremental_hydrate" ->
      """WITH cur AS (SELECT CAST(doc_id AS VARCHAR) AS id, text AS document, lang
        |             FROM documents WHERE doc_id < 200),
        |inc AS (SELECT CAST(doc_id AS VARCHAR) AS id,
        |          CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS document, lang
        |        FROM documents WHERE doc_id < 260)
        |SELECT inc.id AS id, CASE WHEN cur.id IS NULL THEN 'insert' ELSE 'update' END AS action
        |FROM inc LEFT JOIN cur ON inc.id = cur.id
        |WHERE cur.id IS NULL OR inc.document IS DISTINCT FROM cur.document
        |   OR inc.lang IS DISTINCT FROM cur.lang
        |ORDER BY id""".stripMargin,
    // q79: the snapshot equals the first batch, full stop — the later
    // upsert/delete must be invisible to the versioned read
    "q79_time_travel" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang, n_chars FROM documents
        |WHERE doc_id < 150 ORDER BY id""".stripMargin,
    // q81: the mutation sequence replayed relationally; the same final
    // state appears TWICE (current after compact+vacuum, and the retained
    // pre-compaction snapshot) because compaction must not change content
    "q81_compact_vacuum" ->
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS n, lang, n_chars
        |              FROM documents WHERE doc_id < 100),
        |u1 AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS n, 'aa' AS lang, n_chars
        |       FROM documents WHERE doc_id < 40),
        |m1 AS (SELECT * FROM u1 UNION ALL SELECT b.* FROM base b WHERE b.n >= 40),
        |m2 AS (SELECT * FROM m1 WHERE id NOT IN ('7', '8')),
        |u2 AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS n, 'bb' AS lang, n_chars
        |       FROM documents WHERE doc_id BETWEEN 90 AND 119),
        |fin AS (SELECT id, n, lang, n_chars FROM u2
        |        UNION ALL SELECT m2.* FROM m2 WHERE m2.n < 90)
        |SELECT s.src, fin.id, fin.lang, fin.n_chars
        |FROM fin, (SELECT 'current' AS src UNION ALL SELECT 'snapshot') s
        |ORDER BY s.src, fin.n""".stripMargin,
    // q152: include=[documents,metadatas] page replay — filter, then the
    // STRING-ordered id paging (the store keys by string), then the
    // projected families; the embedding never appears (and GetIncludeSpec
    // pins that the engine never even reads it)
    "q152_get_include" ->
      """SELECT * FROM (
        |  SELECT CAST(e.vec_id AS VARCHAR) AS id,
        |         CAST(length(d.text) AS INTEGER) AS n_doc,
        |         d.lang, d.n_chars
        |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        |  WHERE e.vec_id < 400 AND d.lang IN ('en', 'fr')
        |  ORDER BY CAST(e.vec_id AS VARCHAR) LIMIT 50)
        |ORDER BY id""".stripMargin,
    // q153: the typed-metadata predicate replayed on the GENERATING
    // arithmetic (stars = doc_id%5, rating = (doc_id%100)/20.0, flagged =
    // doc_id%3=0) — the engine filters the same values through the string
    // map + declared-type try_casts, so the hash proves the round trip
    "q153_typed_metadata" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id,
        |       doc_id % 5 AS stars,
        |       ROUND((doc_id % 100) / 20.0, 4) + 0.0 AS rating,
        |       (doc_id % 3 = 0) AS flagged
        |FROM documents
        |WHERE doc_id < 400 AND (doc_id % 3 = 0)
        |  AND (doc_id % 5) > 1 AND (doc_id % 100) / 20.0 <= 4.0
        |ORDER BY id""".stripMargin,
    // q181: the oracle replays the fixture DERIVATION (tile + null
    // pattern) over the original embeddings table, so the hash proves
    // the wide parquet write, the 1,025-col scan-back, and the native
    // assembly are jointly lossless — same discipline as q110/q118
    "q181_wide_assemble_1k" ->
      """WITH w AS (SELECT vec_id AS doc_id,
        |  list_filter(list_transform(range(1024),
        |    j -> CASE WHEN (vec_id + j) % 17 = 0 THEN NULL
        |              ELSE embedding[(j % 64) + 1] END),
        |    x -> x IS NOT NULL) AS vec
        |  FROM embeddings)
        |SELECT doc_id, CAST(len(vec) AS INTEGER) AS dim,
        |  CAST(vec[1] AS FLOAT) AS v_first,
        |  CAST(vec[len(vec)] AS FLOAT) AS v_last
        |FROM w ORDER BY doc_id""".stripMargin,
    // q182: the served-query replay — collection rows (documents ⋈
    // embeddings), the l2 collection space (squared L2, no self-
    // exclusion: the query points are corpus vectors and return
    // themselves at dist 0), eligibility BEFORE ranking (the engine's
    // prefilter rule), string-id tie-break, ROUND(6) after the wire
    "q182_served_knn" ->
      s"""WITH base AS (SELECT CAST(d.doc_id AS VARCHAR) AS id, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |q AS (SELECT 0 AS qid, embedding AS qe FROM embeddings WHERE vec_id = 0
         |      UNION ALL
         |      SELECT 1 AS qid, embedding AS qe FROM embeddings WHERE vec_id = 7),
         |cd AS (SELECT q.qid, b.id, b.lang, ${sqlL2("b.embedding", "q.qe")} AS dist_raw
         |  FROM base b CROSS JOIN q WHERE b.lang IN ('en', 'fr')),
         |r AS (SELECT qid, id, lang, dist_raw, CAST(row_number() OVER
         |        (PARTITION BY qid ORDER BY dist_raw, id) AS INTEGER) AS rnk FROM cd)
         |SELECT CAST(qid AS INTEGER) AS qid, rnk, id,
         |       ROUND(dist_raw, 6) + 0.0 AS dist, lang
         |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
  )
}

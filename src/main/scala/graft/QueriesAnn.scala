package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.{Collection, CollectionCatalog}
import graft.functions.{Distances, TextAnalysis}
import graft.operators.{Ann, Assemble, ChromaFilter, Dedup, Events, HashingEmbedder, Knn, Lm, Mixture, Multimodal, Retrieval, Sketches, Skew, TfIdfSrpEmbedder}

/** SURVEY §2.D query family: vector search — exact kNN in all spaces, IVF
  * builds/refreshes, the PQ family (seeded/trained/residual, ADC + refine),
  * and the SQL function surface over distances.
  *
  * Pure code motion from the pre-r15 single-file SparkEntry (the 164/164
  * CORRECTNESS sweep is the refactoring harness — hashes unchanged);
  * [[SparkEntry]] composes the families back into the driver-contract
  * `queries`/`oracleSql` maps. Shared fixtures/helpers live in
  * [[EntryKit]].
  */
private[graft] trait QueriesAnn extends EntryKit {

  private[graft] def annQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B6/B9 cosine top-k
    "q11_knn_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.topK(emb, "vec_id", "embedding", headVec(emb, 0), 10, "cosine",
          excludeIds = Seq(0L))
        .select(col("vec_id"), roundz(col("dist"), 4).as("dist"))
    }),
    // Quantized-corpus kNN (asymmetric: raw float query vs int8-
    // dequantized corpus) — the 4×-smaller scan a 100 TB vector table
    // wants; quantization arithmetic is IEEE-exact so the oracle replays
    // codes, scales, and distances value-for-value
    "q69_quantized_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // frame form: the per-row scale projects ONCE (the single-Column
      // composition re-evaluates the max-abs subtree per element)
      val dq = Ann.quantizeInt8Frame(emb, "vec_id", "embedding")
        .select(col("vec_id"),
          Ann.dequantizeInt8(struct(col("codes"), col("scale"))).as("embedding"))
      Knn.topK(dq, "vec_id", "embedding", headVec(emb, 0), 10, "cosine",
          excludeIds = Seq(0L))
        .select(col("vec_id"), roundz(col("dist"), 4).as("dist"))
    }),
    // B9 squared-L2 top-k
    "q12_knn_l2" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.topK(emb, "vec_id", "embedding", headVec(emb, 0), 10, "l2",
          excludeIds = Seq(0L))
        .select(col("vec_id"), roundz(col("dist"), 4).as("dist"))
    }),
    // B9 inner-product top-k
    "q13_knn_ip" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.topK(emb, "vec_id", "embedding", headVec(emb, 0), 10, "ip",
          excludeIds = Seq(0L))
        .select(col("vec_id"), roundz(col("dist"), 4).as("dist"))
    }),
    // B6+B7 metadata-prefiltered kNN
    "q14_knn_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val lbl = emb.filter(col("vec_id") === 0).select("label").head().getInt(0)
      Knn.topK(emb, "vec_id", "embedding", headVec(emb, 0), 10, "cosine",
          preFilter = Some(ChromaFilter.Eq("label", lbl).toColumn),
          excludeIds = Seq(0L))
        .select(col("vec_id"), roundz(col("dist"), 4).as("dist"))
    }),
    // B6 batch kNN (broadcast queries + per-query rank limit)
    "q15_knn_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.topKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id").between(0, 4)), "vec_id", "embedding", 5, "cosine")
        .select(col("qid"), col("rnk"), col("vec_id")).orderBy("qid", "rnk")
    }),
    // ANN scale path: IVF partition-pruned kNN, deterministic seeded form
    // (cells = first 8 corpus vectors, argmin-L2 assignment, nprobe=2) —
    // genuinely approximate, yet the whole index+probe path replays in the
    // DuckDB oracle. The k-means variant (Ann.buildIvf) remains the
    // library path when a fit is affordable.
    "q32_ivf_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 8L)
      Ann.queryIvf(m.assigned, m, "vec_id", "embedding", headVec(emb, 0), 10,
          nprobe = 2, space = "cosine", excludeIds = Seq(0L))
        .select(col("vec_id"), roundz(col("dist"), 4).as("dist"))
    }),
    // ANN: deterministic sign-random-projection buckets
    "q33_srp_bucket" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), Ann.srpBucket(col("embedding"), 64, 8).as("bucket"))
        .orderBy("vec_id")),
    // SQL surface: the registered graft_* native functions, used from
    // plain spark.sql text (SparkSessionExtensions path, SURVEY §4.3)
    "q44_sql_function_api" -> ((s, dir) => {
      graft.expressions.GraftExtensions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("emb_v")
      val qv = headVec(t(s, dir, "embeddings"), 1)
      val qlit = qv.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")")
      s.sql(
        s"""SELECT vec_id, ROUND(graft_l2_dist(embedding, $qlit), 4) AS dist
           |FROM emb_v WHERE vec_id <> 1
           |ORDER BY graft_l2_dist(embedding, $qlit), vec_id LIMIT 10""".stripMargin)
    }),
    // B6 at scale, END TO END through the collection store: hydrate the
    // embeddings into a persistent collection, build the seeded IVF index
    // (cell-partitioned sidecar layout), and answer kNN through the pruned
    // read path — the q32 arithmetic, but exercising buildIndex/query on
    // the artifact the reference's whole pipeline exists to produce.
    "q60_collection_ivf_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root)
      // Hydrate-once / query-many: the artifact this query produces is a
      // PERSISTENT indexed collection — rebuilding it per invocation would
      // measure ingestion forever and the pruned read path never. A
      // fingerprint (store-format token + source dir + row count; fixtures
      // are immutable) guards the reuse: any mismatch — including a stale
      // artifact from an older store layout — drops and rebuilds.
      val fp = s"ivf2|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7"
      val coll = cachedCollection(cat, "ivfq", fp, _.hasIndex) {
        val c = cat.getOrCreateCollection("ivfq", "cosine")
        c.add(emb.select(col("vec_id").cast("string").as("id"),
          col("embedding"), col("label")))
        c.buildIndexSeeded((0L until 8L).map(_.toString))
        c
      }
      coll.query(headVec(emb, 0), 10, nprobe = 2)
        .select(col("id"), roundz(col("dist"), 4).as("dist"))
    }),
    // The STORE-side IVF-PQ (q139's composition as a collection index):
    // buildIndexPqSeeded writes the cell-partitioned build WITH a codes
    // column + codebook sidecar; queryPq ADC-scans (id, codes) inside the
    // probed cells — the embedding column stays unread until the fetchN
    // refine — then exact-cosine re-ranks. Same hydrate-once fingerprint
    // reuse as q60 ([[EntryKit.pqidxCollection]]).
    "q140_collection_pq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      pqidxCollection(s, dir, emb).queryPq(headVec(emb, 0), 10, nprobe = 2, fetchN = 30)
        .select(col("id"), col("adc"), col("dist"))
    }),
    // TRIPLE composition on one read (r8): a committed IVF index AND a
    // committed trigram-postings index AND a metadata `where` serve one
    // `query()` — cell pruning at the file listing, postings confinement
    // of the whereDoc, the verbatim predicate on the survivors, exact
    // cosine top-k inside. Each leg is oracled alone (q60, q112, q04-07);
    // this pins that their composition changes nothing: the oracle is the
    // plain scan-semantics replay over the FINAL corpus.
    "q126_ivf_docindex_where" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root)
      val fp = s"ivfdx2|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7"
      val coll = cachedCollection(cat, "ivfdx", fp, c => c.hasIndex && c.hasDocIndex) {
        val c = cat.getOrCreateCollection("ivfdx", "cosine")
        c.add(emb.join(docs, col("vec_id") === col("doc_id"))
          .select(col("vec_id").cast("string").as("id"), col("embedding"),
            col("text").as("document"), col("lang")))
        c.buildIndexSeeded((0L until 8L).map(_.toString))
        c.buildDocIndex()
        c
      }
      require(coll.hasIndex && coll.hasDocIndex,
        "q126 must compose both sidecar indexes")
      coll.query(headVec(emb, 2), 10, nprobe = 3,
          where = Some(ChromaFilter.In("lang", Seq("en", "fr", "es"))),
          whereDoc = Some(ChromaFilter.Contains("vector table")))
        .select(col("id"), roundz(col("dist"), 4).as("dist"), col("lang"))
    }),
    // The IVF index through INCREMENTAL REFRESH (r8): hydrate most of the
    // corpus, build the seeded index, upsert the held-out slice, then
    // refreshIndex() — only the touched id buckets re-run the argmin-L2
    // assignment (against the PRIOR build's centroids), every other
    // cell/pb slice hard-links forward. Assignment is a pure function of
    // (vector, centroids), so the refreshed index must serve exactly what
    // a full build with those seeds serves — the oracle replays seeded
    // assignment + probe choice + filtered cosine top-k over the FINAL
    // corpus, same as q60's discipline, plus a label prefilter composed
    // on the pruned path.
    // Index COMPACTION under the oracle: the collection takes the full
    // maintenance lifecycle — seeded IVF + postings build on a base
    // corpus, upsert of a held-out slice, incremental refresh of BOTH
    // sidecars, then compactIndexes() repacking both into manifest-free
    // single-file-per-slice builds — and the final query (IVF-pruned +
    // postings-confined + metadata where) must hash-match the same plain
    // replay a FRESH build serves (q126's oracle verbatim): maintenance
    // must never change answers.
    "q130_index_compaction_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root)
      val fp = s"ivfcx2|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7"
      val coll = cachedCollection(cat, "ivfcx", fp, c => c.hasIndex && c.hasDocIndex) {
        val c = cat.getOrCreateCollection("ivfcx", "cosine")
        val all = emb.join(docs, col("vec_id") === col("doc_id"))
          .select(col("vec_id").cast("string").as("id"), col("embedding"),
            col("text").as("document"), col("lang"))
        // hold out a slice containing NO seed ids (0-7): % 17 == 9
        c.add(all.filter(col("id").cast("long") % 17 =!= 9))
        c.buildIndexSeeded((0L until 8L).map(_.toString))
        c.buildDocIndex()
        c.upsert(all.filter(col("id").cast("long") % 17 === 9))
        require(c.refreshIndex() > 0, "q130 must exercise an IVF refresh")
        require(c.refreshDocIndex() > 0, "q130 must exercise a postings refresh")
        require(c.compactIndexes() == 2, "q130 must compact both builds")
        c
      }
      require(coll.hasIndex && coll.hasDocIndex,
        "q130 must serve from the compacted indexes")
      coll.query(headVec(emb, 2), 10, nprobe = 3,
          where = Some(ChromaFilter.In("lang", Seq("en", "fr", "es"))),
          whereDoc = Some(ChromaFilter.Contains("vector table")))
        .select(col("id"), roundz(col("dist"), 4).as("dist"), col("lang"))
    }),
    "q125_ivf_refresh_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root)
      val fp = s"ivfr2|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7"
      val coll = cachedCollection(cat, "ivfr", fp, _.hasIndex) {
        val c = cat.getOrCreateCollection("ivfr", "cosine")
        val all = emb.select(col("vec_id").cast("string").as("id"),
          col("embedding"), col("label"))
        // hold out a slice that contains NO seed ids (0-7): % 17 == 9
        c.add(all.filter(col("id").cast("long") % 17 =!= 9))
        c.buildIndexSeeded((0L until 8L).map(_.toString))
        c.upsert(all.filter(col("id").cast("long") % 17 === 9))
        val rebuilt = c.refreshIndex()
        require(rebuilt > 0, "q125 must exercise an incremental IVF refresh")
        c
      }
      require(coll.hasIndex, "q125 must serve from the refreshed index")
      coll.query(headVec(emb, 1), 10, nprobe = 3,
          where = Some(ChromaFilter.In("label", Seq(0, 1, 2, 3, 4))))
        .select(col("id"), roundz(col("dist"), 4).as("dist"), col("label"))
    }),
    // r7's two features COMPOSED (the one pairwise composition r7 left
    // un-pinned): `query(query_texts=..., where_document=$contains)` —
    // the query text embeds through the collection's RECORDED embedding
    // function while the contains prefilter is served INDEX-CONFINED
    // through the trigram postings (DocIndex). Confinement is a superset
    // prefilter + verbatim re-check, so the hash must equal the
    // scan-semantics oracle, which replays BOTH the embedding (from raw
    // text, q115-style) and the contains filter. Hydrate-once with the
    // q112 fingerprint discipline — the artifact is a persistent indexed
    // collection, not per-call ingestion.
    "q124_querytext_docindex" -> ((s, dir) => {
      qtdCollection(s, dir).queryText(
          Seq("vector database search index", "streaming join throughput"),
          k = 10, whereDoc = Some(ChromaFilter.Contains("vector table")))
        .select(col("qid"), col("rnk"), col("id"),
          roundz(col("dist"), 4).as("dist"), col("lang"))
        .orderBy("qid", "rnk")
    }),
    // q124 driven from PURE SQL — the graft_knn table function completes
    // the TVF quadrant (bm25/hybrid/rerank/knn): each call embeds its
    // text with the collection's RECORDED function and returns
    // queryText's own plan, the where_document prefilter arriving as
    // Chroma's wire JSON ('' skips the where slot). Two single-text
    // calls UNION ALL into q124's two-query batch shape (each call's
    // qid is 0 — the SQL re-labels), so the entry is hash-equal to the
    // Scala batch call by construction: one plan, two entry surfaces,
    // and the TVF's filter grammar is oracled for free.
    "q172_knn_sql" -> ((s, dir) => {
      qtdCollection(s, dir) // same fixture; TVF resolves it by (root, name)
      graft.expressions.GraftExtensions.register(s)
      val root = verifyCollectionsRoot(dir)
      s.sql(
        s"""SELECT 0 AS qid, rnk, id, ROUND(dist, 4) + 0.0 AS dist, lang
           |FROM graft_knn('$root', 'qtd', 'vector database search index', 10,
           |               '', '{"$$contains": "vector table"}')
           |UNION ALL
           |SELECT 1 AS qid, rnk, id, ROUND(dist, 4) + 0.0 AS dist, lang
           |FROM graft_knn('$root', 'qtd', 'streaming join throughput', 10,
           |               '', '{"$$contains": "vector table"}')
           |ORDER BY qid, rnk""".stripMargin)
    }),
    // IVF-PQ, the canonical composed ANN (FAISS's IVFPQ): the corpus is
    // cell-partitioned (q32's seeded IVF prunes WHICH rows) AND
    // code-compressed (q136's PQ shrinks WHAT each pruned row costs) —
    // ADC runs over the probed cells' codes only, then exact cosine
    // re-ranks the fetchN=30 shortlist. Both layers' determinism tricks
    // compose, so assignment, probe choice, encode, ADC and the final
    // re-rank ALL replay in the DuckDB oracle.
    "q139_ivfpq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 8L)
      val pq = Ann.buildPqSeeded(emb, "vec_id", "embedding",
        dim = 64, m = 8, seedIds = 1L to 16L)
      val encoded = Ann.pqEncode(ivf.assigned, "embedding", pq)
      Ann.queryIvfPq(encoded, ivf, pq, emb, "vec_id", "embedding",
          headVec(emb, 0), k = 10, nprobe = 2, fetchN = 30,
          space = "cosine", excludeIds = Seq(0L))
        .select(col("vec_id"), col("adc"), col("dist"))
    }),
    // The BATCH form of the store-side PQ read (q140's collection,
    // reused by fingerprint): one pruned codes-only scan serves BOTH
    // query vectors — each query ranks its own ADC column inside its own
    // probe set to a per-query shortlist, and one broadcast join back to
    // the pruned cells re-ranks exactly. The oracle replays the whole
    // per-qid pipeline keyed by qid.
    "q144_collection_pq_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      pqidxCollection(s, dir, emb).queryPqBatch(Seq(headVec(emb, 0), headVec(emb, 17)),
          k = 10, nprobe = 2, fetchN = 30)
        .select(col("qid"), col("rnk"), col("id"), col("adc"), col("dist"))
        .orderBy("qid", "rnk")
    }),
    // The RESIDUAL IVF-PQ as the collection index (q141's construction
    // promoted to the store, the way q140 promoted q139): codes quantize
    // v − centroid(cell) under seed-residual codebooks, the sidecar's
    // residual flag routes queryPq through per-cell ADC tables, and the
    // exact cosine re-rank rides the same fetchN refine. String ids, no
    // self-exclusion — the store surface's semantics, q140's discipline.
    "q145_collection_pq_residual_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      pqridxCollection(s, dir, emb).queryPq(headVec(emb, 0), 10, nprobe = 2, fetchN = 30)
        .select(col("id"), col("adc"), col("dist"))
    }),
    // SIZE-AWARE PQ DIALS under the oracle (the q113 nBitsFor discipline
    // for the PQ family): codebook width ksub = clamp(n/8, 16, 256) picks
    // the BUILD seeds, and queryPq's fetchN = 0 resolves the shortlist
    // width clamp(n/4, 4k, MaxFetchN) from the live corpus count — both
    // rules integer-only, both EMITTED as columns, and the oracle
    // recomputes both from COUNT(*) with truncating division — proving
    // the sizing rules are portable, not just one frozen dial. All cells
    // probed (nprobe = 8 of 8): this query pins the dials, q140 pins the
    // cell pruning. Recall at these defaults is measured per-bench
    // (Recall "q148" entry) — the frozen-dial 0.2 vs scaled ~1.0 gap is
    // exactly what the rule closes.
    "q148_pq_autodial_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root)
      // the source's file tag keys the fixture; the dials size from the
      // collection's row count, which a warm construct reads memoized
      val fp = s"pqauto2|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7|ps=auto|m=8"
      val coll = cachedCollection(cat, "pqauto", fp, _.hasIndex) {
        val c = cat.getOrCreateCollection("pqauto", "cosine")
        c.add(emb.select(col("vec_id").cast("string").as("id"),
          col("embedding"), col("label")))
        c.buildIndexPqSeeded((0L until 8L).map(_.toString),
          (1L to Ann.pqKsubFor(c.count()).toLong).map(_.toString), m = 8)
        c
      }
      val n = coll.count()
      coll.queryPq(headVec(emb, 0), 10, nprobe = 8, fetchN = 0)
        .withColumn("ksub", lit(Ann.pqKsubFor(n)))
        .withColumn("fetch_n", lit(Ann.pqFetchNFor(n, 10)))
    }),
    // The BATCH read of the residual store index (q144 : q140 ::
    // q149 : q145): one pruned codes-only scan serves both queries, but
    // the ADC tables are now per-(query, cell) — each query's ADC column
    // holds one residual lut per probed cell, and a row picks its table
    // by its own cell. Same collection as q145 (fingerprint-shared).
    "q149_collection_pq_residual_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      pqridxCollection(s, dir, emb).queryPqBatch(Seq(headVec(emb, 0), headVec(emb, 17)),
          k = 10, nprobe = 2, fetchN = 30)
        .select(col("qid"), col("rnk"), col("id"), col("adc"), col("dist"))
        .orderBy("qid", "rnk")
    }),
    // Server-side embedding × the PQ read path (q115's embedding
    // function composed with q144's codes-only scan): documents hydrate
    // through the recorded HashingEmbedder(16), the PQ index quantizes
    // the 16-dim hash embeddings (m=8, subDim=2), and queryTextPq embeds
    // the query texts through the SAME recorded binding, ADC-scans
    // codes inside the probed cells, exact-cosine re-ranks. The oracle
    // replays the entire composition from RAW TEXT: hash-embed (integral
    // counts — float32 and DOUBLE agree bit-for-bit), seeded assignment,
    // probe choice, encode, per-qid luts, both rank stages.
    "q150_querytext_pq" -> ((s, dir) =>
      qtpqCollection(s, dir).queryTextPq(
          Seq("vector database search index", "streaming join throughput"),
          k = 10, nprobe = 2, fetchN = 30)
        .select(col("qid"), col("rnk"), col("id"), col("adc"), col("dist"))
        .orderBy("qid", "rnk")),
    // Residual IVF-PQ — the FULL Jégou construction (q139 quantizes raw
    // vectors; this quantizes r = v − centroid(cell), so the codebooks
    // spend their resolution on what the cell has not already explained):
    // per-cell ADC tables on the residual query, chained-conditional
    // lookup per row, exact cosine re-rank. Every stage replays — the
    // residual subtraction is a double fold in element order on both
    // engines.
    "q141_ivfpq_residual_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 8L)
      // PQ seeds DISJOINT from the cell seeds: a cell seed's residual is
      // the zero vector, and 7 zero codebook entries would waste half the
      // codebook (ties all resolving to the lowest zero code)
      val pq = Ann.buildPqResidualSeeded(ivf.assigned, "vec_id", "embedding",
        ivf.centroids, dim = 64, m = 8, seedIds = 10L to 25L)
      val encoded = Ann.pqEncodeResidual(ivf.assigned, "embedding", ivf.centroids, pq)
      Ann.queryIvfPq(encoded, ivf, pq, emb, "vec_id", "embedding",
          headVec(emb, 0), k = 10, nprobe = 2, fetchN = 30,
          space = "cosine", excludeIds = Seq(0L))
        .select(col("vec_id"), col("adc"), col("dist"))
    }),
    // Product quantization, the memory-side ANN scale path (IVF prunes
    // WHICH rows, PQ shrinks WHAT each row costs — 64 floats → 8 codes
    // here, a 32× cut): seeded codebooks (subvectors of rows 1..16),
    // argmin-L2 encode, ADC shortlist from the code table alone, exact
    // cosine re-rank of the fetchN=30 survivors. Genuinely approximate —
    // yet seeds + element-order folds + round-to-6 decimal ADC sums make
    // encode, the lookup table, and BOTH ranking stages replay
    // value-for-value in the DuckDB oracle. m=8 (8-wide subspaces), the
    // config PqSpec measures at recall 9/10 on this corpus at fetchN=50.
    "q136_pq_adc_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Ann.buildPqSeeded(emb, "vec_id", "embedding",
        dim = 64, m = 8, seedIds = 1L to 16L)
      val encoded = Ann.pqEncode(emb, "embedding", model)
      Ann.queryPqRefined(encoded, emb, model, "vec_id", "embedding",
          headVec(emb, 0), k = 10, fetchN = 30, space = "cosine",
          excludeIds = Seq(0L))
        .select(col("vec_id"), col("adc"), col("dist"))
    }),
    // The graph-ANN rung (VERDICT r16 task 3): deterministic NSW — exact
    // top-M kNN graph (M=6, the hnsw:M knob) + greedy beam search (beam=8
    // = hnsw:ef_search, 3 fixed hops) from explicit entry seeds. The
    // WHOLE build+search replays in DuckDB: adjacency = per-src
    // row_number over l2 with string-id ties, each hop = top-beam of
    // visited → neighbor expansion, answer = top-k of visited. Corpus
    // bounded to vec_id < 600 to keep the oracle's all-pairs adjacency
    // O(600²) at every driver scale (the SCALE build is the LSH-confined
    // buildKnnGraphLsh, GraphAnnSpec-measured).
    "q183_graph_knn" -> ((s, dir) => {
      import graft.operators.GraphAnn
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") < 600)
      val g = GraphAnn.buildKnnGraph(corpus, "vec_id", "embedding", m = 6)
      GraphAnn.search(g, corpus, "vec_id", "embedding",
          headVec(emb, 11), k = 10, entryIds = Seq(0L, 1L, 2L, 3L),
          beam = 8, hops = 3)
        .select(col("rnk"), col("id"), roundz(col("dist"), 6).as("dist"))
        .orderBy("rnk")
    }),
  )

  private lazy val sqlQueryTextDocIndexOracle: String = {
      val hash = sqlStrHash("tm")
      s"""WITH qt AS (SELECT * FROM (VALUES (0, 'vector database search index'),
         |                                  (1, 'streaming join throughput')) AS q(qid, qtext)),
         |d AS (SELECT doc_id, text, lang FROM documents
         |      WHERE contains(text, 'vector table')),
         |toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tm
         |         FROM d),
         |tk AS (SELECT doc_id, $hash AS h FROM toks WHERE length(tm) > 0),
         |sums AS (SELECT doc_id, CAST(h % 16 AS INTEGER) AS b,
         |                SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |         FROM tk GROUP BY doc_id, b),
         |grid AS (SELECT dd.doc_id, bb.b FROM (SELECT doc_id FROM d) dd
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
         |       FROM vecs v JOIN d ON d.doc_id = v.doc_id
         |       CROSS JOIN qvecs q),
         |r AS (SELECT qid, doc_id, lang, dist_raw, ROW_NUMBER() OVER
         |        (PARTITION BY qid ORDER BY dist_raw, CAST(doc_id AS VARCHAR)) AS rnk
         |      FROM cd)
         |SELECT qid, rnk, CAST(doc_id AS VARCHAR) AS id,
         |       ROUND(dist_raw, 4) + 0.0 AS dist, lang
         |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  private[graft] def annOracles: Map[String, String] = Map(
    "q11_knn_cosine" -> sqlKnnSingle(sqlCos("e.embedding", "q.qe")),
    "q69_quantized_knn" -> {
      // replay of Ann.quantizeInt8 ∘ dequantizeInt8: per-vector max-abs
      // scale, away-from-zero integer rounding (both engines), then the
      // q11 cosine shape over the reconstructed corpus
      s"""WITH sc AS (SELECT vec_id, embedding,
         |       list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
         |     FROM embeddings),
         |eq AS (SELECT vec_id,
         |       list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) /
         |         (CASE WHEN mx > 0 THEN mx / 127.0 ELSE 1.0 END), 0)
         |         * (CASE WHEN mx > 0 THEN mx / 127.0 ELSE 1.0 END)) AS de
         |     FROM sc),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id AS vec_id, ${sqlCos("e.de", "q.qe")} AS dist_raw
         |      FROM eq e, q WHERE e.vec_id <> 0)
         |SELECT vec_id, ROUND(dist_raw, 4) + 0.0 AS dist FROM d
         |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin
    },
    "q12_knn_l2" -> sqlKnnSingle(sqlL2("e.embedding", "q.qe")),
    "q13_knn_ip" -> sqlKnnSingle(sqlIp("e.embedding", "q.qe")),
    "q14_knn_filtered" -> sqlKnnSingle(sqlCos("e.embedding", "q.qe"),
      "AND e.label = (SELECT label FROM embeddings WHERE vec_id = 0)"),
    "q15_knn_batch" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |           WHERE vec_id IN (0, 1, 2, 3, 4)),
         |d AS (SELECT q.qid, e.vec_id, ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |      FROM embeddings e, q WHERE e.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, CAST(row_number() OVER
         |        (PARTITION BY qid ORDER BY dist_raw, vec_id) AS INTEGER) AS rnk FROM d)
         |SELECT qid, rnk, vec_id FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "q33_srp_bucket" ->
      s"""SELECT vec_id, ${sqlSrpBucket("embedding")} AS bucket
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q44_sql_function_api" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
         |d AS (SELECT e.vec_id AS vec_id, ${sqlL2("e.embedding", "q.qe")} AS dist_raw
         |      FROM embeddings e, q WHERE e.vec_id <> 1)
         |SELECT vec_id, ROUND(dist_raw, 4) + 0.0 AS dist FROM d
         |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin,
    // q60: q32's seeded-IVF arithmetic but through the collection store —
    // string ids (the collection's id type: ties and the final ORDER BY
    // sort lexicographically) and NO self-exclusion (Chroma's query()
    // returns the query point itself when it is in the collection).
    "q60_collection_ivf_knn" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |           FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |e0 AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding FROM embeddings),
         |d AS (SELECT e.id AS id, e.embedding AS embedding, c.cell AS cell,
         |             ${sqlL2("e.embedding", "c.ce")} AS cd
         |      FROM e0 e, c),
         |a AS (SELECT id, embedding, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cd, cell) AS rn FROM d)
         |      WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pc AS (SELECT c.cell FROM c, q ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell LIMIT 2),
         |cand AS (SELECT a.id AS id, a.embedding AS embedding FROM a
         |         WHERE a.cell IN (SELECT cell FROM pc)),
         |dd AS (SELECT id, ${sqlCos("cand.embedding", "q.qe")} AS dist_raw FROM cand, q)
         |-- + 0.0 normalizes IEEE -0.0 on the self-match row (DuckDB's ROUND
         |-- keeps the sign of a rounded-to-zero negative; Spark's drops it)
         |SELECT id, ROUND(dist_raw, 4) + 0.0 AS dist FROM dd
         |ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q126: the triple composition replayed as plain scan semantics —
    // seeded assignment (q60 shape), probe 3 cells for vec 2's query,
    // then the contains + lang filters on the pruned candidates, cosine
    // top-10. Both indexes only confine IO; the oracle proves composition
    // preserves that.
    "q126_ivf_docindex_where" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |           FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |e0 AS (SELECT CAST(e.vec_id AS VARCHAR) AS id, e.embedding, d.text, d.lang
         |       FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |dd0 AS (SELECT e.id AS id, e.embedding AS embedding, e.text AS text,
         |              e.lang AS lang, c.cell AS cell,
         |              ${sqlL2("e.embedding", "c.ce")} AS cd
         |       FROM e0 e, c),
         |a AS (SELECT id, embedding, text, lang, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cd, cell) AS rn FROM dd0)
         |      WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 2),
         |pc AS (SELECT c.cell FROM c, q ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell LIMIT 3),
         |cand AS (SELECT a.id AS id, a.embedding AS embedding, a.lang AS lang FROM a
         |         WHERE a.cell IN (SELECT cell FROM pc)
         |           AND contains(a.text, 'vector table')
         |           AND a.lang IN ('en', 'fr', 'es')),
         |dd AS (SELECT id, lang, ${sqlCos("cand.embedding", "q.qe")} AS dist_raw FROM cand, q)
         |SELECT id, ROUND(dist_raw, 4) + 0.0 AS dist, lang FROM dd
         |ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q130: the refresh→compact lifecycle must serve EXACTLY the answers
    // a fresh build serves — q126's replay verbatim (same final corpus,
    // same seed assignment, same probes/filters): index maintenance is
    // answer-invariant by construction, and this pins it.
    "q130_index_compaction_knn" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |           FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |e0 AS (SELECT CAST(e.vec_id AS VARCHAR) AS id, e.embedding, d.text, d.lang
         |       FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |dd0 AS (SELECT e.id AS id, e.embedding AS embedding, e.text AS text,
         |              e.lang AS lang, c.cell AS cell,
         |              ${sqlL2("e.embedding", "c.ce")} AS cd
         |       FROM e0 e, c),
         |a AS (SELECT id, embedding, text, lang, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cd, cell) AS rn FROM dd0)
         |      WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 2),
         |pc AS (SELECT c.cell FROM c, q ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell LIMIT 3),
         |cand AS (SELECT a.id AS id, a.embedding AS embedding, a.lang AS lang FROM a
         |         WHERE a.cell IN (SELECT cell FROM pc)
         |           AND contains(a.text, 'vector table')
         |           AND a.lang IN ('en', 'fr', 'es')),
         |dd AS (SELECT id, lang, ${sqlCos("cand.embedding", "q.qe")} AS dist_raw FROM cand, q)
         |SELECT id, ROUND(dist_raw, 4) + 0.0 AS dist, lang FROM dd
         |ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q125: seeded IVF through the REFRESHED index — identical replay
    // discipline to q60 over the FINAL corpus (the refresh's assignment
    // must equal a full build's: argmin-L2 against the same seed
    // centroids), probe 3 cells for vec 1's query, label prefilter on
    // the pruned candidates, filtered cosine top-10.
    "q125_ivf_refresh_knn" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |           FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |e0 AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding, label FROM embeddings),
         |d AS (SELECT e.id AS id, e.embedding AS embedding, e.label AS label, c.cell AS cell,
         |             ${sqlL2("e.embedding", "c.ce")} AS cd
         |      FROM e0 e, c),
         |a AS (SELECT id, embedding, label, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cd, cell) AS rn FROM d)
         |      WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
         |pc AS (SELECT c.cell FROM c, q ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell LIMIT 3),
         |cand AS (SELECT a.id AS id, a.embedding AS embedding, a.label AS label FROM a
         |         WHERE a.cell IN (SELECT cell FROM pc) AND a.label IN (0, 1, 2, 3, 4)),
         |dd AS (SELECT id, label, ${sqlCos("cand.embedding", "q.qe")} AS dist_raw FROM cand, q)
         |SELECT id, ROUND(dist_raw, 4) + 0.0 AS dist, label FROM dd
         |ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q124: q115's embed replay × q112's contains semantics — the
    // engine serves the contains through the postings index (superset
    // prefilter + verbatim re-check), so scan semantics ARE the oracle;
    // restricting the corpus CTE up front is valid because a document's
    // embedding depends only on its own text.
    "q124_querytext_docindex" -> sqlQueryTextDocIndexOracle,
    // q172: the SAME oracle — the graft_knn SQL table function must be
    // hash-equal to q124's Scala batch call (one plan, two entry
    // surfaces, and the wire-JSON where_document grammar is oracled)
    "q172_knn_sql" -> sqlQueryTextDocIndexOracle,

    // q150: the full text→PQ composition replayed from raw text — q115's
    // hash-embed CTEs produce the 16-dim vectors (integral counts, so
    // float32 and DOUBLE agree bit-for-bit), then q144's per-qid PQ
    // pipeline runs OVER those vectors: seeded assignment, per-qid probe
    // choice, encode at subDim=2, per-qid luts, decimal ADC, shortlist
    // and exact-cosine rank windows, string-id tie-breaks throughout
    "q150_querytext_pq" -> {
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
         |vecs AS MATERIALIZED (
         |        SELECT g.doc_id, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS v
         |        FROM grid g LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.b = g.b
         |        GROUP BY g.doc_id),
         |qtoks AS (SELECT qid, unnest(string_split_regex(lower(qtext), '\\s+')) AS tm FROM qt),
         |qtk AS (SELECT qid, $hash AS h FROM qtoks WHERE length(tm) > 0),
         |qsums AS (SELECT qid, CAST(h % 16 AS INTEGER) AS b,
         |                 SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |          FROM qtk GROUP BY qid, b),
         |qgrid AS (SELECT qq.qid, bb.b FROM (SELECT DISTINCT qid FROM qt) qq
         |          CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |qvecs AS MATERIALIZED (
         |         SELECT g.qid, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS qv
         |         FROM qgrid g LEFT JOIN qsums s ON s.qid = g.qid AND s.b = g.b
         |         GROUP BY g.qid),
         |cct AS (SELECT CAST(doc_id AS INTEGER) AS cell, v AS ce
         |        FROM vecs WHERE doc_id BETWEEN 0 AND 7),
         |cdist AS (SELECT ve.doc_id AS doc_id, cct.cell AS cell,
         |                 ${sqlL2("ve.v", "cct.ce")} AS cd
         |          FROM vecs ve, cct),
         |asg AS (SELECT doc_id, cell FROM
         |          (SELECT doc_id, cell, row_number() OVER (PARTITION BY doc_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |pc AS (SELECT qid, cell FROM
         |         (SELECT q.qid AS qid, c.cell AS cell,
         |                 row_number() OVER (PARTITION BY q.qid
         |                                    ORDER BY ${sqlL2("c.ce", "q.qv")}, c.cell) AS rn
         |          FROM cct c, qvecs q) WHERE rn <= 2),
         |sub AS (SELECT unnest(range(8)) AS s),
         |cb AS (SELECT sub.s AS s, CAST(ve.doc_id - 1 AS INTEGER) AS code,
         |              list_transform(range(2), j -> ve.v[CAST(sub.s*2 + j + 1 AS INTEGER)]) AS cv
         |       FROM vecs ve, sub WHERE ve.doc_id BETWEEN 1 AND 16),
         |rs AS (SELECT sub.s AS s, ve.doc_id AS doc_id,
         |              list_transform(range(2), j -> ve.v[CAST(sub.s*2 + j + 1 AS INTEGER)]) AS rv
         |       FROM vecs ve, sub),
         |enc AS (SELECT doc_id, s, code FROM (
         |          SELECT r.doc_id AS doc_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.doc_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rs r JOIN cb c ON c.s = r.s) WHERE rn = 1),
         |qs AS (SELECT q.qid AS qid, sub.s AS s,
         |              list_transform(range(2), j -> q.qv[CAST(sub.s*2 + j + 1 AS INTEGER)]) AS qv
         |       FROM qvecs q, sub),
         |lut AS (SELECT qs.qid AS qid, c.s AS s, c.code AS code,
         |               ROUND(${sqlL2("qs.qv", "c.cv")}, 6) AS d6
         |        FROM cb c JOIN qs ON qs.s = c.s),
         |adc AS (SELECT l.qid AS qid, e.doc_id AS doc_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN asg a ON a.doc_id = e.doc_id
         |        JOIN lut l ON l.s = e.s AND l.code = e.code
         |        JOIN pc p ON p.qid = l.qid AND p.cell = a.cell
         |        GROUP BY l.qid, e.doc_id),
         |short AS (SELECT qid, doc_id, adc FROM
         |            (SELECT qid, doc_id, adc,
         |                    row_number() OVER (PARTITION BY qid
         |                                       ORDER BY adc, CAST(doc_id AS VARCHAR)) AS rn
         |             FROM adc) WHERE rn <= 30),
         |ref AS (SELECT sh.qid AS qid, CAST(sh.doc_id AS VARCHAR) AS id, sh.adc AS adc,
         |               ${sqlCos("ve.v", "q.qv")} AS dist_raw
         |        FROM short sh JOIN vecs ve ON ve.doc_id = sh.doc_id
         |        JOIN qvecs q ON q.qid = sh.qid)
         |SELECT qid, rnk, id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM
         |  (SELECT qid, id, adc, dist_raw,
         |          row_number() OVER (PARTITION BY qid ORDER BY dist_raw, id) AS rnk
         |   FROM ref) WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin
    },
    // q32: replays the full seeded-IVF path — assignment (argmin L2, ties
    // to lowest cell), probe choice (2 nearest cells to the query), and
    // the exact top-k inside the pruned cells.
    "q32_ivf_knn" ->
      s"""WITH c AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |           FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |d AS (SELECT e.vec_id AS vec_id, e.embedding AS embedding, c.cell AS cell,
         |             ${sqlL2("e.embedding", "c.ce")} AS cd
         |      FROM embeddings e, c),
         |a AS (SELECT vec_id, embedding, cell FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn FROM d)
         |      WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pc AS (SELECT c.cell FROM c, q ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell LIMIT 2),
         |cand AS (SELECT a.vec_id AS vec_id, a.embedding AS embedding FROM a
         |         WHERE a.cell IN (SELECT cell FROM pc) AND a.vec_id <> 0),
         |dd AS (SELECT vec_id, ${sqlCos("cand.embedding", "q.qe")} AS dist_raw FROM cand, q)
         |SELECT vec_id, ROUND(dist_raw, 4) + 0.0 AS dist FROM dd
         |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin,
    // q136: the full PQ pipeline replayed — per-subspace codebooks from
    // seed rows 1..16 (code = vec_id − 1), argmin-L2 encode (ties to the
    // lowest code), the query's ADC lookup table, the order-free
    // round-to-6 DECIMAL ADC fold, the fetchN=30 shortlist, and the
    // exact-cosine re-rank — every stage value-identical to the Spark
    // side because every distance folds in element order.
    "q136_pq_adc_knn" ->
      s"""WITH sub AS (SELECT unnest(range(8)) AS s),
         |cb AS (SELECT sub.s AS s, CAST(e.vec_id - 1 AS INTEGER) AS code,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |       FROM embeddings e, sub WHERE e.vec_id BETWEEN 1 AND 16),
         |rs AS (SELECT sub.s AS s, e.vec_id AS vec_id,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |       FROM embeddings e, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rs r JOIN cb c ON c.s = r.s) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qs AS (SELECT sub.s AS s,
         |              list_transform(range(8), j -> q.qe[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |       FROM q, sub),
         |lut AS (SELECT c.s AS s, c.code AS code, ROUND(${sqlL2("qs.qv", "c.cv")}, 6) AS d6
         |        FROM cb c JOIN qs ON qs.s = c.s),
         |adc AS (SELECT e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
         |        WHERE e.vec_id <> 0 GROUP BY e.vec_id),
         |short AS (SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 30),
         |ref AS (SELECT sh.vec_id AS vec_id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh, embeddings e, q WHERE e.vec_id = sh.vec_id)
         |SELECT vec_id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM ref
         |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin,
    // q139: q32's seeded-IVF assignment/probe CTEs composed with q136's
    // PQ encode/lut/ADC CTEs — the ADC stage additionally confines to the
    // probed cells via the assignment join, everything else verbatim
    "q139_ivfpq_knn" ->
      s"""WITH cct AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |             FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |cdist AS (SELECT e.vec_id AS vec_id, cct.cell AS cell,
         |                 ${sqlL2("e.embedding", "cct.ce")} AS cd
         |          FROM embeddings e, cct),
         |asg AS (SELECT vec_id, cell FROM
         |          (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pc AS (SELECT cct.cell FROM cct, q
         |       ORDER BY ${sqlL2("cct.ce", "q.qe")}, cct.cell LIMIT 2),
         |sub AS (SELECT unnest(range(8)) AS s),
         |cb AS (SELECT sub.s AS s, CAST(e.vec_id - 1 AS INTEGER) AS code,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |       FROM embeddings e, sub WHERE e.vec_id BETWEEN 1 AND 16),
         |rs AS (SELECT sub.s AS s, e.vec_id AS vec_id,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |       FROM embeddings e, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rs r JOIN cb c ON c.s = r.s) WHERE rn = 1),
         |qs AS (SELECT sub.s AS s,
         |              list_transform(range(8), j -> q.qe[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |       FROM q, sub),
         |lut AS (SELECT c.s AS s, c.code AS code, ROUND(${sqlL2("qs.qv", "c.cv")}, 6) AS d6
         |        FROM cb c JOIN qs ON qs.s = c.s),
         |adc AS (SELECT e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
         |        JOIN asg a ON a.vec_id = e.vec_id
         |        WHERE a.cell IN (SELECT cell FROM pc) AND e.vec_id <> 0
         |        GROUP BY e.vec_id),
         |short AS (SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 30),
         |ref AS (SELECT sh.vec_id AS vec_id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh, embeddings e, q WHERE e.vec_id = sh.vec_id)
         |SELECT vec_id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM ref
         |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin,
    // q141: the residual construction replayed — residuals as double
    // element-order folds against each row's OWN cell centroid, residual
    // codebooks from the seeds' residuals, PER-CELL query luts (q − that
    // cell's centroid), adc joined through the row's cell
    "q141_ivfpq_residual_knn" ->
      s"""WITH cct AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |             FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |cdist AS (SELECT e.vec_id AS vec_id, cct.cell AS cell,
         |                 ${sqlL2("e.embedding", "cct.ce")} AS cd
         |          FROM embeddings e, cct),
         |asg AS (SELECT vec_id, cell FROM
         |          (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pc AS (SELECT cct.cell FROM cct, q
         |       ORDER BY ${sqlL2("cct.ce", "q.qe")}, cct.cell LIMIT 2),
         |res AS MATERIALIZED (SELECT e.vec_id AS vec_id, a.cell AS cell,
         |              list_transform(range(64), j ->
         |                CAST(e.embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                - CAST(c.ce[CAST(j + 1 AS INTEGER)] AS DOUBLE)) AS rv
         |       FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
         |       JOIN cct c ON c.cell = a.cell),
         |sub AS (SELECT unnest(range(8)) AS s),
         |rcb AS (SELECT sub.s AS s, CAST(r.vec_id - 10 AS INTEGER) AS code,
         |              list_transform(range(8), j -> r.rv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |        FROM res r, sub WHERE r.vec_id BETWEEN 10 AND 25),
         |rsub AS (SELECT sub.s AS s, r.vec_id AS vec_id,
         |               list_transform(range(8), j -> r.rv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |        FROM res r, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rsub r JOIN rcb c ON c.s = r.s) WHERE rn = 1),
         |qres AS (SELECT p.cell AS cell,
         |                list_transform(range(64), j ->
         |                  CAST(q.qe[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                  - CAST(c.ce[CAST(j + 1 AS INTEGER)] AS DOUBLE)) AS qv
         |         FROM pc p JOIN cct c ON c.cell = p.cell, q),
         |qsub AS (SELECT qres.cell AS cell, sub.s AS s,
         |                list_transform(range(8), j -> qres.qv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |         FROM qres, sub),
         |lut AS (SELECT qsub.cell AS cell, c.s AS s, c.code AS code,
         |               ROUND(${sqlL2("qsub.qv", "c.cv")}, 6) AS d6
         |        FROM rcb c JOIN qsub ON qsub.s = c.s),
         |adc AS (SELECT e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN asg a ON a.vec_id = e.vec_id
         |        JOIN lut l ON l.cell = a.cell AND l.s = e.s AND l.code = e.code
         |        WHERE e.vec_id <> 0 GROUP BY e.vec_id),
         |short AS (SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 30),
         |ref AS (SELECT sh.vec_id AS vec_id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh, embeddings e, q WHERE e.vec_id = sh.vec_id)
         |SELECT vec_id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM ref
         |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin,
    // q140: q139's replay against the COLLECTION's PQ index — string ids
    // (the store keys by string), NO self-exclusion (the collection query
    // surface has none), every tie-break in string order
    "q140_collection_pq_knn" ->
      s"""WITH cct AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |             FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |cdist AS (SELECT e.vec_id AS vec_id, cct.cell AS cell,
         |                 ${sqlL2("e.embedding", "cct.ce")} AS cd
         |          FROM embeddings e, cct),
         |asg AS (SELECT vec_id, cell FROM
         |          (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pc AS (SELECT cct.cell FROM cct, q
         |       ORDER BY ${sqlL2("cct.ce", "q.qe")}, cct.cell LIMIT 2),
         |sub AS (SELECT unnest(range(8)) AS s),
         |cb AS (SELECT sub.s AS s, CAST(e.vec_id - 1 AS INTEGER) AS code,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |       FROM embeddings e, sub WHERE e.vec_id BETWEEN 1 AND 16),
         |rs AS (SELECT sub.s AS s, e.vec_id AS vec_id,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |       FROM embeddings e, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rs r JOIN cb c ON c.s = r.s) WHERE rn = 1),
         |qs AS (SELECT sub.s AS s,
         |              list_transform(range(8), j -> q.qe[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |       FROM q, sub),
         |lut AS (SELECT c.s AS s, c.code AS code, ROUND(${sqlL2("qs.qv", "c.cv")}, 6) AS d6
         |        FROM cb c JOIN qs ON qs.s = c.s),
         |adc AS (SELECT e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
         |        JOIN asg a ON a.vec_id = e.vec_id
         |        WHERE a.cell IN (SELECT cell FROM pc)
         |        GROUP BY e.vec_id),
         |short AS (SELECT vec_id, adc FROM adc
         |          ORDER BY adc, CAST(vec_id AS VARCHAR) LIMIT 30),
         |ref AS (SELECT CAST(sh.vec_id AS VARCHAR) AS id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh, embeddings e, q WHERE e.vec_id = sh.vec_id)
         |SELECT id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM ref
         |ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q148: both PQ dials replayed INTEGER-EXACT from COUNT(*) —
    // truncating division + LEAST/GREATEST, no float ratio (the q113
    // shift-compare discipline) — then q136's encode/lut/ADC chain under
    // the derived ksub and a shortlist cut at the derived fetch_n. All
    // cells probed, so no IVF confinement CTEs; string-id tie-breaks
    // (store surface); 40 = 4·k at k=10.
    "q148_pq_autodial_knn" ->
      s"""WITH dial AS MATERIALIZED (
         |  SELECT CAST(LEAST(256, GREATEST(16, COUNT(*) // 8)) AS INTEGER) AS ksub,
         |         CAST(LEAST(65536, GREATEST(40, COUNT(*) // 4)) AS INTEGER) AS fetch_n
         |  FROM embeddings),
         |sub AS (SELECT unnest(range(8)) AS s),
         |cb AS MATERIALIZED (SELECT sub.s AS s, CAST(e.vec_id - 1 AS INTEGER) AS code,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |       FROM embeddings e, sub
         |       WHERE e.vec_id BETWEEN 1 AND (SELECT ksub FROM dial)),
         |rs AS (SELECT sub.s AS s, e.vec_id AS vec_id,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |       FROM embeddings e, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rs r JOIN cb c ON c.s = r.s) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qs AS (SELECT sub.s AS s,
         |              list_transform(range(8), j -> q.qe[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |       FROM q, sub),
         |lut AS (SELECT c.s AS s, c.code AS code, ROUND(${sqlL2("qs.qv", "c.cv")}, 6) AS d6
         |        FROM cb c JOIN qs ON qs.s = c.s),
         |adc AS (SELECT e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
         |        GROUP BY e.vec_id),
         |short AS (SELECT vec_id, adc FROM
         |            (SELECT vec_id, adc,
         |                    row_number() OVER (ORDER BY adc, CAST(vec_id AS VARCHAR)) AS rn
         |             FROM adc) WHERE rn <= (SELECT fetch_n FROM dial)),
         |ref AS (SELECT CAST(sh.vec_id AS VARCHAR) AS id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh, embeddings e, q WHERE e.vec_id = sh.vec_id)
         |SELECT id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist,
         |       (SELECT ksub FROM dial) AS ksub,
         |       (SELECT fetch_n FROM dial) AS fetch_n
         |FROM ref ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q145: q141's residual replay against the COLLECTION's index —
    // string ids, NO self-exclusion (q140's store-surface discipline),
    // every tie-break in string order, terminal ROUND on both floats
    "q145_collection_pq_residual_knn" ->
      s"""WITH cct AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |             FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |cdist AS (SELECT e.vec_id AS vec_id, cct.cell AS cell,
         |                 ${sqlL2("e.embedding", "cct.ce")} AS cd
         |          FROM embeddings e, cct),
         |asg AS (SELECT vec_id, cell FROM
         |          (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pc AS (SELECT cct.cell FROM cct, q
         |       ORDER BY ${sqlL2("cct.ce", "q.qe")}, cct.cell LIMIT 2),
         |res AS MATERIALIZED (SELECT e.vec_id AS vec_id, a.cell AS cell,
         |              list_transform(range(64), j ->
         |                CAST(e.embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                - CAST(c.ce[CAST(j + 1 AS INTEGER)] AS DOUBLE)) AS rv
         |       FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
         |       JOIN cct c ON c.cell = a.cell),
         |sub AS (SELECT unnest(range(8)) AS s),
         |rcb AS (SELECT sub.s AS s, CAST(r.vec_id - 10 AS INTEGER) AS code,
         |              list_transform(range(8), j -> r.rv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |        FROM res r, sub WHERE r.vec_id BETWEEN 10 AND 25),
         |rsub AS (SELECT sub.s AS s, r.vec_id AS vec_id,
         |               list_transform(range(8), j -> r.rv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |        FROM res r, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rsub r JOIN rcb c ON c.s = r.s) WHERE rn = 1),
         |qres AS (SELECT p.cell AS cell,
         |                list_transform(range(64), j ->
         |                  CAST(q.qe[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                  - CAST(c.ce[CAST(j + 1 AS INTEGER)] AS DOUBLE)) AS qv
         |         FROM pc p JOIN cct c ON c.cell = p.cell, q),
         |qsub AS (SELECT qres.cell AS cell, sub.s AS s,
         |                list_transform(range(8), j -> qres.qv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |         FROM qres, sub),
         |lut AS (SELECT qsub.cell AS cell, c.s AS s, c.code AS code,
         |               ROUND(${sqlL2("qsub.qv", "c.cv")}, 6) AS d6
         |        FROM rcb c JOIN qsub ON qsub.s = c.s),
         |adc AS (SELECT e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN asg a ON a.vec_id = e.vec_id
         |        JOIN lut l ON l.cell = a.cell AND l.s = e.s AND l.code = e.code
         |        GROUP BY e.vec_id),
         |short AS (SELECT vec_id, adc FROM adc
         |          ORDER BY adc, CAST(vec_id AS VARCHAR) LIMIT 30),
         |ref AS (SELECT CAST(sh.vec_id AS VARCHAR) AS id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh, embeddings e, q WHERE e.vec_id = sh.vec_id)
         |SELECT id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM ref
         |ORDER BY dist_raw, id LIMIT 10""".stripMargin,
    // q149: the residual batch replayed — q144's per-qid pipeline with
    // q145's per-cell residual luts: the lut CTE is keyed (qid, cell)
    // and only carries each query's PROBED cells, so the adc join's lut
    // membership IS the probe confinement
    "q149_collection_pq_residual_batch" ->
      s"""WITH cct AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |             FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |cdist AS (SELECT e.vec_id AS vec_id, cct.cell AS cell,
         |                 ${sqlL2("e.embedding", "cct.ce")} AS cd
         |          FROM embeddings e, cct),
         |asg AS (SELECT vec_id, cell FROM
         |          (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |q AS (SELECT 0 AS qid, embedding AS qe FROM embeddings WHERE vec_id = 0
         |      UNION ALL
         |      SELECT 1 AS qid, embedding AS qe FROM embeddings WHERE vec_id = 17),
         |pc AS (SELECT qid, cell FROM
         |         (SELECT q.qid AS qid, c.cell AS cell,
         |                 row_number() OVER (PARTITION BY q.qid
         |                                    ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell) AS rn
         |          FROM cct c, q) WHERE rn <= 2),
         |res AS MATERIALIZED (SELECT e.vec_id AS vec_id, a.cell AS cell,
         |              list_transform(range(64), j ->
         |                CAST(e.embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                - CAST(c.ce[CAST(j + 1 AS INTEGER)] AS DOUBLE)) AS rv
         |       FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id
         |       JOIN cct c ON c.cell = a.cell),
         |sub AS (SELECT unnest(range(8)) AS s),
         |rcb AS (SELECT sub.s AS s, CAST(r.vec_id - 10 AS INTEGER) AS code,
         |              list_transform(range(8), j -> r.rv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |        FROM res r, sub WHERE r.vec_id BETWEEN 10 AND 25),
         |rsub AS (SELECT sub.s AS s, r.vec_id AS vec_id,
         |               list_transform(range(8), j -> r.rv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |        FROM res r, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rsub r JOIN rcb c ON c.s = r.s) WHERE rn = 1),
         |qres AS (SELECT p.qid AS qid, p.cell AS cell,
         |                list_transform(range(64), j ->
         |                  CAST(q.qe[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                  - CAST(c.ce[CAST(j + 1 AS INTEGER)] AS DOUBLE)) AS qv
         |         FROM pc p JOIN cct c ON c.cell = p.cell
         |         JOIN q ON q.qid = p.qid),
         |qsub AS (SELECT qres.qid AS qid, qres.cell AS cell, sub.s AS s,
         |                list_transform(range(8), j -> qres.qv[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |         FROM qres, sub),
         |lut AS (SELECT qsub.qid AS qid, qsub.cell AS cell, c.s AS s, c.code AS code,
         |               ROUND(${sqlL2("qsub.qv", "c.cv")}, 6) AS d6
         |        FROM rcb c JOIN qsub ON qsub.s = c.s),
         |adc AS (SELECT l.qid AS qid, e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN asg a ON a.vec_id = e.vec_id
         |        JOIN lut l ON l.cell = a.cell AND l.s = e.s AND l.code = e.code
         |        GROUP BY l.qid, e.vec_id),
         |short AS (SELECT qid, vec_id, adc FROM
         |            (SELECT qid, vec_id, adc,
         |                    row_number() OVER (PARTITION BY qid
         |                                       ORDER BY adc, CAST(vec_id AS VARCHAR)) AS rn
         |             FROM adc) WHERE rn <= 30),
         |ref AS (SELECT sh.qid AS qid, CAST(sh.vec_id AS VARCHAR) AS id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id
         |        JOIN q ON q.qid = sh.qid)
         |SELECT qid, rnk, id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM
         |  (SELECT qid, id, adc, dist_raw,
         |          row_number() OVER (PARTITION BY qid ORDER BY dist_raw, id) AS rnk
         |   FROM ref) WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    // q144: the batch PQ read replayed keyed by qid — per-query probe
    // sets (partitioned row_number), per-query luts over the shared
    // codebooks, per-query shortlists and rank windows, all over ONE
    // encode (the enc CTE is query-independent)
    "q144_collection_pq_batch" ->
      s"""WITH cct AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
         |             FROM embeddings WHERE vec_id BETWEEN 0 AND 7),
         |cdist AS (SELECT e.vec_id AS vec_id, cct.cell AS cell,
         |                 ${sqlL2("e.embedding", "cct.ce")} AS cd
         |          FROM embeddings e, cct),
         |asg AS (SELECT vec_id, cell FROM
         |          (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |                                                   ORDER BY cd, cell) AS rn
         |           FROM cdist) WHERE rn = 1),
         |q AS (SELECT 0 AS qid, embedding AS qe FROM embeddings WHERE vec_id = 0
         |      UNION ALL
         |      SELECT 1 AS qid, embedding AS qe FROM embeddings WHERE vec_id = 17),
         |pc AS (SELECT qid, cell FROM
         |         (SELECT q.qid AS qid, c.cell AS cell,
         |                 row_number() OVER (PARTITION BY q.qid
         |                                    ORDER BY ${sqlL2("c.ce", "q.qe")}, c.cell) AS rn
         |          FROM cct c, q) WHERE rn <= 2),
         |sub AS (SELECT unnest(range(8)) AS s),
         |cb AS (SELECT sub.s AS s, CAST(e.vec_id - 1 AS INTEGER) AS code,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS cv
         |       FROM embeddings e, sub WHERE e.vec_id BETWEEN 1 AND 16),
         |rs AS (SELECT sub.s AS s, e.vec_id AS vec_id,
         |              list_transform(range(8), j -> e.embedding[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS rv
         |       FROM embeddings e, sub),
         |enc AS (SELECT vec_id, s, code FROM (
         |          SELECT r.vec_id AS vec_id, r.s AS s, c.code AS code,
         |                 row_number() OVER (PARTITION BY r.vec_id, r.s
         |                                    ORDER BY ${sqlL2("r.rv", "c.cv")}, c.code) AS rn
         |          FROM rs r JOIN cb c ON c.s = r.s) WHERE rn = 1),
         |qs AS (SELECT q.qid AS qid, sub.s AS s,
         |              list_transform(range(8), j -> q.qe[CAST(sub.s*8 + j + 1 AS INTEGER)]) AS qv
         |       FROM q, sub),
         |lut AS (SELECT qs.qid AS qid, c.s AS s, c.code AS code,
         |               ROUND(${sqlL2("qs.qv", "c.cv")}, 6) AS d6
         |        FROM cb c JOIN qs ON qs.s = c.s),
         |adc AS (SELECT l.qid AS qid, e.vec_id AS vec_id,
         |               CAST(CAST(SUM(CAST(l.d6 AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS adc
         |        FROM enc e JOIN asg a ON a.vec_id = e.vec_id
         |        JOIN lut l ON l.s = e.s AND l.code = e.code
         |        JOIN pc p ON p.qid = l.qid AND p.cell = a.cell
         |        GROUP BY l.qid, e.vec_id),
         |short AS (SELECT qid, vec_id, adc FROM
         |            (SELECT qid, vec_id, adc,
         |                    row_number() OVER (PARTITION BY qid
         |                                       ORDER BY adc, CAST(vec_id AS VARCHAR)) AS rn
         |             FROM adc) WHERE rn <= 30),
         |ref AS (SELECT sh.qid AS qid, CAST(sh.vec_id AS VARCHAR) AS id, sh.adc AS adc,
         |               ${sqlCos("e.embedding", "q.qe")} AS dist_raw
         |        FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id
         |        JOIN q ON q.qid = sh.qid)
         |SELECT qid, rnk, id, ROUND(adc, 4) + 0.0 AS adc, ROUND(dist_raw, 4) + 0.0 AS dist FROM
         |  (SELECT qid, id, adc, dist_raw,
         |          row_number() OVER (PARTITION BY qid ORDER BY dist_raw, id) AS rnk
         |   FROM ref) WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    // q183: full graph-ANN replay — adjacency (per-src top-6 by l2 with
    // string-id ties), three beam hops (top-8 of visited → neighbor
    // expansion; UNION is the visited-set dedup), top-10 of the final
    // visited set. Every stage mirrors GraphAnn token for token.
    "q183_graph_knn" ->
      s"""WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding
         |  FROM embeddings WHERE vec_id < 600),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 11),
         |adj AS (SELECT src, dst FROM (
         |  SELECT a.id AS src, b.id AS dst, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2("a.embedding", "b.embedding")}, b.id) AS rn
         |  FROM e a JOIN e b ON a.id <> b.id) WHERE rn <= 6),
         |d AS (SELECT e.id AS id, ${sqlL2("e.embedding", "q.qe")} AS dist FROM e, q),
         |v0 AS (SELECT id FROM e WHERE id IN ('0', '1', '2', '3')),
         |f1 AS (SELECT v0.id FROM v0 JOIN d ON d.id = v0.id ORDER BY d.dist, v0.id LIMIT 8),
         |v1 AS (SELECT id FROM v0 UNION SELECT adj.dst FROM adj JOIN f1 ON adj.src = f1.id),
         |f2 AS (SELECT v1.id FROM v1 JOIN d ON d.id = v1.id ORDER BY d.dist, v1.id LIMIT 8),
         |v2 AS (SELECT id FROM v1 UNION SELECT adj.dst FROM adj JOIN f2 ON adj.src = f2.id),
         |f3 AS (SELECT v2.id FROM v2 JOIN d ON d.id = v2.id ORDER BY d.dist, v2.id LIMIT 8),
         |v3 AS (SELECT id FROM v2 UNION SELECT adj.dst FROM adj JOIN f3 ON adj.src = f3.id)
         |SELECT CAST(row_number() OVER (ORDER BY d.dist, v3.id) AS INTEGER) AS rnk,
         |       v3.id AS id, ROUND(d.dist, 6) + 0.0 AS dist
         |FROM v3 JOIN d ON d.id = v3.id
         |ORDER BY d.dist, v3.id LIMIT 10""".stripMargin,
  )
}

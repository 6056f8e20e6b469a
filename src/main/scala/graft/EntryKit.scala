package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.{Collection, CollectionCatalog}
import graft.functions.{Distances, TextAnalysis}
import graft.operators.{Ann, Assemble, ChromaFilter, Dedup, Events, HashingEmbedder, Knn, Lm, Mixture, Multimodal, Retrieval, Sketches, Skew, TfIdfSrpEmbedder}

/** Shared fixtures and oracle-SQL helpers for the SURVEY §2.D query
  * families (pure code motion from the pre-r15 single-file SparkEntry):
  * table readers, the fingerprint-cached store fixtures, rounding rules,
  * and the DuckDB SQL building blocks every family's oracles share.
  */
private[graft] trait EntryKit {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive WIDE read for CPU-dense per-row pipelines (regex
    * scans, codec decodes, distance math): the test fixtures are written
    * as a single parquet row group, so a plain scan is ONE task and every
    * map-side transform serializes on one core no matter how many the
    * session has (guide §2.5 "input skew": one huge unsplittable input —
    * repartition immediately after the read). The round-robin exchange is
    * a few MB here and disappears at scale: when the scan already yields
    * >= session-parallelism partitions (any real deployment's input), the
    * frame is returned UNCHANGED — no shuffle is ever added at 100 TB.
    *
    * Correctness: round-robin repartition is deterministic
    * (sortBeforeRepartition, SPARK-23207) and is only applied by queries
    * whose downstream folds are order-free — per-row projections, exact
    * (count/min/max/decimal/int-sum) aggregates, or the round→decimal-sum
    * discipline (bm25ScoreFold). Queries folding raw doubles across rows
    * (centroid means, SemDeDup) keep the plain `t` read. */
  private[graft] def twide(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(s, dir, name)
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Materialize a frame ONCE before its final global sort (guide §2.1,
    * §5): a range-partitioned orderBy SAMPLES its child to place
    * partition bounds and then executes it AGAIN for the shuffle write,
    * so expensive map-side lineage below a global sort runs twice — and
    * Catalyst never moves a projection below a Sort, so the cost is
    * structural (measured in OPTIMIZATION_r17.md: project-then-sort
    * 0.54 s vs 0.37 s for the same result computed once). A LAZY local
    * checkpoint computes the child once inside the timed action and
    * serves both the sampling pass and the shuffle write from its
    * MEMORY_AND_DISK blocks.
    *
    * Applied only where the child is expensive CPU per row (codec
    * decodes, multi-regex scans, token-hash folds) — for cheap children
    * the materialization write costs more than the second execution
    * (A/B-kept per query, the twide discipline). Scale posture: the
    * checkpointed blocks are exactly the rows the sort must shuffle
    * anyway, so the cache is bounded by the shuffle the query already
    * pays; the alternative at 100 TB is a full extra codec/regex pass
    * over the corpus. */
  private[graft] def pinSort(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** Store root for the write-path queries (q60/q63/q79), keyed by the
    * source dir so each scale gets its own artifacts. Unsigned-widened
    * hash: math.abs would collide two dirs whose hashes differ only in
    * sign (and is negative for Int.MinValue).
    *
    * Lives OUTSIDE the `target/verify-*` namespace on purpose: verify
    * OUTPUT dirs are cleaned between sweeps (`rm -rf target/verify-out*`
    * is the documented recipe), and r13's 271 s cold bench was exactly
    * this fingerprint cache being collateral damage of such a clean
    * (BASELINE.md r13 note) — every cached collection + index rebuilt
    * mid-bench. A one-time rename adopts a pre-r14 cache in place so the
    * move itself never forces the cold rebuild it exists to prevent. */
  private[graft] lazy val collectionsBase: String = {
    val base = new java.io.File("/root/repo/target/graft-collections")
    val legacy = new java.io.File("/root/repo/target/verify-collections")
    if (!base.exists() && legacy.exists()) legacy.renameTo(base)
    base.toString
  }
  private[graft] def verifyCollectionsRoot(dir: String): String =
    s"$collectionsBase/sf_${dir.hashCode.toLong & 0xffffffffL}"

  /** Source-content fingerprint for the cached-collection fixtures below:
    * the file-status tag (mtime ^ scaled size) of the source parquet, the
    * same content key [[cachedExport]] uses. Replaces the former
    * `docs.count()` term: the count was a Spark JOB at every fixture
    * access (~20 queries pay it once per construct, twice per steady
    * bench pass), and at scale a count over a corpus is a job across
    * every file footer while a file-status read is one driver-side
    * metadata call. Strictly stricter as a cache key, too: a regenerated
    * fixture with the SAME row count now invalidates (mtime moves) where
    * the count key would silently reuse stale sidecars. */
  private[graft] def fixtureTag(s: SparkSession, dir: String, table: String): String = {
    import org.apache.hadoop.fs.Path
    val src = new Path(s"$dir/$table.parquet")
    val st = src.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(src)
    java.lang.Long.toHexString(st.getModificationTime ^ (st.getLen * 1315423911L))
  }

  /** The reuse-or-rebuild protocol of every fingerprint-cached fixture
    * collection: `name` is reused when its `source_fp` metadata equals
    * `fp` and it is `ready` (its sidecar indexes committed); otherwise it
    * is dropped, `build` creates and fills it afresh, and `fp` is stamped
    * last — a build that dies before the stamp is redone on the next
    * access. */
  private[graft] def cachedCollection(cat: CollectionCatalog, name: String, fp: String,
                                      ready: Collection => Boolean = _ => true)(
      build: => Collection): Collection =
    cat.getCollection(name)
      .filter(c => c.meta.metadata.get("source_fp").contains(fp) && ready(c))
      .getOrElse {
        cat.deleteCollection(name)
        val c = build
        c.modifyMetadata(Map("source_fp" -> fp))
        c
      }

  /** The fingerprint-cached keyword-indexed collection shared by q154 and
    * q157 (the sidecar BM25 read and the indexed hybrid fusion): the full
    * documents table hydrated THROUGH an incremental keyword-index
    * refresh (bulk add + build, then an upsert slice + refresh, which
    * rebuilds only touched id buckets and carries the rest by manifest). */
  private[graft] def kwxCollection(s: SparkSession, dir: String): Collection = {
    val root = verifyCollectionsRoot(dir)
    val cat = new CollectionCatalog(s, root, numBuckets = 8)
    // fp v2: rows carry the lang metadata column (q165's where-filter
    // target) — BM25 scores are independent of extra metadata columns,
    // so q154/q157/q159 hashes are unchanged by the re-hydration
    val fp = s"kwx2|$dir|tag=${fixtureTag(s, dir, "documents")}"
    val coll = cachedCollection(cat, "kwx", fp, _.hasKeywordIndex) {
      val c = cat.getOrCreateCollection("kwx")
      val all = t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang"))
      c.add(all.filter(col("id").cast("long") % 7 =!= 3))
      c.buildKeywordIndex()
      c.upsert(all.filter(col("id").cast("long") % 7 === 3))
      val rebuilt = c.refreshKeywordIndex()
      require(rebuilt > 0, "kwx must exercise an incremental refresh")
      c
    }
    require(coll.hasKeywordIndex, "kwx must serve through the keyword sidecar")
    coll
  }

  /** The fingerprint-cached ANALYZER collection for q161/q162: the
    * documents text with deterministic punctuation attached to every
    * token (`<<w1, w2, ..., wn...`) hydrated under the "simple" keyword
    * analyzer setting (`graft:analyzer` collection metadata — the rule a
    * punctuated natural-language RAG query needs), exercised through the
    * same incremental keyword-refresh discipline as [[kwxCollection]] so
    * the analyzer stamp rides the carry path too. */
  private[graft] def kwaCollection(s: SparkSession, dir: String): Collection = {
    val root = verifyCollectionsRoot(dir)
    val cat = new CollectionCatalog(s, root, numBuckets = 8)
    val fp = s"kwa1|$dir|tag=${fixtureTag(s, dir, "documents")}"
    val coll = cachedCollection(cat, "kwa", fp, _.hasKeywordIndex) {
      val c = cat.getOrCreateCollection("kwa",
        metadata = Map(Collection.AnalyzerKey -> "simple"))
      val all = t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
        concat(lit("<<"), regexp_replace(col("text"), " ", ", "), lit("..."))
          .as("document"))
      c.add(all.filter(col("id").cast("long") % 7 =!= 3))
      c.buildKeywordIndex()
      c.upsert(all.filter(col("id").cast("long") % 7 === 3))
      val rebuilt = c.refreshKeywordIndex()
      require(rebuilt > 0, "kwa must exercise an incremental refresh")
      c
    }
    require(coll.hasKeywordIndex && coll.analyzer == "simple",
      "kwa must serve through an analyzer-stamped keyword sidecar")
    coll
  }

  /** The fingerprint-cached trigram-doc-indexed collection shared by
    * q112 and q173 ($contains and $regex through the same postings
    * build): hydrated THROUGH the incremental-refresh path (bulk add +
    * buildDocIndex, then an upsert slice + refreshDocIndex — only
    * touched id buckets re-derive postings, the rest carry). */
  private[graft] def dixCollection(s: SparkSession, dir: String): Collection = {
    val root = verifyCollectionsRoot(dir)
    val cat = new CollectionCatalog(s, root, numBuckets = 8)
    val fp = s"dix3|$dir|tag=${fixtureTag(s, dir, "documents")}"
    val coll = cachedCollection(cat, "dix", fp, _.hasDocIndex) {
      val c = cat.getOrCreateCollection("dix")
      val all = t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang"), col("n_chars"))
      c.add(all.filter(col("id").cast("long") % 7 =!= 3))
      c.buildDocIndex()
      c.upsert(all.filter(col("id").cast("long") % 7 === 3))
      val rebuilt = c.refreshDocIndex()
      require(rebuilt > 0, "dix must exercise an incremental refresh")
      c
    }
    require(coll.hasDocIndex, "dix must exercise the postings index")
    coll
  }

  /** The fingerprint-cached hash-embedded + trigram-doc-indexed
    * collection shared by q124 and q172 (queryText with a where_document
    * prefilter, via the Scala API and via the `graft_knn` SQL table
    * function). */
  private[graft] def qtdCollection(s: SparkSession, dir: String): Collection = {
    val root = verifyCollectionsRoot(dir)
    val cat = new CollectionCatalog(s, root, numBuckets = 8)
    val fp = s"qtd2|$dir|tag=${fixtureTag(s, dir, "documents")}|embed=hash16"
    val coll = cachedCollection(cat, "qtd", fp, _.hasDocIndex) {
      val c = cat.getOrCreateCollection("qtd", space = "cosine")
      c.addDocuments(t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang")), HashingEmbedder(16))
      c.buildDocIndex()
      c
    }
    require(coll.hasDocIndex, "qtd must exercise the postings index")
    coll
  }

  /** The fingerprint-cached hash-embedded + keyword-indexed collection
    * shared by q158 and q163 (the one-call hybrid, via the Scala API and
    * via the `graft_hybrid` SQL table function). */
  private[graft] def hyxCollection(s: SparkSession, dir: String): Collection = {
    val root = verifyCollectionsRoot(dir)
    val cat = new CollectionCatalog(s, root, numBuckets = 8)
    // fp v2: rows carry lang (q166's hybrid where-filter target); the
    // unfiltered q158/q163 hashes are metadata-column-independent
    val fp = s"hyx2|$dir|tag=${fixtureTag(s, dir, "documents")}"
    val coll = cachedCollection(cat, "hyx", fp, _.hasKeywordIndex) {
      val c = cat.getOrCreateCollection("hyx", space = "cosine")
      c.addDocuments(t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang")), HashingEmbedder(16))
      c.buildKeywordIndex()
      c
    }
    require(coll.hasKeywordIndex, "hyx must serve the keyword leg through the sidecar")
    coll
  }

  /** The fingerprint-cached PQ-indexed, hash-embedded collection shared
    * by q150 and q160 (text→PQ reads, and the both-legs-indexed hybrid). */
  private[graft] def qtpqCollection(s: SparkSession, dir: String): Collection = {
    val root = verifyCollectionsRoot(dir)
    val cat = new CollectionCatalog(s, root, numBuckets = 8)
    val fp = s"qtpq1|$dir|tag=${fixtureTag(s, dir, "documents")}|embed=hash16|cs=0-7|ps=1-16|m=8"
    cachedCollection(cat, "qtpq", fp, _.hasIndex) {
      val c = cat.getOrCreateCollection("qtpq", space = "cosine")
      c.addDocuments(t(s, dir, "documents").select(col("doc_id").cast("string").as("id"),
        col("text").as("document"), col("lang")), HashingEmbedder(16))
      c.buildIndexPqSeeded((0L until 8L).map(_.toString),
        (1L to 16L).map(_.toString), m = 8)
      c
    }
  }

  /** The fingerprint-cached seeded IVF-PQ collection over `emb` (the
    * embeddings table) shared by q140 and q144 (single and batch PQ
    * reads). fp = store-format/algo tag + source + BUILD PARAMS: any
    * change to encode/codebook semantics bumps the tag (pq1->pq2 flushed
    * the r11 pre-commit build) and any re-seed/re-dial changes the param
    * tail — fingerprint reuse can never serve a stale build (VERDICT r11
    * #1b). String ids, so every tie-break is string order in both
    * engines. */
  private[graft] def pqidxCollection(s: SparkSession, dir: String, emb: DataFrame): Collection = {
    val cat = new CollectionCatalog(s, verifyCollectionsRoot(dir))
    val fp = s"pq2|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7|ps=1-16|m=8"
    cachedCollection(cat, "pqidx", fp, _.hasIndex) {
      val c = cat.getOrCreateCollection("pqidx", "cosine")
      c.add(emb.select(col("vec_id").cast("string").as("id"),
        col("embedding"), col("label")))
      c.buildIndexPqSeeded((0L until 8L).map(_.toString),
        (1L to 16L).map(_.toString), m = 8)
      c
    }
  }

  /** The fingerprint-cached RESIDUAL IVF-PQ collection over `emb` shared
    * by q145 and q149 (single and batch residual reads). PQ seeds are
    * disjoint from cell seeds: a cell seed's residual is the zero vector
    * (q141's degeneracy argument). */
  private[graft] def pqridxCollection(s: SparkSession, dir: String, emb: DataFrame): Collection = {
    val cat = new CollectionCatalog(s, verifyCollectionsRoot(dir))
    val fp = s"pqr1|$dir|tag=${fixtureTag(s, dir, "embeddings")}|cs=0-7|ps=10-25|m=8"
    cachedCollection(cat, "pqridx", fp, _.hasIndex) {
      val c = cat.getOrCreateCollection("pqridx", "cosine")
      c.add(emb.select(col("vec_id").cast("string").as("id"),
        col("embedding"), col("label")))
      c.buildIndexPqResidualSeeded((0L until 8L).map(_.toString),
        (10L to 25L).map(_.toString), m = 8)
      c
    }
  }

  /** events.ts is parquet TIMESTAMP(NANOS) which Spark only reads as a long
    * (nanos) via this legacy flag; DuckDB truncates the same values to µs.
    * All event-time arithmetic therefore happens on integer MICROSECONDS on
    * both engines — exact parity, no float drift. Sources may also carry a
    * true timestamp column (e.g. the ScaleUp replica's micros round-trip);
    * either physical type lands on the same canonical `us` basis. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    val us = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      // naive timestamps (timestamp[us] parquet with no tz) land as NTZ;
      // the session tz is pinned UTC (GraftSession), so the cast to
      // TIMESTAMP reinterprets the same wall-clock instant DuckDB's
      // epoch_us reads — exact micros parity
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    raw.withColumn("us", us)
  }

  private[graft] def headVec(emb: DataFrame, id: Long): Seq[Float] =
    emb.filter(col("vec_id") === id).select("embedding").head().getSeq[Float](0)

  /** SURVEY §2.D rule 2c: every terminal rounded float goes through
    * [[Distances.roundz]] (round + signed-zero normalization). Spark's
    * BigDecimal round can't emit −0.0 today, but the rule is structural —
    * the +0.0 identity keeps query entries immune to any future rounding
    * path (and mirrors the `+ 0.0` every oracle ROUND carries). */
  private[graft] def roundz(c: Column, scale: Int): Column = Distances.roundz(c, scale)

  /** Shared export cache for the round-trip queries (q110/q118/q119): one
    * export per (fixture content, kind). Key = source CONTENT (mtime+size),
    * not the dir-path hash — a regenerated fixture or a colliding path
    * hash must never silently reuse a stale export; completeness = the
    * `_SUCCESS` marker (written last by the committer), so a killed
    * half-written export re-exports instead of hash-mismatching. All
    * probes through Hadoop FS, never java.io.File (the verify dir may be
    * remote one day — Ann.writeIvf's rationale). */
  private[graft] def cachedExport(s: SparkSession, dir: String, table: String,
                           kind: String)(write: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val hconf = s.sparkContext.hadoopConfiguration
    val src = new Path(s"$dir/$table.parquet")
    val st = src.getFileSystem(hconf).getFileStatus(src)
    val tag = java.lang.Long.toHexString(
      st.getModificationTime ^ (st.getLen * 1315423911L))
    val path = s"/root/repo/target/verify-$kind/sf_$tag"
    if (!new Path(path).getFileSystem(hconf).exists(new Path(path, "_SUCCESS")))
      write(path)
    path
  }

  // ---- DuckDB-side distance SQL, mirroring graft.functions.Distances ----
  // (same Double casts, same index order, same 1 - dot/(sqrt*sqrt) shape)
  private[graft] def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), j -> CAST($a[j+1] AS DOUBLE) * CAST($b[j+1] AS DOUBLE)))"
  private[graft] def sqlCos(a: String, b: String): String =
    s"1 - (${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"
  private[graft] def sqlL2(a: String, b: String): String =
    s"list_sum(list_transform(range(len($a)), j -> (CAST($a[j+1] AS DOUBLE) - CAST($b[j+1] AS DOUBLE)) * (CAST($a[j+1] AS DOUBLE) - CAST($b[j+1] AS DOUBLE))))"
  private[graft] def sqlIp(a: String, b: String): String = s"1 - ${sqlDot(a, b)}"

  /** DuckDB replay of [[graft.expressions.StrHash]] (the engine-portable
    * id hash; same form as the q58 oracle). */
  private[graft] def sqlStrHash(e: String): String =
    s"COALESCE(list_sum(list_transform(range(length($e)), " +
      s"i -> ascii(substr($e, CAST(i + 1 AS INTEGER), 1)) * (((i * 131) % 997) + 1))), 0)"

  /** DuckDB replay of Mixture's thresholdable spread of [[sqlStrHash]]
    * (31-bit clamp then multiplicative mix — see Mixture.idHash for why
    * the raw polynomial can neither be thresholded directly nor multiplied
    * unclamped). */
  private[graft] def sqlSpreadHash(e: String): String =
    s"(((${sqlStrHash(e)} % 2147483647) * 2654435761) % 1000000007)"

  /** DuckDB replay of Ann.srpBucket's fixed projection arithmetic. */
  private[graft] def sqlSrpBucket(v: String, dim: Int = 64, nBits: Int = 8,
      off: String = "0"): String =
    s"""CAST(list_sum(list_transform(range($nBits), b ->
       |  CASE WHEN list_sum(list_transform(range($dim), j ->
       |         CAST($v[j+1] AS DOUBLE)
       |         * (((1103515245 * ((b + $off)*$dim + j) + 12345) % 2001 - 1000) / 1000.0))) >= 0
       |       THEN CAST(POWER(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** DuckDB replay of [[graft.operators.Retrieval.bm25TopK]] ending in a
    * `kwtop(id, score, rnk)` CTE. Every numeric literal interpolates from
    * the SAME Scala double the Spark side computes with (shortest-roundtrip
    * toString), so both engines parse bit-identical constants — `k1 + 1`
    * in particular sits on a rounding boundary a hand-written `2.2` could
    * miss. The arithmetic parenthesization mirrors the Column expression
    * token for token; only IEEE-exact ops appear (log-free idf). */
  /** `idFilter` replays the engine's prefilter rule (keywordTopK's
    * `where`): a boolean over `kws.id` applied BETWEEN the score fold
    * and the rank/top-n — eligibility changes WHICH documents rank,
    * never their scores (BM25 statistics stay corpus-global, the Lucene
    * filter-query contract). */
  private[graft] def sqlBm25(n: Int, terms: Seq[String] = Seq("hash", "join", "stream"),
                      k1: Double = 1.2, b: Double = 0.75,
                      idExpr: String = "doc_id",
                      tokCte: Option[String] = None,
                      idFilter: Option[String] = None): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val toks = tokCte.getOrElse(
      s"""toks AS (SELECT $idExpr AS id,
         |              unnest(string_split_regex(lower(text), '\\s+')) AS term
         |              FROM documents)""".stripMargin)
    val elig = idFilter.map(f => s"WHERE $f ").getOrElse("")
    s"""WITH $toks,
       |dl AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY id),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
       |tf AS (SELECT id, term, COUNT(*) AS tf FROM toks
       |       WHERE term IN ($termList) GROUP BY id, term),
       |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.id,
       |    ROUND((((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * (tf * ${k1 + 1}))
       |      / (tf + $k1 * (${1 - b} + ($b * CAST(dl AS DOUBLE) * n_docs) / CAST(tot_dl AS DOUBLE))), 6) AS s
       |    FROM tf JOIN dft USING (term) JOIN dl USING (id) CROSS JOIN stats),
       |kws AS (SELECT id, CAST(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS score
       |        FROM sc GROUP BY id),
       |kwtop AS (SELECT id, score, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rnk
       |          FROM kws ${elig}ORDER BY score DESC, id LIMIT $n)""".stripMargin
  }

  /** The "simple" ANALYZER's toks CTE over the q161/q162 fixture corpus
    * (the documents text with deterministic punctuation attached:
    * `<<w1, w2, ..., wn...`): lowercase, whitespace split, strip
    * leading/trailing non-[letter/digit], drop empties — the literal
    * DuckDB replay of [[graft.operators.Retrieval.termsCol]]'s "simple"
    * rule (Java regex and RE2 agree on \\p{L}/\\p{N} classes). */
  private[graft] def sqlBm25SimpleToks(idExpr: String = "CAST(doc_id AS VARCHAR)"): String =
    s"""pdocs AS (SELECT $idExpr AS id,
       |       concat('<<', regexp_replace(text, ' ', ', ', 'g'), '...') AS ptext
       |       FROM documents),
       |rawt AS (SELECT id, unnest(string_split_regex(lower(ptext), '\\s+')) AS rt
       |         FROM pdocs),
       |stript AS (SELECT id,
       |       regexp_replace(regexp_replace(rt, '^[^\\p{L}\\p{N}]+', ''),
       |                      '[^\\p{L}\\p{N}]+$$', '') AS term
       |       FROM rawt),
       |toks AS (SELECT id, term FROM stript WHERE length(term) > 0)""".stripMargin

  private[graft] lazy val sqlHybridTextOracle: String = sqlHybridText()

  /** The one-call-hybrid replay, optionally under the engine's
    * prefilters: `idFilter` confines the keyword leg (sqlBm25's rule —
    * between fold and rank), `vecFilter` the vector leg (between the
    * cosine distances and the rank window) — BOTH legs rank eligible
    * documents only, exactly queryHybridText(where=...)'s contract.
    * `k`/`fetchN` mirror the call's output/leg-depth dials; `finalAs`
    * turns the final select into a named CTE so a composing oracle
    * (q170's rerank) can keep deriving from the fused list. */
  private[graft] def sqlHybridText(idFilter: Option[String] = None,
                                   vecFilter: Option[String] = None,
                                   k: Int = 20, fetchN: Int = 50,
                                   finalAs: Option[String] = None): String = {
      val hash = sqlStrHash("tm")
      val velig = vecFilter.map(f => s" WHERE $f").getOrElse("")
      sqlBm25(fetchN, idExpr = "CAST(doc_id AS VARCHAR)", idFilter = idFilter) + s""",
         |qt AS (SELECT 0 AS qid, 'hash join stream' AS qtext),
         |toks2 AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tm
         |          FROM documents),
         |tk2 AS (SELECT doc_id, $hash AS h FROM toks2 WHERE length(tm) > 0),
         |sums2 AS (SELECT doc_id, CAST(h % 16 AS INTEGER) AS b,
         |                 SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |          FROM tk2 GROUP BY doc_id, b),
         |grid2 AS (SELECT dd.doc_id, bb.b FROM (SELECT DISTINCT doc_id FROM documents) dd
         |          CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |vecs2 AS (SELECT g.doc_id, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS v
         |          FROM grid2 g LEFT JOIN sums2 s ON s.doc_id = g.doc_id AND s.b = g.b
         |          GROUP BY g.doc_id),
         |qtoks2 AS (SELECT qid, unnest(string_split_regex(lower(qtext), '\\s+')) AS tm FROM qt),
         |qtk2 AS (SELECT qid, $hash AS h FROM qtoks2 WHERE length(tm) > 0),
         |qsums2 AS (SELECT qid, CAST(h % 16 AS INTEGER) AS b,
         |                  SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) AS s
         |           FROM qtk2 GROUP BY qid, b),
         |qgrid2 AS (SELECT qq.qid, bb.b FROM (SELECT DISTINCT qid FROM qt) qq
         |           CROSS JOIN (SELECT unnest(range(16)) AS b) bb),
         |qvecs2 AS (SELECT g.qid, list(CAST(COALESCE(s.s, 0) AS DOUBLE) ORDER BY g.b) AS qv
         |           FROM qgrid2 g LEFT JOIN qsums2 s ON s.qid = g.qid AND s.b = g.b
         |           GROUP BY g.qid),
         |cd2 AS (SELECT v.doc_id, ${sqlCos("v.v", "q.qv")} AS dist_raw
         |        FROM vecs2 v CROSS JOIN qvecs2 q),
         |vr AS (SELECT id, rnk FROM (SELECT CAST(doc_id AS VARCHAR) AS id,
         |         ROW_NUMBER() OVER (ORDER BY dist_raw, CAST(doc_id AS VARCHAR)) AS rnk
         |       FROM cd2$velig) WHERE rnk <= $fetchN)""".stripMargin + {
        val fusedSelect = s"""SELECT COALESCE(k.id, v.id) AS id,
           |  ROUND(COALESCE(1.0 / (60 + k.rnk), 0) + COALESCE(1.0 / (60 + v.rnk), 0), 6) + 0.0 AS rrf
           |FROM kwtop k FULL OUTER JOIN vr v ON k.id = v.id
           |ORDER BY rrf DESC, id LIMIT $k""".stripMargin
        finalAs match {
          case Some(name) => s",\n$name AS ($fusedSelect)"
          case None => s"\n$fusedSelect"
        }
      }
    }

  private[graft] def sqlKnnSingle(distSql: String, extraWhere: String = ""): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT e.vec_id AS vec_id, $distSql AS dist_raw
       |      FROM embeddings e, q WHERE e.vec_id <> 0 $extraWhere)
       |SELECT vec_id, ROUND(dist_raw, 4) + 0.0 AS dist FROM d
       |ORDER BY dist_raw, vec_id LIMIT 10""".stripMargin

  private[graft] val enStop = TextAnalysis.stopwordList("en")
  private[graft] def sqlInList(ws: Seq[String]): String = ws.map("'" + _ + "'").mkString("(", ", ", ")")

  /** The "english" ANALYZER's toks CTE over the raw documents text:
    * lowercase, \s+ split, strip non-[letter/digit] edges, drop empties
    * AND English stopwords — the literal DuckDB replay of
    * [[graft.operators.Retrieval.termsCol]]'s "english" rule, the stop
    * list inlined from the same [[TextAnalysis.stopwordList]] source. */
  private[graft] def sqlBm25EnglishToks(idExpr: String = "doc_id"): String =
    s"""rawt AS (SELECT $idExpr AS id,
       |         unnest(string_split_regex(lower(text), '\\s+')) AS rt
       |         FROM documents),
       |stript AS (SELECT id,
       |       regexp_replace(regexp_replace(rt, '^[^\\p{L}\\p{N}]+', ''),
       |                      '[^\\p{L}\\p{N}]+$$', '') AS term
       |       FROM rawt),
       |toks AS (SELECT id, term FROM stript
       |         WHERE length(term) > 0 AND term NOT IN ${sqlInList(enStop)})""".stripMargin
}

package graft

import org.apache.spark.sql.functions._

import graft.catalog.{Collection, CollectionCatalog}
import graft.operators.{HashingEmbedder, KeywordIndex, Retrieval}

/** The keyword ANALYZER setting (`graft:analyzer` collection metadata):
  * ONE tokenization rule shared by the corpus scan, the sidecar build
  * (stamped per build) and the query side. Pins: the "simple" rule's
  * semantics, scan ≡ index bit-equality under it, query-side term
  * normalization, the stamp surviving reopen, a re-pointed analyzer
  * bypassing the stale sidecar (correct scan fallback) until a FULL
  * refresh rebuilds, and loud rejection of unknown rules. */
class KeywordAnalyzerSpec extends SparkTestBase {
  import spark.implicits._

  // punctuated natural-language corpus: edge punctuation everywhere,
  // interior punctuation that must SURVIVE ("o'brien", "3.14"), a token
  // that strips to empty ("--"), mixed case, and a null document
  private val corpus = Seq(
    ("1", "Spark joins: hash joins, and more JOINS."),
    ("2", "\"Hash\" tables back the hash-join!"),
    ("3", "Stream processing -- with watermarks..."),
    ("4", "o'brien wrote 3.14 (approximately)"),
    ("5", null: String))

  private def coll(name: String = "ka"): Collection = {
    val cat = new CollectionCatalog(spark, tmpDir("kwa-test"), numBuckets = 4)
    val c = cat.getOrCreateCollection(name,
      metadata = Map(Collection.AnalyzerKey -> "simple"))
    c.add(corpus.toDF("id", "document"))
    c
  }

  test("simple rule: edge punctuation strips, interior survives, empties drop") {
    val toks = corpus.toDF("id", "document")
      .select(Retrieval.termsCol(col("document"), "simple").as("t"))
      .filter(col("t").isNotNull).as[Seq[String]].collect().toSeq
    assert(toks(0) == Seq("spark", "joins", "hash", "joins", "and", "more", "joins"))
    assert(toks(1) == Seq("hash", "tables", "back", "the", "hash-join"))
    assert(toks(2) == Seq("stream", "processing", "with", "watermarks")) // "--" drops
    assert(toks(3) == Seq("o'brien", "wrote", "3.14", "approximately"))
    // the whitespace rule is byte-for-byte the original: no stripping
    val ws = corpus.toDF("id", "document")
      .select(Retrieval.termsCol(col("document"), "whitespace").as("t"))
      .filter(col("t").isNotNull).as[Seq[String]].collect().toSeq
    assert(ws(0).head == "spark" && ws(0).last == "joins.")
  }

  test("queryTerms: driver-side twin of the column rule, distinct, analyzer-aware") {
    assert(Retrieval.queryTerms("Spark JOINS. joins, (hash)", "simple") ==
      Seq("spark", "joins", "hash"))
    assert(Retrieval.queryTerms("Spark JOINS. joins,", "whitespace") ==
      Seq("spark", "joins.", "joins,"))
    // a term that strips to nothing disappears
    assert(Retrieval.queryTerms("--- hash !!", "simple") == Seq("hash"))
    intercept[IllegalArgumentException](Retrieval.queryTerms("x", "stemming"))
  }

  test("collection: sidecar-served BM25 under 'simple' is BIT-equal to the scan") {
    val c = coll()
    // raw user terms — punctuated, mixed case — normalized on the query side
    val raw = Seq("JOINS.", "hash,", "Stream")
    c.buildKeywordIndex()
    assert(c.hasKeywordIndex)
    val indexed = c.keywordTopK(raw, 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    c.dropKeywordIndex()
    val scan = c.keywordTopK(raw, 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(indexed == scan && indexed.nonEmpty)
    // "joins" matches doc 1 (3 occurrences) — the punctuated corpus is
    // reachable from a punctuated query, the whole point of the rule
    assert(indexed.map(_._1).contains("1"))
  }

  test("analyzer stamp: recorded in the build dir and surviving reopen") {
    val root = tmpDir("kwa-reopen")
    val cat = new CollectionCatalog(spark, root, numBuckets = 4)
    val c = cat.getOrCreateCollection("ka",
      metadata = Map(Collection.AnalyzerKey -> "simple"))
    c.add(corpus.toDF("id", "document"))
    c.buildKeywordIndex()
    // the committed build dir physically carries the stamp file
    val buildDirs = new java.io.File(root, "ka").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("kwindex_v")).toSeq
    assert(buildDirs.nonEmpty)
    assert(buildDirs.forall(d =>
      new java.io.File(d, KeywordIndex.AnalyzerStamp).exists()))
    // setting survives reopen through a FRESH catalog (it lives in
    // meta.json), and the reopened handle serves through the sidecar
    val again = new CollectionCatalog(spark, root, numBuckets = 4)
      .getCollection("ka").get
    assert(again.analyzer == "simple")
    assert(again.hasKeywordIndex)
    assert(again.keywordTopK(Seq("joins."), 5).collect()
      .map(_.getString(0)).contains("1"))
  }

  test("re-pointed analyzer: stale sidecar bypassed, full refresh rebuilds") {
    val c = coll()
    c.buildKeywordIndex()
    val rawQ = Seq("joins.")
    val servedSimple = c.keywordTopK(rawQ, 10).collect()
    assert(servedSimple.nonEmpty)
    // re-point to whitespace: the committed build's stamp now disagrees —
    // reads must fall back to the scan (correct under the NEW rule: the
    // literal token "joins." only exists unstripped)
    c.modifyMetadata(Map(Collection.AnalyzerKey -> "whitespace"))
    assert(c.analyzer == "whitespace")
    assert(c.hasKeywordIndex) // a committed build exists...
    val afterRepoint = c.keywordTopK(Seq("joins."), 10).collect()
    // ...but the scan under 'whitespace' matches the RAW token "joins."
    // (doc 1 ends with it) — sidecar-served 'simple' postings would have
    // returned the stripped-world scores instead
    assert(afterRepoint.map(_.getString(0)).contains("1"))
    // refresh must NOT carry slices across the stamp change: full rebuild
    assert(c.refreshKeywordIndex() == 4) // = numBuckets
    val servedWs = c.keywordTopK(Seq("joins."), 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(servedWs == afterRepoint.map(r =>
      (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq)
    // and a refresh when already current+stamped is a no-op
    assert(c.refreshKeywordIndex() == 0)
  }

  test("hybrid read path tokenizes the query text with the analyzer") {
    val cat = new CollectionCatalog(spark, tmpDir("kwa-hyb"), numBuckets = 4)
    val c = cat.getOrCreateCollection("h", space = "cosine",
      metadata = Map(Collection.AnalyzerKey -> "simple"))
    c.addDocuments(corpus.filter(_._2 != null).toDF("id", "document"),
      HashingEmbedder(8))
    c.buildKeywordIndex()
    val hits = c.queryHybridText("JOINS, hash!", k = 3, fetchN = 4)
      .collect().map(_.getString(0)).toSeq
    assert(hits.nonEmpty && hits.contains("1"))
  }

  test("english rule: simple + stopword drop, from dl too; sidecar ≡ scan") {
    // "the" is in TextAnalysis.stopwordList("en") — it must vanish from
    // tokens (and thus the BM25 length norm), in corpus and query alike
    val toks = Seq(("1", "The hash, beats the sort!")).toDF("id", "document")
      .select(Retrieval.termsCol(col("document"), "english").as("t"))
      .as[Seq[String]].collect().head
    assert(toks == Seq("hash", "beats", "sort"))
    assert(Retrieval.queryTerms("The hash! the", "english") == Seq("hash"))
    // all-stopword queries are loud, not silently empty
    val cat = new CollectionCatalog(spark, tmpDir("kwa-en"), numBuckets = 4)
    val c = cat.getOrCreateCollection("e",
      metadata = Map(Collection.AnalyzerKey -> "english"))
    c.add(corpus.toDF("id", "document"))
    val e = intercept[IllegalArgumentException](c.keywordTopK(Seq("the", "of"), 5))
    assert(e.getMessage.contains("no query term survives"))
    // sidecar ≡ scan under english (the shared-fold + shared-rule contract)
    c.buildKeywordIndex()
    val idx = c.keywordTopK(Seq("joins!", "The hash"), 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    c.dropKeywordIndex()
    val scan = c.keywordTopK(Seq("joins!", "The hash"), 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(idx == scan && idx.nonEmpty)
    // stopwords really left the LENGTH NORM, not just the match set: doc
    // 2 ("\"Hash\" tables back the hash-join!") tokenizes to 4 terms
    // under english (the "the" drops) vs 5 under simple
    val dl = Seq(corpus(1)).toDF("id", "document")
      .select(size(Retrieval.termsCol(col("document"), "english")).as("n"),
        size(Retrieval.termsCol(col("document"), "simple")).as("m"))
      .collect().head
    assert(dl.getInt(0) == 4 && dl.getInt(1) == 5)
  }

  test("unknown analyzers fail loudly at creation and at modifyMetadata") {
    val cat = new CollectionCatalog(spark, tmpDir("kwa-bad"), numBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      cat.getOrCreateCollection("bad",
        metadata = Map(Collection.AnalyzerKey -> "porter"))
    }
    assert(e.getMessage.contains("unknown analyzer"))
    val c = cat.getOrCreateCollection("ok")
    intercept[IllegalArgumentException] {
      c.modifyMetadata(Map(Collection.AnalyzerKey -> "porter"))
    }
  }

  test("a reborn keyword build is never served under the dead build's analyzer stamp") {
    val root = tmpDir("kwa-reborn")
    val cat = new CollectionCatalog(spark, root, numBuckets = 4)
    // "hash" matches doc 1 under both rules; "joins" and doc 2's quoted
    // "Hash" match only under "simple" — so a "simple" sidecar served to a
    // "whitespace" query answers differently from the scan
    val terms = Seq("joins", "hash")
    def top(c: Collection) = c.keywordTopK(terms, 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val dead = cat.getOrCreateCollection("r",
      metadata = Map(Collection.AnalyzerKey -> "whitespace"))
    dead.add(corpus.toDF("id", "document"))
    dead.buildKeywordIndex()
    top(dead) // the sidecar path reads this build's stamp: "whitespace"
    assert(cat.deleteCollection("r"))
    val c = cat.getOrCreateCollection("r",
      metadata = Map(Collection.AnalyzerKey -> "simple"))
    c.add(corpus.toDF("id", "document"))
    c.buildKeywordIndex() // the same build path, stamped "simple"
    c.modifyMetadata(Map(Collection.AnalyzerKey -> "whitespace"))
    val served = top(c)
    c.dropKeywordIndex()
    val scan = top(c)
    assert(scan.nonEmpty && served == scan,
      s"the reborn 'simple' build answered a 'whitespace' query: $served vs scan $scan")
  }
}

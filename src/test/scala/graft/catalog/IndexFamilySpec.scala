package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{ChromaFilter, Retrieval}

/** All three sidecar index families (IVF `index`, trigram `docindex`,
  * keyword `kwindex`) on ONE collection, driven through the calls that
  * dispatch over every family at once: refreshIndexes, compactIndexes,
  * vacuum, and a drop that refreshIndexes must honor. */
class IndexFamilySpec extends graft.SparkTestBase {
  import spark.implicits._

  private val io: StoreIO = new StoreIO.Local
  private val families = Seq("index", "docindex", "kwindex")

  private def rows(ids: Range) = ids.map { i =>
    (s"id$i", s"doc $i ${if (i % 3 == 0) "brown fox" else "lazy dog"} w${i % 5}",
      Seq(i.toFloat, (i % 4).toFloat))
  }.toDF("id", "document", "embedding")

  /** Build dir names per family. */
  private def builds(coll: Path): Map[String, Set[String]] = {
    val names = io.list(coll).filter(_.isDir).map(_.name)
    families.map(f => f -> names.filter(_.startsWith(s"${f}_v")).toSet).toMap
  }

  private def assertReadsMatchScans(c: Collection): Unit = {
    val q = Seq(7f, 3f)
    assert(c.query(q, k = 5, nprobe = 2).select("id", "dist").collect().toSeq ==
      c.query(q, k = 5, exact = true).select("id", "dist").collect().toSeq)
    assert(c.get(whereDoc = Some(ChromaFilter.Contains("brown fox")))
      .select("id").as[String].collect().toSet ==
      c.toDF.filter(col("document").contains("brown fox")).select("id").as[String].collect().toSet)
    val terms = Seq("brown", "w2", "dog")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(ranked(c.keywordTopK(terms, 6)) ==
      ranked(Retrieval.bm25TopK(c.toDF, "id", "document", terms, 6)))
  }

  test("refreshIndexes, compactIndexes and vacuum dispatch over all three families") {
    val root = tmpDir("family-test")
    val cat = new CollectionCatalog(spark, root, numBuckets = 4)
    val c = cat.getOrCreateCollection("c", metadata = Map("ivf:nlist" -> "2"))
    val coll = new Path(root, "c")
    c.add(rows(0 until 24))
    c.buildIndex(nlist = 2)
    c.buildDocIndex()
    c.buildKeywordIndex()
    assert(c.hasIndex && c.hasDocIndex && c.hasKeywordIndex)

    // one id → exactly one id bucket changes
    c.upsert(Seq(("id4", "rewritten brown fox w2", Seq(7f, 3f)))
      .toDF("id", "document", "embedding"))
    assert(c.refreshIndexes() == families.map(_ -> 1).toMap)
    assertReadsMatchScans(c)

    val beforeCompact = builds(coll)
    assert(c.compactIndexes() == 3)
    val compacted = builds(coll).map { case (f, bs) => f -> (bs -- beforeCompact(f)) }
    families.foreach(f => assert(compacted(f).size == 1, s"$f: $compacted"))

    c.vacuum()
    val after = builds(coll)
    families.foreach { f =>
      assert(after(f) == compacted(f),
        s"$f: vacuum must reclaim every superseded build, left ${after(f)}")
      assert(beforeCompact(f).forall(b => !after(f).contains(b)))
    }
    assertReadsMatchScans(c)

    // a drop of one family is not undone by the multi-family refresh
    assert(c.dropDocIndex())
    c.upsert(Seq(("id9", "another brown fox w1", Seq(2f, 2f)))
      .toDF("id", "document", "embedding"))
    assert(c.refreshIndexes().keySet == Set("index", "kwindex"))
    assert(!c.hasDocIndex && c.hasIndex && c.hasKeywordIndex)
    assert(builds(coll)("docindex").isEmpty)
    assertReadsMatchScans(c)
  }

  /** Centroid and PQ codebook sidecar text of the newest committed IVF build. */
  private def ivfSidecars(coll: Path): Map[String, String] = {
    val newest = io.list(coll).filter(e => e.isDir && e.name.startsWith("index_v"))
      .filter(e => io.exists(new Path(e.path, CollectionMeta.CommittedName)))
      .map(_.path).maxBy(_.getName)
    Seq("_ivf_centroids.txt", "_pq_codebooks.txt").map(new Path(newest, _))
      .filter(io.exists).map(p => p.getName -> new String(io.readBytes(p), "UTF-8")).toMap
  }

  test("a refresh without an incremental basis re-derives in full, never re-training") {
    // two triggers: (a) compactIndexes(keepRefreshAxis = false) leaves no
    // pb slices to diff against; (b) the indexed version's data dir is gone
    // while its builds survive — compact(), then that dir reclaimed the way
    // a vacuum interrupted between the data dir and the builds leaves it
    for (trigger <- Seq("unsliced", "data-gone"); pq <- Seq(false, true)) {
      val root = tmpDir("family-fallback")
      val cat = new CollectionCatalog(spark, root, numBuckets = 4)
      // ivf:nlist present, so a wrong re-train would succeed and differ
      val c = cat.getOrCreateCollection("c", metadata = Map("ivf:nlist" -> "2"))
      val coll = new Path(root, "c")
      c.add(rows(0 until 24))
      if (pq) c.buildIndexPq(m = 2, ksub = 4, nlist = 2) else c.buildIndex(nlist = 2)
      c.buildDocIndex()
      c.buildKeywordIndex()
      if (trigger == "unsliced") assert(c.compactIndexes(keepRefreshAxis = false) == 3)
      else {
        val indexed = c.meta.version
        c.compact()
        io.deleteRecursively(new Path(coll, f"data_v$indexed%06d"))
      }
      val prior = ivfSidecars(coll)
      assert(prior.contains("_ivf_centroids.txt") && prior.contains("_pq_codebooks.txt") == pq)
      c.upsert(rows(20 until 30).withColumn("embedding", array(lit(9f), lit(1f))))
      val what = s"$trigger, pq=$pq"
      assert(c.refreshIndex() == 4, what)
      assert(c.refreshDocIndex() == 4, what)
      assert(c.refreshKeywordIndex() == 4, what)
      assert(c.hasIndex && c.hasDocIndex && c.hasKeywordIndex, what)
      assert(ivfSidecars(coll) == prior, s"$what: the refresh re-trained")
      assertReadsMatchScans(c)
    }
  }

  test("forkCollection carries every family's current build, never a version-stale one") {
    val root = tmpDir("family-fork")
    val cat = new CollectionCatalog(spark, root, numBuckets = 4)
    val c = cat.getOrCreateCollection("src")
    c.add(rows(0 until 24))
    c.buildIndex(nlist = 2)
    c.buildDocIndex()
    c.buildKeywordIndex()
    val fork = cat.forkCollection("src", "dst")
    assert(fork.hasIndex && fork.hasDocIndex && fork.hasKeywordIndex)
    assert(builds(new Path(root, "dst")) ==
      families.map(f => f -> Set(s"${f}_v000001.b000")).toMap)
    val q = Seq(7f, 3f)
    val brown = Some(ChromaFilter.Contains("brown fox"))
    val terms = Seq("brown", "w2", "dog")
    assert(fork.query(q, k = 5, nprobe = 1).collect().toSeq ==
      c.query(q, k = 5, nprobe = 1).collect().toSeq)
    assert(fork.get(whereDoc = brown).collect().toSeq == c.get(whereDoc = brown).collect().toSeq)
    assert(fork.keywordTopK(terms, 6).collect().toSeq == c.keywordTopK(terms, 6).collect().toSeq)
    assertReadsMatchScans(fork)

    // every build goes version-stale; only the IVF family is refreshed, so
    // only it may travel with the next fork
    c.upsert(Seq(("id4", "rewritten brown fox w2", Seq(7f, 3f)))
      .toDF("id", "document", "embedding"))
    assert(c.refreshIndex() == 1)
    val fork2 = cat.forkCollection("src", "dst2")
    assert(fork2.hasIndex && !fork2.hasDocIndex && !fork2.hasKeywordIndex)
    assert(builds(new Path(root, "dst2")) ==
      Map("index" -> Set("index_v000001.b000"), "docindex" -> Set.empty[String],
        "kwindex" -> Set.empty[String]))
    assertReadsMatchScans(fork2)
  }
}

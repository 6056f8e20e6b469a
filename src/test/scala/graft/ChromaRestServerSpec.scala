package graft

import org.apache.spark.sql.functions._

import graft.catalog.CollectionCatalog
import graft.operators.{ChromaFilter, HashingEmbedder}
import graft.sources.{ChromaRestServer, ChromaRestSink, ChromaRestSource}

/** The serving endpoint, driven end-to-end by the engine's OWN client
  * surfaces over real loopback HTTP — the wire-parity loop closes:
  * [[ChromaRestSink]] pushed, [[ChromaRestSource]] pulled, and now both
  * read back what [[ChromaRestServer]] serves from a live collection.
  * No fake servers here: every byte on the wire is produced AND consumed
  * by shipping code. */
class ChromaRestServerSpec extends SparkTestBase {
  import spark.implicits._

  private def freshCat(tag: String): CollectionCatalog =
    new CollectionCatalog(spark, tmpDir(tag), numBuckets = 4)

  /** A served collection with documents, embeddings and typed-ish
    * metadata (strings + numerics through the MAP layout). */
  private def hydrated(cat: CollectionCatalog, name: String = "served"): graft.catalog.Collection = {
    val c = cat.getOrCreateCollection(name, space = "l2",
      metadata = Map("note" -> "loopback"))
    val rows = (0 until 40).map { i =>
      (s"id$i", s"doc $i ${if (i % 3 == 0) "alpha" else "beta"}",
        Seq(i.toFloat, (i % 7).toFloat, 1f),
        Map("lang" -> (if (i % 2 == 0) "en" else "fr"), "stars" -> (i % 5).toString))
    }
    c.add(rows.toDF("id", "document", "embedding", "metadata"))
    c
  }

  private def withServer[T](cat: CollectionCatalog, gen: String = "v2")(
      body: ChromaRestServer => T): T = {
    val srv = ChromaRestServer.serve(cat, generation = gen)
    try body(srv) finally srv.stop()
  }

  /** Raw wire client for the handful of direct-shape asserts; non-2xx
    * fails with the server's own error body in the message. */
  private def rawPost(url: String, body: String): String = {
    val (code, resp) = post(url, body)
    assert(code / 100 == 2, s"HTTP $code from $url: $resp")
    resp
  }

  /** (HTTP status, response body) of one POST. */
  private def post(url: String, body: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes("UTF-8"))
    val code = conn.getResponseCode
    val is = if (code / 100 == 2) conn.getInputStream else conn.getErrorStream
    (code, new String(is.readAllBytes(), "UTF-8"))
  }

  private def verbUrl(srv: ChromaRestServer, coll: String, verb: String): String =
    s"${srv.baseUrl}/api/v2/tenants/default_tenant/databases/" +
      s"default_database/collections/gcol-$coll/$verb"

  test("loopback read: ChromaRestSource.read reassembles the served collection (v2)") {
    val cat = freshCat("restsrv-read")
    val c = hydrated(cat)
    withServer(cat) { srv =>
      val df = ChromaRestSource.read(spark, srv.baseUrl, "served", pageSize = 7)
      assert(df.count() == 40)
      val got = df.filter(col("id") === "id4")
        .select("document", "embedding", "metadata").head()
      assert(got.getString(0) == "doc 4 beta")
      assert(got.getSeq[Float](1) == Seq(4f, 4f, 1f))
      assert(got.getMap[String, String](2) == Map("lang" -> "en", "stars" -> "4"))
      // full content equality against the collection's own frame
      val local = c.toDF.select("id", "document", "embedding", "metadata")
        .orderBy("id").collect().toSeq
      val remote = df.select("id", "document", "embedding", "metadata")
        .orderBy("id").collect().toSeq
      assert(remote == local)
    }
  }

  test("stop() ends every handler thread, so a serving JVM can exit") {
    import scala.jdk.CollectionConverters._
    val cat = freshCat("restsrv-stop")
    hydrated(cat)
    val srv = ChromaRestServer.serve(cat)
    val prefix = ChromaRestServer.handlerThreadPrefix(srv.port)
    def handlerThreads() =
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(prefix))
    try {
      // several page requests: the fixed pool starts a thread per request
      // until all 4 exist
      assert(ChromaRestSource.read(spark, srv.baseUrl, "served", pageSize = 7).count() == 40)
      assert(handlerThreads().nonEmpty, s"no live thread named $prefix* while serving")
    } finally srv.stop()
    assert(handlerThreads().isEmpty,
      s"handler threads alive after stop(): ${handlerThreads().map(_.getName)}")
  }

  test("loopback v1 generation: negotiation downgrades off the heartbeat 404 and serves") {
    val cat = freshCat("restsrv-v1")
    hydrated(cat)
    withServer(cat, gen = "v1") { srv =>
      val df = ChromaRestSource.read(spark, srv.baseUrl, "served", pageSize = 16)
      assert(df.count() == 40)
    }
  }

  test("served count and collection resolve (metadata + space carry)") {
    val cat = freshCat("restsrv-count")
    hydrated(cat)
    withServer(cat) { srv =>
      // importInto re-resolves metadata/space/count over the wire — use
      // it as the structured client for the resolve route
      val dst = freshCat("restsrv-import")
      val copied = ChromaRestSource.importInto(dst, srv.baseUrl, "served",
        localName = "copy", pageSize = 9)
      assert(copied.count() == 40)
      assert(copied.space == "l2")
      assert(copied.meta.metadata("note") == "loopback")
      assert(copied.meta.metadata("imported_from").contains("/served"))
    }
  }

  test("served query: queryRemote ≡ the collection's own kNN, filters riding the wire") {
    val cat = freshCat("restsrv-query")
    val c = hydrated(cat)
    withServer(cat) { srv =>
      val qs = Seq(Seq(5f, 5f, 1f), Seq(30f, 2f, 1f))
      val remote = ChromaRestSource.queryRemote(spark, srv.baseUrl, "served",
          qs, k = 5)
        .select("qid", "rnk", "id", "dist").orderBy("qid", "rnk")
        .as[(Int, Int, String, Double)].collect().toSeq
      val local = c.queryBatch(qs, k = 5)
        .select(col("qid"), col("rnk"), col("id"), col("dist"))
        .orderBy("qid", "rnk")
        .as[(Int, Int, String, Double)].collect().toSeq
      assert(remote == local)
      // where + where_document as wire JSON — the served path applies the
      // SAME grammar: compare against the local filtered query
      val remoteF = ChromaRestSource.queryRemote(spark, srv.baseUrl, "served",
          Seq(Seq(5f, 5f, 1f)), k = 10,
          whereJson = Some("""{"lang": "en"}"""),
          whereDocJson = Some("""{"$contains": "alpha"}"""))
        .select("id").as[String].collect().toSet
      val localF = c.query(Seq(5f, 5f, 1f), k = 10,
          where = Some(ChromaFilter.Eq("lang", "en")),
          whereDoc = Some(ChromaFilter.Contains("alpha")))
        .select("id").as[String].collect().toSet
      assert(remoteF == localF && remoteF.nonEmpty)
      // document + metadata ride back alongside ids/distances
      val withDoc = ChromaRestSource.queryRemote(spark, srv.baseUrl, "served",
        Seq(Seq(0f, 0f, 1f)), k = 1).head()
      assert(withDoc.getAs[String]("document") == "doc 0 alpha")
      assert(withDoc.getAs[Map[String, String]]("metadata") ==
        Map("lang" -> "en", "stars" -> "0"))
    }
  }

  test("served query_texts: the recorded embedding function answers server-side") {
    val cat = freshCat("restsrv-text")
    val c = cat.getOrCreateCollection("efcoll")
    c.addDocuments(Seq(("1", "alpha beta"), ("2", "gamma delta"), ("3", "alpha alpha"))
      .toDF("id", "document"), HashingEmbedder(16))
    withServer(cat) { srv =>
      // raw wire client: POST query_texts and check ids come back ranked
      val body = """{"query_texts":["alpha alpha"],"n_results":2}"""
      val url = s"${srv.baseUrl}/api/v2/tenants/default_tenant/databases/" +
        "default_database/collections/gcol-efcoll/query"
      val resp = rawPost(url, body)
      val (parsed, _) = ChromaFilter.JsonMini.parse(resp)
      val ids = parsed.asInstanceOf[Map[String, Any]]("ids")
        .asInstanceOf[Seq[Seq[String]]]
      assert(ids == Seq(c.queryText(Seq("alpha alpha"), 2)
        .orderBy("rnk").select("id").as[String].collect().toSeq))
    }
  }

  test("include control: a get without embeddings serves null lists, not columns of nulls") {
    val cat = freshCat("restsrv-inc")
    hydrated(cat)
    withServer(cat) { srv =>
      val url = s"${srv.baseUrl}/api/v2/tenants/default_tenant/databases/" +
        "default_database/collections/gcol-served/get"
      val body = """{"limit":3,"include":["documents"]}"""
      val resp = rawPost(url, body)
      val (parsed, _) = ChromaFilter.JsonMini.parse(resp)
      val obj = parsed.asInstanceOf[Map[String, Any]]
      assert(obj("ids").asInstanceOf[Seq[_]].size == 3)
      assert(obj("documents").asInstanceOf[Seq[_]].size == 3)
      assert(obj("embeddings") == null && obj("metadatas") == null)
    }
  }

  test("unknown collection and unknown routes fail loudly over the wire") {
    val cat = freshCat("restsrv-404")
    hydrated(cat)
    withServer(cat) { srv =>
      val e = intercept[NoSuchElementException] {
        ChromaRestSource.read(spark, srv.baseUrl, "nope")
      }
      assert(e.getMessage.contains("does not exist"))
      // a malformed where surfaces the grammar's own loud error as a 4xx,
      // which the page fetcher refuses to adopt silently
      intercept[Exception] {
        ChromaRestSource.queryRemote(spark, srv.baseUrl, "served",
          Seq(Seq(1f, 1f, 1f)), k = 2, whereJson = Some("""{"$bogus": 1}"""))
      }
    }
  }

  test("egress sink → served read-back: the engine talks to ITSELF over the full wire") {
    // the q180 loop without the fake: sink pushes INTO a real Chroma
    // (an engine serving a second catalog would need server-side add —
    // out of serving scope), so here the loop is: hydrate catalog A,
    // SERVE it, import into catalog B, re-serve B, and query B remotely.
    // Every hop is shipping code; any wire asymmetry breaks equality.
    val catA = freshCat("restsrv-a")
    val cA = hydrated(catA, "orig")
    val catB = freshCat("restsrv-b")
    withServer(catA) { srvA =>
      ChromaRestSource.importInto(catB, srvA.baseUrl, "orig",
        localName = "hop", pageSize = 11)
    }
    withServer(catB) { srvB =>
      val remote = ChromaRestSource.queryRemote(spark, srvB.baseUrl, "hop",
          Seq(Seq(7f, 1f, 1f)), k = 4)
        .select("rnk", "id", "dist").orderBy("rnk")
        .as[(Int, String, Double)].collect().toSeq
      val local = cA.queryBatch(Seq(Seq(7f, 1f, 1f)), k = 4)
        .select(col("rnk"), col("id"), col("dist")).orderBy("rnk")
        .as[(Int, String, Double)].collect().toSeq
      assert(remote == local)
    }
  }

  test("n_results of 0 or below answers 400, not an empty 200") {
    val cat = freshCat("restsrv-k")
    hydrated(cat)
    withServer(cat) { srv =>
      for (n <- Seq("0", "-3")) {
        val (code, resp) = post(verbUrl(srv, "served", "query"),
          s"""{"query_embeddings":[[1,1,1]],"n_results":$n}""")
        assert(code == 400, s"n_results $n: HTTP $code $resp")
        assert(resp.contains("k must be positive"), resp)
      }
    }
  }

  test("integer fields outside the 32-bit range, and negative paging, answer 400") {
    val cat = freshCat("restsrv-int")
    hydrated(cat)
    withServer(cat) { srv =>
      def status(verb: String, body: String): (Int, String) =
        post(verbUrl(srv, "served", verb), body)
      // 4294967306 = 2^32 + 10: a wrapping toInt would serve 10 rows
      val (wrapped, wrappedResp) = status("get", """{"limit":4294967306}""")
      assert(wrapped == 400 && wrappedResp.contains("32-bit range"), wrappedResp)
      // 1e12 would saturate to Int.MaxValue
      val (saturated, satResp) = status("query",
        """{"query_embeddings":[[1,1,1]],"n_results":1e12}""")
      assert(saturated == 400 && satResp.contains("32-bit range"), satResp)
      val (negLimit, negLimitResp) = status("get", """{"limit":-1}""")
      assert(negLimit == 400 && negLimitResp.contains("limit must be >= 0"), negLimitResp)
      val (negOffset, negOffsetResp) = status("get", """{"offset":-1}""")
      assert(negOffset == 400 && negOffsetResp.contains("offset must be >= 0"), negOffsetResp)
      // in-range values still serve
      assert(status("get", """{"limit":2,"offset":1}""")._1 == 200)
      assert(status("get", """{"limit":2.0}""")._1 == 200)
    }
  }

  /** The parsed JSON object of one served /query. */
  private def served(srv: ChromaRestServer, body: String): Map[String, Any] =
    ChromaFilter.JsonMini.parse(rawPost(verbUrl(srv, "served", "query"), body))._1
      .asInstanceOf[Map[String, Any]]

  test("served query with include embeddings returns the stored vectors in rank order") {
    val cat = freshCat("restsrv-emb")
    val c = hydrated(cat)
    withServer(cat) { srv =>
      val obj = served(srv,
        """{"query_embeddings":[[12.5,3,1]],"n_results":4,"include":["embeddings","distances"]}""")
      val ids = obj("ids").asInstanceOf[Seq[Seq[String]]]
      val embs = obj("embeddings").asInstanceOf[Seq[Seq[Seq[Double]]]]
      assert(ids.map(_.size) == Seq(4) && embs.map(_.size) == Seq(4))
      assert(ids.head == c.query(Seq(12.5f, 3f, 1f), 4).orderBy("dist", "id")
        .select("id").as[String].collect().toSeq)
      val stored = c.toDF.select("id", "embedding").as[(String, Seq[Float])].collect().toMap
      assert(embs.head == ids.head.map(id => stored(id).map(_.toDouble)))
      assert(obj("documents") == null && obj("metadatas") == null)
    }
  }

  test("served query whose where matches nothing answers an empty list per query vector") {
    val cat = freshCat("restsrv-nohit")
    hydrated(cat)
    withServer(cat) { srv =>
      val obj = served(srv,
        """{"query_embeddings":[[1,1,1],[30,2,1]],"n_results":3,"where":{"lang":"de"}}""")
      for (key <- Seq("ids", "distances", "documents", "metadatas"))
        assert(obj(key) == Seq(Nil, Nil), s"$key: ${obj(key)}")
      assert(obj("embeddings") == null)
    }
  }

  test("served query of two vectors answers per-query lists in request order") {
    val cat = freshCat("restsrv-two")
    val c = hydrated(cat)
    withServer(cat) { srv =>
      val qs = Seq(Seq(38f, 3f, 1f), Seq(0f, 0f, 1f))
      val obj = served(srv,
        """{"query_embeddings":[[38,3,1],[0,0,1]],"n_results":3}""")
      val ids = obj("ids").asInstanceOf[Seq[Seq[String]]]
      val dists = obj("distances").asInstanceOf[Seq[Seq[Double]]]
      val local = qs.map(q => c.query(q, 3).orderBy("dist", "id")
        .select("id", "dist").as[(String, Double)].collect().toSeq)
      assert(ids == local.map(_.map(_._1)))
      assert(dists == local.map(_.map(_._2)))
      assert(ids.head != ids(1))
    }
  }
}

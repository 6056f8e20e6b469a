package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

import graft.catalog.CollectionCatalog
import graft.operators.ChromaFilter
import graft.operators.ChromaFilter.JsonMini

/** SERVING adapter: expose the store's collections over Chroma's public
  * REST surface, completing the wire-parity quadrant (README.md:34's
  * client/server deployment assumption): egress push
  * ([[ChromaRestSink]]), ingress pull ([[ChromaRestSource]]), and now
  * the engine AS the server — an existing Chroma client (or this
  * engine's own source, the loopback the spec pins) points its base URL
  * here and keeps calling `get`/`query`/`count`.
  *
  * Routes — the same two public API generations the sink/source
  * negotiate, one server instance speaks ONE generation (pass
  * `generation="v1"` to exercise a client's downgrade path; the
  * heartbeat answers exactly like a real server of that generation, so
  * `resolveApiVersion`'s probe works unmodified):
  *   v2:  GET  /api/v2/heartbeat
  *        GET  /api/v2/tenants/{t}/databases/{d}/collections/{name}
  *        GET  /api/v2/.../collections/{id}/count
  *        POST /api/v2/.../collections/{id}/get
  *        POST /api/v2/.../collections/{id}/query
  *   v1:  the same verbs under /api/v1/collections/... (+ GET
  *        /api/v1/heartbeat), tenant/database as query params.
  *
  * Request/response shapes are Chroma's wire JSON, already oracled from
  * both directions (q174/q180): `get` answers the parallel-array object
  * ({"ids":[...],"documents":[...]|null,...}), `query` the per-query
  * nested arrays ({"ids":[[...]],"distances":[[...]],...}). `where` /
  * `where_document` bodies go through the SAME [[ChromaFilter]] wire
  * grammar as every other entry point — the server adds no second
  * filter dialect. Metadata values serve as strings (the MAP layout's
  * own representation; [[ChromaRestSource]] stringifies on ingest, so
  * the loopback is lossless by construction).
  *
  * Execution shape: requests run the collection's own plans —
  * `getStruct`/`queryStruct` (sidecar-confined whereDoc, IVF-pruned
  * kNN, include-driven column pruning) — and materialize only the
  * client-sized response page (Chroma's own contract: its server
  * materializes every response client-side too). The HTTP layer is a
  * fixed 4-thread pool on a loopback-bindable JDK HttpServer: this is a
  * serving ADAPTER for parity and migration traffic, not a production
  * QPS tier — a real deployment would put the store behind a pooled
  * service; the wire format and the plans it runs would be exactly
  * these.
  */
final class ChromaRestServer private (server: HttpServer,
                                      handlers: java.util.concurrent.ExecutorService,
                                      val generation: String) {
  def port: Int = server.getAddress.getPort
  def baseUrl: String = s"http://127.0.0.1:$port"

  /** Stop accepting requests and end the handler threads: they are
    * non-daemon, so a live pool would keep the JVM from exiting. */
  def stop(): Unit = {
    server.stop(0)
    handlers.shutdownNow()
    handlers.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object ChromaRestServer {

  /** Start serving `cat`'s collections on 127.0.0.1:`port` (0 = pick an
    * ephemeral port). Caller owns the returned handle ([[ChromaRestServer.stop]]). */
  def serve(cat: CollectionCatalog, generation: String = "v2",
            port: Int = 0): ChromaRestServer = {
    require(generation == "v1" || generation == "v2",
      s"generation must be v1 or v2, got '$generation'")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(cat, generation, ex))
    val threadPrefix = handlerThreadPrefix(server.getAddress.getPort)
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    val handlers = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => new Thread(r, threadPrefix + seq.incrementAndGet()))
    server.setExecutor(handlers)
    server.start()
    new ChromaRestServer(server, handlers, generation)
  }

  /** Name prefix of the handler threads of the server on `port`. */
  private[graft] def handlerThreadPrefix(port: Int): String = s"chroma-rest-$port-"

  /** Stable collection id the routes address records by. A real Chroma
    * mints UUIDs; the engine's collections are name-keyed, so the id is
    * a reversible tag of the name (ids appear in URLs — encode). */
  private def idOf(name: String): String =
    "gcol-" + java.net.URLEncoder.encode(name, "UTF-8")
  private def nameOf(id: String): Option[String] =
    if (id.startsWith("gcol-"))
      Some(java.net.URLDecoder.decode(id.stripPrefix("gcol-"), "UTF-8"))
    else None

  private def handle(cat: CollectionCatalog, gen: String, ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    try {
      val segs = path.split("/").toSeq.filter(_.nonEmpty)
      (segs, gen) match {
        // heartbeat of the SERVED generation only: the other generation's
        // probe must path-miss (404) exactly like a real server, so
        // resolveApiVersion's negotiation lands on the right dialect
        case (Seq("api", "v2", "heartbeat"), "v2") =>
          respond(ex, 200, s"""{"nanosecond heartbeat": ${System.nanoTime()}}""")
        case (Seq("api", "v1", "heartbeat"), "v1") =>
          respond(ex, 200, s"""{"nanosecond heartbeat": ${System.nanoTime()}}""")
        case (Seq("api", "v2", "tenants", _, "databases", _, "collections", rest @ _*), "v2") =>
          collectionRoute(cat, ex, body, rest)
        case (Seq("api", "v1", "collections", rest @ _*), "v1") =>
          collectionRoute(cat, ex, body, rest)
        case _ =>
          respond(ex, 404, s"""{"error":"no route for $path (serving $gen)"}""")
      }
    } catch {
      case e: NoSuchElementException =>
        respond(ex, 404, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      case e: IllegalArgumentException =>
        respond(ex, 400, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      case e: Throwable =>
        respond(ex, 500, s"""{"error":${jstr(String.valueOf(e))}}""")
    }
  }

  private def collectionRoute(cat: CollectionCatalog, ex: HttpExchange,
                              body: String, rest: Seq[String]): Unit = rest match {
    // GET .../collections/{name} — resolve by name, 404 when absent
    // (never creates: the serving surface is read-only)
    case Seq(name0) =>
      val name = java.net.URLDecoder.decode(name0, "UTF-8")
      val coll = cat.getCollection(name).getOrElse(throw new NoSuchElementException(
        s"collection '$name' does not exist"))
      val m = coll.meta
      val md = (m.metadata + ("hnsw:space" -> m.space)).toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
      respond(ex, 200,
        s"""{"id":${jstr(idOf(name))},"name":${jstr(name)},"metadata":$md}""")
    case Seq(id, verb) =>
      val name = nameOf(id).getOrElse(throw new NoSuchElementException(
        s"unknown collection id '$id'"))
      val coll = cat.getCollection(name).getOrElse(throw new NoSuchElementException(
        s"collection '$name' does not exist"))
      verb match {
        case "count" => respond(ex, 200, coll.count().toString)
        case "get" => respond(ex, 200, serveGet(coll, body))
        case "query" => respond(ex, 200, serveQuery(coll, body))
        case other => respond(ex, 404, s"""{"error":"unsupported verb '$other'"}""")
      }
    case other =>
      respond(ex, 404, s"""{"error":"no collection route for ${other.mkString("/")}"}""")
  }

  // ---- request parsing (Chroma request JSON → the engine's API) ----

  private def parsedBody(body: String): Map[String, Any] = {
    if (body.trim.isEmpty) return Map.empty
    val (v, end) = JsonMini.parse(body)
    JsonMini.requireEnd(end, body)
    v match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(
        s"request body must be a JSON object, got $other")
    }
  }

  private def whereOf(m: Map[String, Any]): Option[ChromaFilter.Where] =
    m.get("where").filter(_ != null).map(ChromaFilter.whereFromParsed)
  private def whereDocOf(m: Map[String, Any]): Option[ChromaFilter.WhereDocument] =
    m.get("where_document").filter(_ != null).map(ChromaFilter.whereDocFromParsed)

  private def includeOf(m: Map[String, Any], default: Set[String],
                        allowed: Set[String]): Set[String] = m.get("include") match {
    case None | Some(null) => default
    case Some(xs: Seq[_]) =>
      val inc = xs.map(String.valueOf(_)).toSet
      val unknown = inc.diff(allowed)
      require(unknown.isEmpty,
        s"unsupported include entries: ${unknown.mkString(", ")} " +
          s"(this server serves ${allowed.mkString(", ")})")
      inc
    case Some(other) => throw new IllegalArgumentException(
      s"include must be an array of strings, got $other")
  }

  /** A 32-bit integer field: a value outside the Int range is rejected,
    * never wrapped (`l.toInt`) or saturated (`d.toInt`) into a different
    * request. */
  private def intOf(m: Map[String, Any], key: String): Option[Int] =
    m.get(key).filter(_ != null).map {
      case l: Long if l.isValidInt => l.toInt
      case d: Double if d.isValidInt => d.toInt
      case other => throw new IllegalArgumentException(
        s"$key must be an integer in the 32-bit range, got $other")
    }

  /** A paging field (`limit`, `offset`): an [[intOf]] that is >= 0. */
  private def pageOf(m: Map[String, Any], key: String): Option[Int] =
    intOf(m, key).map { v => require(v >= 0, s"$key must be >= 0, got $v"); v }

  private def serveGet(coll: graft.catalog.Collection, body: String): String = {
    val m = parsedBody(body)
    val ids = m.get("ids") match {
      case Some(xs: Seq[_]) => xs.map(String.valueOf(_))
      case _ => Nil
    }
    val include = includeOf(m, Set("documents", "metadatas"),
      Set("documents", "embeddings", "metadatas"))
    val row = coll.getStruct(ids = ids, where = whereOf(m),
        whereDoc = whereDocOf(m), limit = pageOf(m, "limit"),
        offset = pageOf(m, "offset").getOrElse(0), include = include)
      .head()
    val nIds = row.getAs[scala.collection.Seq[_]]("ids").size
    val out = Seq.newBuilder[String]
    out += s""""ids":${jAny(row.getAs[Any]("ids"))}"""
    // Chroma answers NON-included lists with JSON null, not absence; an
    // included list the collection has no columns for (e.g. metadatas of
    // a metadata-less collection) serves per-record nulls, Chroma's own
    // shape for records without that field
    def field(wireKey: String): Unit = out += s""""$wireKey":""" + {
      if (!include(wireKey)) "null"
      else if (row.schema.fieldNames.contains(wireKey)) jAny(row.getAs[Any](wireKey))
      else Seq.fill(nIds)("null").mkString("[", ",", "]")
    }
    field("documents"); field("embeddings"); field("metadatas")
    out.result().mkString("{", ",", "}")
  }

  private def serveQuery(coll: graft.catalog.Collection, body: String): String = {
    val m = parsedBody(body)
    val k = intOf(m, "n_results").getOrElse(10)
    val include = includeOf(m, Set("documents", "distances", "metadatas"),
      Set("documents", "distances", "embeddings", "metadatas"))
    val where = whereOf(m); val whereDoc = whereDocOf(m)
    val rows: Seq[Row] = (m.get("query_embeddings"), m.get("query_texts")) match {
      case (Some(qs: Seq[_]), _) =>
        val vecs = qs.map {
          case v: Seq[_] => v.map(floatOf)
          case other => throw new IllegalArgumentException(
            s"query_embeddings must be an array of arrays, got $other")
        }
        require(vecs.nonEmpty, "query_embeddings must be non-empty")
        coll.queryStruct(vecs, k, where, whereDoc, include)
          .collect().toIndexedSeq
      case (None, Some(ts: Seq[_])) =>
        // text queries run the collection's RECORDED embedding function —
        // the server-side-embedding route; loud when none is registered
        coll.queryTextStruct(ts.map(String.valueOf(_)), k, where, whereDoc, include)
          .collect().toIndexedSeq
      case _ => throw new IllegalArgumentException(
        "query needs query_embeddings or query_texts")
    }
    def nested(wireKey: String): String =
      if (!include(wireKey) && wireKey != "ids") "null"
      else rows.map { r =>
        // per-record nulls when the collection has no such field (see
        // serveGet) — sized to THIS query's hit list
        if (r.schema.fieldNames.contains(wireKey)) jAny(r.getAs[Any](wireKey))
        else Seq.fill(r.getAs[scala.collection.Seq[_]]("ids").size)("null")
          .mkString("[", ",", "]")
      }.mkString("[", ",", "]")
    Seq("ids", "distances", "documents", "embeddings", "metadatas")
      .map(kk => s""""$kk":${nested(kk)}""").mkString("{", ",", "}")
  }

  private def floatOf(v: Any): Float = v match {
    case d: Double => d.toFloat
    case l: Long => l.toFloat
    case other => throw new IllegalArgumentException(
      s"non-numeric embedding value: $other")
  }

  // ---- response JSON (collected Spark values → wire) ----

  private def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Collected Spark values → JSON. Floats/doubles print their shortest
    * round-trip decimal (Java toString), which reparses to the identical
    * IEEE value on the other side — the q180-oracled property the wire
    * relies on. */
  private def jAny(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case f: Float => if (f.isNaN || f.isInfinite) throw new IllegalStateException(
      s"non-finite float $f cannot ride JSON") else f.toString
    case d: Double => if (d.isNaN || d.isInfinite) throw new IllegalStateException(
      s"non-finite double $d cannot ride JSON") else d.toString
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case xs: scala.collection.Seq[_] => xs.map(jAny).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, vv) => (String.valueOf(k), vv) }.sortBy(_._1)
        .map { case (k, vv) => s"${jstr(k)}:${jAny(vv)}" }.mkString("{", ",", "}")
    case other => throw new IllegalStateException(
      s"unserializable wire value of ${other.getClass}: $other")
  }

  private def respond(ex: HttpExchange, code: Int, payload: String): Unit = {
    val bytes = payload.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

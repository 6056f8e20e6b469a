package bench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

import graft.catalog.Collection
import graft.operators.ChromaFilter.{Contains, Gte}
import graft.sources.ChromaRestServer

/** What a workload produced: the collection set-up hydrated and indexed
  * (which the traced run's probes read afterwards) and the read latencies
  * its measured phase timed. */
final case class Measured(built: Built, readsMs: Seq[Double])

object Workloads {
  val K = Gen.K
  val BuildSpan = Map("index" -> "Ann.build", "kwindex" -> "KeywordIndex.build",
    "docindex" -> "DocIndex.build")

  def ids(r: Row): Seq[String] = list[String](r, "ids")
  def list[T](r: Row, f: String): Seq[T] = r.getAs[scala.collection.Seq[T]](f).toSeq
  def doubles(r: Row, f: String): Seq[Double] =
    list[Any](r, f).map(_.asInstanceOf[Number].doubleValue)

  private def deadline(ctx: Ctx): Long = System.nanoTime() + ctx.seconds * 1000000000L

  /** Reads that verify a freshly hydrated and indexed collection against
    * the generator: dim, a stored vector found first at distance 0 by an
    * exact query, and the `$contains` counts of the rarest and the
    * commonest phrase. (`Hydrator.run` itself checks count conservation.) */
  def verifyHydrated(ctx: Ctx, corpus: Corpus, coll: Collection): Unit = {
    val doc = corpus.docs(new Random(ctx.seed * 31 + 4).nextInt(corpus.docs.length))
    ctx.op("Collection.dim")(coll.dim())(d => Seq(Checks.dimIs(corpus.size.dims, d)))
    ctx.op("query.exact")(coll.queryStruct(Seq(doc.vec.toSeq), K,
        include = Set("distances"), exact = true).head())(row =>
      Seq(Checks.selfFirst(doc.id, ids(row), doubles(row, "distances"))))
    for (p <- Seq(Gen.Phrases.head, Gen.Phrases.last))
      ctx.op("DocIndex.contains")(coll.getStruct(whereDoc = Some(Contains(p)),
          include = Set("documents")).head())(row =>
        Seq(Checks.containsAll(p, corpus.phraseCounts(p), ids(row), list[String](row, "documents"))))
  }

  // ---- serve_query -------------------------------------------------------

  /** Requests the closed loop sends before the measured phase. Served
    * latency falls by about a third over a run's first ~40 requests (JIT
    * and Spark's code-generation caches warming), so the measured phase
    * starts after them and times the steady state. */
  val WarmupRequests = 40

  private val mapper = new ObjectMapper()

  def body(req: Request): String = req match {
    case q: QueryRequest =>
      val fields = Seq(
        s""""query_embeddings":[${q.vec.mkString("[", ",", "]")}]""",
        s""""n_results":$K""") ++
        q.ratingAtLeast.map(g => s""""where":{"rating":{"$$gte":$g}}""") ++
        q.contains.map(p => s""""where_document":{"$$contains":${Json.str(p)}}""")
      fields.mkString("{", ",", "}")
    case g: GetRequest =>
      s"""{"ids":${Json(g.ids)},"include":["documents"]}"""
  }

  private def texts(n: JsonNode): Seq[String] =
    n.elements().asScala.map(x => if (x.isNull) null else x.asText()).toSeq

  /** Checks one served answer against its request. */
  def checkResponse(req: Request, status: Int, payload: String): Seq[Option[String]] = {
    val ok = Checks.httpOk(status, payload)
    if (ok.isDefined) return Seq(ok)
    val js = mapper.readTree(payload)
    req match {
      case q: QueryRequest =>
        val idz = texts(js.get("ids").get(0))
        val dists = js.get("distances").get(0).elements().asScala.map(_.asDouble).toSeq
        Seq(Checks.queryShape(K, idz, dists)) ++
          q.ratingAtLeast.map(g => Checks.whereHolds(g,
            js.get("metadatas").get(0).elements().asScala.map(m => m.get("rating").asText()).toSeq)) ++
          q.contains.map(p => Checks.docsContain(p, texts(js.get("documents").get(0))))
      case g: GetRequest => Seq(Checks.getIds(g.ids, texts(js.get("ids"))))
    }
  }

  /** serve_query: a closed loop of `clients` threads against a loopback
    * `ChromaRestServer` (v2 wire) over a collection hydrated and indexed
    * in set-up; each client waits for its reply before sending the next
    * request of the seeded stream. Set-up ends after `WarmupRequests`.
    * Writes nothing. */
  def serveQuery(ctx: Ctx, corpus: Corpus, clients: Int): Measured = {
    val built = ctx.pipeline("serve", Seq("index", "docindex"))
      .getOrElse(throw new IllegalStateException("set-up hydration failed"))
    val server = ChromaRestServer.serve(ctx.catalog)
    try {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val base = s"${server.baseUrl}/api/v2/tenants/default_tenant/databases/default_database/collections"
      val cid = mapper.readTree(http.send(HttpRequest.newBuilder(URI.create(s"$base/serve")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()).get("id").asText()
      def send(req: Request): (Int, String) = {
        val verb = req match { case _: QueryRequest => "query"; case _: GetRequest => "get" }
        val resp = http.send(HttpRequest.newBuilder(URI.create(s"$base/$cid/$verb"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body(req))).build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      val stream = Gen.requests(ctx.seed, corpus, 20000)
      val next = new AtomicInteger(0)
      // Runs the closed loop while `more(i)` holds for the next stream
      // index i; returns each answered request's latency and response size.
      def closedLoop(name: String)(more: Int => Boolean): Seq[(Double, Int)] = {
        val out = ArrayBuffer.empty[(Double, Int)]
        val threads = (0 until clients).map { _ =>
          new Thread(() => {
            var i = next.getAndIncrement()
            while (more(i)) {
              val req = stream(i % stream.length)
              ctx.tracer.inRequest(i + 1) {
                ctx.op(name)(send(req)) { case (st, b) => checkResponse(req, st, b) }
              }.foreach { case ((_, b), ms) => out.synchronized { out += ms -> b.length } }
              i = next.getAndIncrement()
            }
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        out.toSeq
      }
      closedLoop("ChromaRestServer.warmup")(_ < WarmupRequests)
      ctx.phase.setupDone()
      val start = System.nanoTime()
      val end = deadline(ctx)
      val answered = closedLoop("ChromaRestServer.request")(_ => System.nanoTime() < end)
      val lat = answered.map(_._1)
      val stop = System.nanoTime()
      ctx.phase.measuredDone()
      ctx.record("serve") = Map("clients" -> clients, "warmup_requests" -> WarmupRequests,
        "requests" -> lat.length, "query_per_s" -> lat.length / ((stop - start) / 1e9),
        "latency_ms" -> Stats.summary(lat))
      ctx.layer("ChromaRestServer.query_per_s") = lat.length / ((stop - start) / 1e9)
      ctx.layer("ChromaRestServer.response_bytes") = Stats.median(answered.map(_._2.toDouble))
      if (ctx.tracer.enabled) restOverhead(ctx, built.coll, stream.slice(0, 6), send)
      Measured(built, lat)
    } finally server.stop()
  }

  /** The REST layer's own cost: the same requests sent one at a time over
    * the wire and run in-process through `queryStruct`/`getStruct`. */
  private def restOverhead(ctx: Ctx, coll: Collection, reqs: Seq[Request],
                           send: Request => (Int, String)): Unit = {
    val wire = reqs.flatMap(req => ctx.op("ChromaRestServer.sequential")(send(req)) {
      case (st, b) => checkResponse(req, st, b) }.map(_._2))
    val local = reqs.flatMap {
      case q: QueryRequest => ctx.op("ChromaRestServer.inprocess")(coll.queryStruct(
        Seq(q.vec.toSeq), K, q.ratingAtLeast.map(g => Gte("rating", g.toLong)),
        q.contains.map(Contains)).collect())(rows => Seq(Checks.queryShape(K, ids(rows.head),
        doubles(rows.head, "distances")))).map(_._2)
      case g: GetRequest => ctx.op("ChromaRestServer.inprocess")(coll.getStruct(ids = g.ids,
        include = Set("documents")).head())(row => Seq(Checks.getIds(g.ids, ids(row)))).map(_._2)
    }
    if (wire.nonEmpty && local.nonEmpty)
      ctx.layer("ChromaRestServer.overhead_ms") = Stats.median(wire) - Stats.median(local)
  }

  // ---- mutate_mixed ------------------------------------------------------

  /** Self-queries a cycle makes at each of its two stale points, and
    * through the refreshed index at its end. */
  val StaleReads = 6
  val FreshReads = 4

  /** mutate_mixed: set-up runs the reference's whole pipeline — hydrate
    * the wide table, build the IVF, keyword and trigram indexes, verify.
    * Then one in-process caller runs seeded cycles: upsert, a
    * read-your-writes get, `StaleReads` self-queries that must fall back
    * to the exact scan (the index is stale), a second upsert and as many
    * stale self-queries again, a keyword read, a delete, a get of the
    * deleted ids, a count against the benchmark's own model, then
    * `refreshIndexes()` and `FreshReads` self-queries through the
    * refreshed index. Whole cycles run while the last one still fits in
    * what is left of `--seconds`; the first always runs. The measured
    * read latency is that of the self-queries; the other reads are
    * summarised in the run record. */
  def mutateMixed(ctx: Ctx, corpus: Corpus): Measured = {
    val built = ctx.pipeline("mutate", Seq("index", "kwindex", "docindex"))
      .getOrElse(throw new IllegalStateException("set-up hydration failed"))
    val coll = built.coll
    verifyHydrated(ctx, corpus, coll)
    ctx.phase.setupDone()
    val live = ArrayBuffer.from(corpus.docs.map(_.id))
    val liveSet = scala.collection.mutable.HashSet.from(live)
    val sched = new Gen.Schedule(ctx.seed, corpus)
    val queries = ArrayBuffer.empty[Double]
    val otherReads = ArrayBuffer.empty[Double]
    val writes = ArrayBuffer.empty[Double]
    val refreshes = ArrayBuffer.empty[Double]
    val batchBytes = ArrayBuffer.empty[Double]
    val r = new Random(ctx.seed * 31 + 5)
    def read[A](name: String)(f: => A)(checks: A => Seq[Option[String]]): Unit =
      ctx.op(name)(f)(checks).foreach(otherReads += _._2)
    // a stored vector must come back first at distance 0 — through the
    // exact-scan fallback while the index is stale, through the refreshed
    // index afterwards
    def self(name: String, d: Doc): Unit =
      ctx.op(name)(coll.queryStruct(Seq(d.vec.toSeq), K, include = Set("distances")).head())(row =>
        Seq(Checks.selfFirst(d.id, ids(row), doubles(row, "distances")))).foreach(queries += _._2)
    def upsert(docs: Seq[Doc]): Unit = {
      // orderCol = id: each batch holds distinct ids, so the winner is the
      // only row; without an orderCol upsert hashes the whole row, which
      // Spark rejects for the MAP metadata column hydration stores
      ctx.tracked("Collection.upsert", ctx.collDir("mutate")) {
        ctx.op("Collection.upsert")(coll.upsert(ctx.rowsFrame(docs), Some("id")))(_ => Nil)
      }.foreach(writes += _._2)
      batchBytes += docs.map(d => d.id.length + d.text.length + 4 * d.vec.length + 1).sum
      docs.foreach(d => if (liveSet.add(d.id)) live += d.id)
    }
    val end = deadline(ctx)
    var cycles = 0
    var lastNs = 0L
    while (cycles == 0 || System.nanoTime() + lastNs <= end) ctx.tracer.inRequest(cycles + 1) {
      val t0 = System.nanoTime()
      val cy = sched.next(live.toIndexedSeq)
      upsert(cy.batch1)
      val sample = r.shuffle(cy.batch1).take(5)
      read("Collection.get")(coll.getStruct(ids = sample.map(_.id), include = Set("documents")).head())(row =>
        Seq(Checks.readsOwnWrites(sample.map(d => d.id -> d.text).toMap, ids(row), list[String](row, "documents"))))
      val probes1 = r.shuffle(cy.batch1).take(StaleReads)
      probes1.foreach(self("query.stale", _))
      upsert(cy.batch2)
      val probes2 = r.shuffle(cy.batch2).take(StaleReads)
      probes2.foreach(self("query.stale", _))
      read("KeywordIndex.topk")(coll.keywordTopK(cy.kwTerms, K).collect())(rows =>
        Seq(Checks.keywordShape(K, rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score")).toSeq)))
      ctx.tracked("Collection.delete", ctx.collDir("mutate")) {
        ctx.op("Collection.delete")(coll.delete(ids = cy.deletes))(_ => Nil)
      }.foreach(writes += _._2)
      cy.deletes.foreach(liveSet.remove)
      live.filterInPlace(liveSet)
      read("Collection.get")(coll.getStruct(ids = cy.deletes, include = Set("documents")).head())(row =>
        Seq(Checks.deletedGone(ids(row))))
      read("Collection.count")(coll.count())(n => Seq(Checks.countIs("model", live.length, n)))
      refreshes += refresh(ctx, coll)
      (probes1.take(FreshReads / 2) ++ probes2.take(FreshReads - FreshReads / 2))
        .foreach(self("query.fresh", _))
      cycles += 1
      lastNs = System.nanoTime() - t0
    }
    ctx.phase.measuredDone()
    ctx.record("mutate") = Map("cycles" -> cycles, "write_ms" -> Stats.summary(writes.toSeq),
      "refresh_s" -> Stats.summary(refreshes.toSeq), "query_ms" -> Stats.summary(queries.toSeq),
      "other_read_ms" -> Stats.summary(otherReads.toSeq))
    if (writes.nonEmpty) ctx.layer("Collection.write_p50_ms") = Stats.median(writes.toSeq)
    if (refreshes.nonEmpty) ctx.layer("Collection.refresh_s") = Stats.median(refreshes.toSeq)
    ctx.record("upsert_batch_bytes") = batchBytes.sum
    Measured(built, queries.toSeq)
  }

  /** `refreshIndexes()`; the traced run calls the three per-family
    * refreshes it consists of, so each family gets its own span. Returns
    * wall seconds. */
  private def refresh(ctx: Ctx, coll: Collection): Double =
    if (!ctx.tracer.enabled)
      ctx.op("Collection.refreshIndexes")(coll.refreshIndexes())(m =>
        Seq(Checks.countIs("refreshed families", 3, m.size))).map(_._2 / 1000).getOrElse(0.0)
    else Seq[(String, () => Int)](
        "index" -> (() => coll.refreshIndex()),
        "docindex" -> (() => coll.refreshDocIndex()),
        "kwindex" -> (() => coll.refreshKeywordIndex())).map { case (fam, f) =>
      ctx.op(s"refresh.$fam")(f())(_ => Nil).map { case (n, ms) =>
        ctx.layer(s"refresh.$fam.buckets_rebuilt") = n.toDouble
        ms / 1000
      }.getOrElse(0.0)
    }.sum
}

package bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.GraftSession
import graft.operators.Assemble
import graft.operators.ChromaFilter.Contains

/** The benchmark harness. One run = one workload, one seed:
  *
  *   bench.Main --workload <serve_query|mutate_mixed>
  *              --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *              [--record <file>] [--smoke]
  *
  * Set-up (session start, input generation, set-up hydration) ends where
  * the first timed operation begins. The last stdout line is the result:
  * {"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
  * with --trace 0, the per-layer metrics with --trace 1. The full record
  * (environment stamp, latency summaries, spans) goes to --record. */
object Main {
  val WorkloadNames = Seq("serve_query", "mutate_mixed")
  val Clients = 2

  /** End-to-end metrics: name → unit. Every workload reports each one. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ingest_rows_per_s" -> "rows/s",
    "store_bytes_per_input_byte" -> "ratio",
    "query_p50_ms" -> "ms",
    "heap_retained_mb" -> "MB")

  /** Per-layer metrics of the traced run: name → unit. A layer the
    * workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "Assemble.ns_per_row" -> "ns/row",
    "Assemble.input_bytes_per_row" -> "bytes/row",
    "Hydrator.run.ms" -> "ms",
    "Collection.add.ms" -> "ms",
    "Collection.add.jobs" -> "count",
    "Collection.add.shuffle_bytes" -> "bytes",
    "Collection.add.files_written" -> "count",
    "Ann.build.ms" -> "ms",
    "Ann.build.jobs" -> "count",
    "Ann.build.files_written" -> "count",
    "KeywordIndex.build.ms" -> "ms",
    "KeywordIndex.build.shuffle_bytes" -> "bytes",
    "KeywordIndex.build.files_written" -> "count",
    "DocIndex.build.ms" -> "ms",
    "DocIndex.build.shuffle_bytes" -> "bytes",
    "DocIndex.build.files_written" -> "count",
    "Collection.upsert.ms" -> "ms",
    "Collection.upsert.jobs" -> "count",
    "Collection.upsert.bytes_written_per_batch_byte" -> "ratio",
    "Collection.delete.ms" -> "ms",
    "Collection.write_p50_ms" -> "ms",
    "Collection.refresh_s" -> "s",
    "Collection.meta.ms" -> "ms",
    "Collection.versions" -> "count",
    "refresh.index.ms" -> "ms",
    "refresh.docindex.ms" -> "ms",
    "refresh.kwindex.ms" -> "ms",
    "refresh.index.buckets_rebuilt" -> "count",
    "refresh.docindex.buckets_rebuilt" -> "count",
    "refresh.kwindex.buckets_rebuilt" -> "count",
    "query.construct_ms" -> "ms",
    "query.execute_ms" -> "ms",
    "query.jobs" -> "count",
    "query.tasks" -> "count",
    "query.input_bytes" -> "bytes",
    "query.input_files" -> "count",
    "query.bytes_read_ratio" -> "ratio",
    "query.recall_at_10" -> "ratio",
    "query.exact_ms" -> "ms",
    "KeywordIndex.topk.ms" -> "ms",
    "DocIndex.contains.ms" -> "ms",
    "ChromaRestServer.overhead_ms" -> "ms",
    "ChromaRestServer.response_bytes" -> "bytes",
    "ChromaRestServer.query_per_s" -> "1/s",
    "spark.task_busy_ratio" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "jvm.gc_ms" -> "ms",
    "trace.ns_per_span" -> "ns")

  /** Counts that repeat exactly for a fixed seed on a fixed core count. */
  val ExactCounts: Seq[String] = Seq(
    "Assemble.input_bytes_per_row", "Collection.add.jobs", "Collection.add.shuffle_bytes",
    "Collection.add.files_written", "Ann.build.jobs", "Ann.build.files_written",
    "KeywordIndex.build.shuffle_bytes", "KeywordIndex.build.files_written",
    "DocIndex.build.shuffle_bytes", "DocIndex.build.files_written",
    "Collection.upsert.jobs", "Collection.upsert.bytes_written_per_batch_byte",
    "Collection.versions", "refresh.index.buckets_rebuilt",
    "refresh.docindex.buckets_rebuilt", "refresh.kwindex.buckets_rebuilt",
    "query.jobs", "query.tasks", "query.input_bytes", "query.input_files",
    "query.bytes_read_ratio", "query.recall_at_10")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, record: Option[String], smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var smoke = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--smoke" => smoke = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => kv(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), kv.get("record"), smoke)
    require(WorkloadNames.contains(o.workload),
      s"unknown workload '${o.workload}' (one of ${WorkloadNames.mkString(", ")})")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly: the REST server's handler pool is not daemon and
    // outlives server.stop(), which would keep the JVM alive
    val code = try { println(run(parse(args)).json); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  /** The result line: correctness tally plus metric → (value, unit). */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, (Double, String))]) {
    def json: String = Json(mutable.LinkedHashMap[String, Any]("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap.from(metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })))
  }

  def run(o: Opts): Result = {
    val load0 = loadAvg
    val steal0 = stealJiffies
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .appName(s"bench-${o.workload}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftExtensions.register(spark)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(o.trace, spark.sparkContext, counters)
    val size = if (o.smoke) Size.smoke else Size.full
    val ctx = new Ctx(spark, tracer, counters, o.work, o.seed, o.seconds, size)
    ctx.record("session_s") = ctx.phase.sinceJvmStart
    try {
      val corpus = Gen.corpus(o.seed, size)
      ctx.writeInput(corpus)
      ctx.record("input_written_s") = ctx.phase.sinceJvmStart
      val inputBytes = Files.bytes(ctx.input)
      val m = o.workload match {
        case "serve_query" => Workloads.serveQuery(ctx, corpus, Clients)
        case "mutate_mixed" => Workloads.mutateMixed(ctx, corpus)
      }
      val heapMb = retainedHeapMb()
      val e2e = endToEnd(ctx, m, corpus, inputBytes, heapMb)
      val layer = if (o.trace) perLayer(ctx, m, corpus) else Map.empty[String, Double]
      val load1 = loadAvg
      val steal = for ((s0, t0) <- steal0; (s1, t1) <- stealJiffies if t1 > t0)
        yield (s1 - s0).toDouble / (t1 - t0)
      val metrics = if (o.trace) PerLayer.map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }
        else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
      val correct = ctx.failed == 0
      o.record.foreach { path =>
        val rec = mutable.LinkedHashMap[String, Any](
          "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
          "trace" -> o.trace, "smoke" -> o.smoke,
          "env" -> (envStamp(cpus, load0, load1, spark.version, o.seed) +
            ("steal_ratio" -> steal)),
          "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
          "error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
          "failures" -> ctx.failures.toSeq,
          "end_to_end" -> EndToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }.toMap,
          "measured_s" -> ctx.phase.seconds,
          "pipeline" -> Map("hydrate_ms" -> m.built.hydrateMs,
            "build_ms" -> m.built.buildMs, "store_bytes" -> m.built.storeBytes),
          "reads_ms" -> Stats.summary(m.readsMs))
        rec ++= ctx.record
        if (o.trace) {
          rec("per_layer") = PerLayer.map { case (k, u) => k -> Map("value" -> layer.getOrElse(k, 0.0), "unit" -> u) }.toMap
          rec("exact_counts") = ExactCounts
          rec("files_written") = ctx.filesWritten.toMap
          rec("spans") = tracer.all.filterNot(_.name == "trace.empty").map(s => Map("id" -> s.id, "parent" -> s.parent,
            "request" -> s.request, "name" -> s.name, "start_ns" -> s.startNs,
            "end_ns" -> s.endNs, "counts" -> s.counts))
        }
        NioFiles.write(Paths.get(path), Json(rec).getBytes(StandardCharsets.UTF_8))
      }
      Result(correct, ctx.attempted, ctx.failed, metrics)
    } finally spark.stop()
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after full collections: the least of three, so a
    * collection that raced a background allocation does not count. */
  def retainedHeapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  /** (steal, total) CPU jiffies from /proc/stat: the time the hypervisor
    * ran other guests instead of this one. None where it is unreadable. */
  def stealJiffies: Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.sum)
  }.toOption

  def envStamp(cpus: Int, load0: Double, load1: Double, sparkVersion: String,
               seed: Long): Map[String, Any] = {
    val nproc = Runtime.getRuntime.availableProcessors
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(_.startsWith("-Xmx")).lastOption.getOrElse("default")
    Map("nproc" -> nproc, "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "spark_cores" -> cpus, "xmx" -> xmx,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "load_avg_before" -> load0, "load_avg_after" -> load1,
      "load_exceeds_nproc" -> (math.max(load0, load1) > nproc),
      "spark" -> sparkVersion, "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "git_head" -> sys.props.getOrElse("bench.git_head", "unknown"),
      "source_sha256" -> sys.props.getOrElse("bench.source_sha256", "unknown"),
      "seed" -> seed)
  }

  def endToEnd(ctx: Ctx, m: Measured, corpus: Corpus, inputBytes: Long,
               heapMb: Double): Map[String, Double] = {
    val n = corpus.size.rows.toDouble
    Map(
      "setup_s" -> ctx.phase.setupS,
      "ingest_rows_per_s" -> n / ((m.built.hydrateMs + m.built.buildMs.sum) / 1000),
      "store_bytes_per_input_byte" -> m.built.storeBytes.toDouble / inputBytes,
      "query_p50_ms" -> Stats.median(m.readsMs),
      "heap_retained_mb" -> heapMb)
  }

  /** Calls the traced run makes after the measured phase so that every
    * workload reports the same layers: the assembly kernel into the noop
    * sink, one direct `add`, `meta`, and a read probe (IVF construct and
    * execute, the exact scan of the same queries, keyword and `$contains`
    * reads) against the workload's final collection. */
  private def probes(ctx: Ctx, m: Measured, corpus: Corpus): Unit = {
    val spark = ctx.spark
    def frame = Assemble.hydrationFrame(spark.read.parquet(ctx.input), "doc_id", "text",
      "emb_", Some("rating"))
    for (_ <- 0 until 3) ctx.op("probe.Assemble.noop")(
      frame.write.format("noop").mode("overwrite").save())(_ => Nil)
    val add = ctx.catalog.getOrCreateCollection("probe_add")
    ctx.tracked("probe.Collection.add", ctx.collDir("probe_add")) {
      ctx.op("probe.Collection.add")(add.add(frame))(_ => Nil)
    }
    for (_ <- 0 until 5) ctx.op("probe.Collection.meta")(m.built.coll.meta)(_ => Nil)
    ctx.layer("Collection.versions") = m.built.coll.history().size.toDouble
    val r = new Random(ctx.seed * 31 + 3)
    val recall = mutable.ArrayBuffer.empty[Double]
    val ratio = mutable.ArrayBuffer.empty[Double]
    val files = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until 6) {
      val v = Gen.vecNear(r, corpus.centers(r.nextInt(corpus.centers.length)), 0.25).toSeq
      val built = ctx.op("probe.query.construct")(m.built.coll.queryStruct(Seq(v), Gen.K))(_ => Nil)
      built.foreach { case (df, _) =>
        files += df.inputFiles.length
        val ivf = ctx.op("probe.query.execute")(df.collect())(rows =>
          Seq(Checks.queryShape(Gen.K, Workloads.ids(rows.head), Workloads.doubles(rows.head, "distances"))))
        val exact = ctx.op("probe.query.exact")(m.built.coll.queryStruct(Seq(v), Gen.K, exact = true).collect())(_ => Nil)
        for ((a, _) <- ivf; (b, _) <- exact) {
          val truth = Workloads.ids(b.head).toSet
          recall += Workloads.ids(a.head).count(truth).toDouble / truth.size
        }
      }
    }
    val ex = ctx.tracer.named("probe.query.execute")
    val exact = ctx.tracer.named("probe.query.exact")
    ex.zip(exact).foreach { case (a, b) =>
      if (b.counts("input_bytes") > 0) ratio += a.counts("input_bytes").toDouble / b.counts("input_bytes") }
    if (recall.nonEmpty) ctx.layer("query.recall_at_10") = Stats.median(recall.toSeq)
    if (ratio.nonEmpty) ctx.layer("query.bytes_read_ratio") = Stats.median(ratio.toSeq)
    if (files.nonEmpty) ctx.layer("query.input_files") = Stats.median(files.toSeq)
    if (m.built.coll.hasKeywordIndex) {
      val vocab = Gen.vocabulary(corpus.size.vocab)
      for (i <- 0 until 3) ctx.op("probe.KeywordIndex.topk")(
        m.built.coll.keywordTopK(Seq(vocab(i), vocab(i + 3)), Gen.K).collect())(rows =>
        Seq(Checks.keywordShape(Gen.K, rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("score")).toSeq)))
    }
    for (p <- Gen.CommonPhrases) ctx.op("probe.DocIndex.contains")(
      m.built.coll.getStruct(whereDoc = Some(Contains(p)), include = Set("documents")).head())(row =>
      Seq(Checks.docsContain(p, Workloads.list[String](row, "documents"))))
  }

  def perLayer(ctx: Ctx, m: Measured, corpus: Corpus): Map[String, Double] = {
    val ph = ctx.phase
    val busy = ph.delta("run_time_ms") / (ph.seconds * 1000 * ctx.spark.sparkContext.defaultParallelism)
    val spark = Map("spark.task_busy_ratio" -> busy, "spark.jobs" -> ph.delta("jobs").toDouble,
      "spark.stages" -> ph.delta("stages").toDouble, "spark.tasks" -> ph.delta("tasks").toDouble,
      "jvm.gc_ms" -> (ph.endGcMs - ph.startGcMs).toDouble)
    probes(ctx, m, corpus)
    val t = ctx.tracer
    def ms(span: String): Double = {
      val xs = t.named(span).map(_.ms); if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def cnt(span: String, key: String): Double = {
      val xs = t.named(span).map(_.counts(key).toDouble); if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def files(span: String): Double =
      ctx.filesWritten.get(span).filter(_.nonEmpty).fold(0.0)(xs => Stats.median(xs.map(_.toDouble).toSeq))
    val n = corpus.size.rows.toDouble
    val upsertOut = t.named("Collection.upsert").map(_.counts("output_bytes")).sum.toDouble
    val batchBytes = ctx.record.get("upsert_batch_bytes").fold(0.0)(_.asInstanceOf[Double])
    val spanNs = {
      val k = 200
      val t0 = System.nanoTime()
      for (_ <- 0 until k) t.span("trace.empty")(())
      (System.nanoTime() - t0).toDouble / k
    }
    Map(
      "Assemble.ns_per_row" -> ms("probe.Assemble.noop") * 1e6 / n,
      "Assemble.input_bytes_per_row" -> cnt("probe.Assemble.noop", "input_bytes") / n,
      "Hydrator.run.ms" -> ms("Hydrator.run"),
      "Collection.add.ms" -> ms("probe.Collection.add"),
      "Collection.add.jobs" -> cnt("probe.Collection.add", "jobs"),
      "Collection.add.shuffle_bytes" -> cnt("probe.Collection.add", "shuffle_bytes"),
      "Collection.add.files_written" -> files("probe.Collection.add"),
      "Ann.build.ms" -> ms("Ann.build"),
      "Ann.build.jobs" -> cnt("Ann.build", "jobs"),
      "Ann.build.files_written" -> files("Ann.build"),
      "KeywordIndex.build.ms" -> ms("KeywordIndex.build"),
      "KeywordIndex.build.shuffle_bytes" -> cnt("KeywordIndex.build", "shuffle_bytes"),
      "KeywordIndex.build.files_written" -> files("KeywordIndex.build"),
      "DocIndex.build.ms" -> ms("DocIndex.build"),
      "DocIndex.build.shuffle_bytes" -> cnt("DocIndex.build", "shuffle_bytes"),
      "DocIndex.build.files_written" -> files("DocIndex.build"),
      "Collection.upsert.ms" -> ms("Collection.upsert"),
      "Collection.upsert.jobs" -> cnt("Collection.upsert", "jobs"),
      "Collection.upsert.bytes_written_per_batch_byte" ->
        (if (batchBytes > 0) upsertOut / batchBytes else 0.0),
      "Collection.delete.ms" -> ms("Collection.delete"),
      "Collection.meta.ms" -> ms("probe.Collection.meta"),
      "refresh.index.ms" -> ms("refresh.index"),
      "refresh.docindex.ms" -> ms("refresh.docindex"),
      "refresh.kwindex.ms" -> ms("refresh.kwindex"),
      "query.construct_ms" -> ms("probe.query.construct"),
      "query.execute_ms" -> ms("probe.query.execute"),
      "query.jobs" -> cnt("probe.query.execute", "jobs"),
      "query.tasks" -> cnt("probe.query.execute", "tasks"),
      "query.input_bytes" -> cnt("probe.query.execute", "input_bytes"),
      "query.exact_ms" -> ms("probe.query.exact"),
      "KeywordIndex.topk.ms" -> ms("probe.KeywordIndex.topk"),
      "DocIndex.contains.ms" -> ms("probe.DocIndex.contains"),
      "trace.ns_per_span" -> spanNs) ++ spark ++ ctx.layer
  }
}

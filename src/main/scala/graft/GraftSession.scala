package graft

import org.apache.spark.sql.SparkSession

import graft.expressions.GraftExtensions

/** Canonical session bootstrap (the A18 surface: the reference's
  * connect-with-token/session-reuse machinery, sas:86-90, sas:283-311,
  * collapses to `SparkSession.builder.getOrCreate` here).
  *
  * Encodes every setting this engine relies on:
  *  - shuffle partitions sized to cores (local mode), AQE on (runtime
  *    coalesce + skew-join split),
  *  - UTC session time zone (oracle parity),
  *  - `nanosAsLong` so TIMESTAMP(NANOS) parquet (the events table) reads,
  *  - graft SQL functions + the IVF prune rule registered.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      // Spark 4's streaming checkpoint checksum layer doubles every WAL
      // file op (offsets/commits each get a sidecar checksum write) and
      // allocates a named thread pool PER checkpoint-file-manager instance
      // — across a many-query suite these pools accumulated to hundreds of
      // idle threads (measured r7: ~850 by suite end), and the extra
      // serial file ops land on exactly the latency-sensitive path
      // (per-microbatch commit). Corruption detection on a local/HDFS
      // checkpoint dir is a deployment choice, not an engine semantic —
      // re-enable it per-job where the checkpoint store warrants it.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // Generated-class cache (static conf, default 100 entries): a JVM
      // running a many-query workload (the 185-entry bench suite, any
      // long-lived serving session) generates several codegen units per
      // query — at the default size queries evict each other and every
      // re-run pays full Janino recompilation instead of a cache hit.
      // Sized for breadth (thousands of distinct operators), not data
      // scale: the cache holds compiled classes, not rows, so the cost
      // is a few MB of metaspace per thousand entries on driver and
      // executors alike.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // AQE partition coalescing by TARGET SIZE, not parallelism floor:
      // with the default (parallelismFirst=true) every post-shuffle read
      // keeps >= defaultParallelism partitions no matter how few bytes it
      // carries, so a small stage schedules a full width of near-empty
      // tasks (the multi-Exchange query plans here pay it per stage).
      // Respecting advisoryPartitionSizeInBytes is the scale-adaptive
      // rule: stages above the advisory size keep full width, stages
      // below it coalesce to the data — Spark's own tuning guide
      // recommends setting this to false. Partition counts never change
      // query results (every declared query carries a total order).
      // CAVEAT measured this round: size-based coalescing under-sizes
      // stages whose cost is CPU per row, not bytes (regex scans, PQ
      // ADC distance folds) — those need a LOW advisory size so byte-
      // light/CPU-heavy shuffles keep their width.
      //
      // A deployment overrides any of these three dials with a later
      // `.config(k, v)` on the returned builder (the last one wins), or
      // with `spark.conf.set` at runtime for the two AQE confs.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")

  /** Get-or-create with graft functions registered even when an existing
    * session (built elsewhere, e.g. by the driver) is returned. */
  def getOrCreate(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftExtensions.register(spark) // no-op if the extensions path already ran
    spark
  }
}

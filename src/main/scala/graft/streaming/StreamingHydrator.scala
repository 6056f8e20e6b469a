package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.catalog.Collection
import graft.operators.Assemble

/** Streaming hydration: the reference's one-shot batch load
  * (extras/...sas:177-190, a single `collection.add`) re-expressed as a
  * Structured Streaming sink, so a 100 TB corpus can hydrate continuously
  * instead of via one giant client-side batch.
  *
  * Patterns provided:
  *  - `hydrate`: readStream rows → per-microbatch upsert into a collection
  *    (`foreachBatch`; upsert not add, so replayed batches stay idempotent —
  *    exactly-once effect on top of at-least-once delivery).
  *  - `dedupedHydrate`: drop duplicate ids inside the watermark window
  *    before the sink (streaming form of B1's unique-id invariant).
  *  - `windowedCounts`: tumbling-window event counts with late-data drop —
  *    the C9 windowed-agg surface.
  */
object StreamingHydrator {

  /** A session for STATEFUL streaming work with the state-store
    * partition dial made explicit. Stateful operators create one state
    * store PER shuffle partition PER stateful operator, and every store
    * pays a fixed per-microbatch cost (load/commit/maintenance)
    * independent of row volume — the batch session's shuffle setting is
    * sized for DATA throughput (cores, e.g. 32), and on small or bursty
    * streams the store overhead dominates microbatch wall-clock (the
    * q142/q146 fixed-cost class in the bench record). The count is also
    * FROZEN into the checkpoint at first start (Spark replays it for the
    * query's lifetime), so it should be chosen deliberately, never just
    * inherited.
    *
    * `partitions > 0` pins that count; `<= 0` (default) picks a
    * heuristic: defaultParallelism/4 clamped to [8, 200] — enough stores
    * to spread a real cluster's state across executors, few enough that
    * per-store fixed costs don't dominate a small microbatch. The parent
    * session is untouched (conf isolation via newSession: shared
    * SparkContext, separate SQL conf). */
  def streamingSession(spark: org.apache.spark.sql.SparkSession,
                       partitions: Int = 0,
                       noDataBatches: Boolean = true): org.apache.spark.sql.SparkSession = {
    val n =
      if (partitions > 0) partitions
      else math.min(200, math.max(8, spark.sparkContext.defaultParallelism / 4))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", n.toString)
    // `noDataBatches = false` suppresses the empty micro-batch Spark runs
    // after every data batch to apply the freshly-advanced watermark
    // (state eviction / expiry sweeps). Each such batch costs the full
    // per-batch fixed overhead (~0.8 s at this fixture scale: job
    // scheduling + state-store commits + incremental re-planning;
    // measured on the q142 shape: 9 batches 9.1 s -> 6 batches 6.5 s,
    // OPTIMIZATION_r17.md §1).
    // Safe ONLY for sinks whose OUTPUT never originates in an expiry
    // sweep-after-final-batch: inner stream-stream joins (emission on
    // match; eviction is internal) and watermark dedup (emission on
    // arrival). NOT safe for windowed-append aggregation (q111: the final
    // pusher's windermark only applies in the batch AFTER it — the flush
    // IS a no-data batch) — keep the default there. Left-outer joins are
    // safe only when a trailing DATA batch follows the final watermark
    // push (q146's nudge-row design does exactly that) — proven by the
    // oracle hash at all gate scales, not by this comment.
    if (!noDataBatches)
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2
  }

  /** Per-microbatch upsert sink. Caller starts/stops the returned writer.
    * Pass `orderCol` (e.g. an event version/timestamp) when a redelivered
    * batch can contain multiple versions of one id — latest-wins then
    * resolves by that column instead of the content-hash fallback.
    * `trigger` defaults to AvailableNow (drain-and-stop, the bulk-hydrate
    * shape); pass ProcessingTime for a continuously-running sink. */
  def hydrate(
      rows: DataFrame,
      collection: Collection,
      checkpointDir: String,
      orderCol: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) collection.upsert(batch, orderCol)
      }

  /** [[hydrate]] that keeps the collection's sidecar indexes CURRENT:
    * after each microbatch's upsert lands, the trigram-postings index
    * (and, with `refreshIvf`, the IVF index) is incrementally refreshed
    * to the new version — only the batch's own id buckets re-derive;
    * every other slice hard-links forward ([[Collection.refreshDocIndex]]
    * / [[Collection.refreshIndex]]).
    *
    * This closes the streaming-hydration gap the version-bound indexes
    * otherwise have: every microbatch bumps the version and silently
    * degrades reads to full scans until someone pays an O(corpus)
    * rebuild. With per-batch refresh the cost per microbatch is bounded
    * by the batch's bucket spread, so `where_document`/kNN reads stay
    * index-confined THROUGHOUT continuous ingestion. (The first batch
    * pays one full build — there is no prior to refresh from.)
    *
    * The postings refresh REQUIRES the collection to carry a `document`
    * column (the thing a postings index indexes); an embedding-only
    * stream must pass `refreshDoc = false` (typically with
    * `refreshIvf = true`) — the sink fails LOUDLY at the first batch
    * otherwise, instead of dying inside the index build on a missing
    * column. */
  def hydrateIndexed(
      rows: DataFrame,
      collection: Collection,
      checkpointDir: String,
      orderCol: Option[String] = None,
      refreshIvf: Boolean = false,
      refreshDoc: Boolean = true,
      refreshKeyword: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(refreshDoc || refreshIvf || refreshKeyword,
      "hydrateIndexed with refreshDoc=false, refreshIvf=false and " +
        "refreshKeyword=false refreshes nothing — use hydrate() for an " +
        "index-free sink")
    // the document-column probe re-reads meta and re-infers the parquet
    // schema (listing + footer reads) — once proven present it stays
    // present for the stream's lifetime (upsert only ADDS columns), so
    // probe on the first batch only, not per microbatch. The probe gates
    // BOTH document-derived families (postings + keyword stats).
    var docColumnProven = false
    def proveDocColumn(family: String, flag: String): Unit = {
      if (!docColumnProven) {
        require(collection.toDF.columns.contains("document"),
          s"collection '${collection.name}' carries no 'document' column — " +
            s"a $family index cannot be refreshed; pass $flag = false " +
            "for an embedding-only stream")
        docColumnProven = true
      }
    }
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          collection.upsert(batch, orderCol)
          if (refreshDoc) {
            proveDocColumn("postings", "refreshDoc")
            collection.refreshDocIndex()
          }
          if (refreshKeyword) {
            proveDocColumn("keyword-stats", "refreshKeyword")
            collection.refreshKeywordIndex()
          }
          if (refreshIvf) collection.refreshIndex()
          (): Unit
        }
      }
  }

  /** Per-microbatch CDC sink: apply only each batch's [[graft.Hydrator.delta]]
    * against current contents. Unlike [[hydrate]] (whose upsert rewrites the
    * affected buckets even for identical redelivered rows), an unchanged or
    * replayed microbatch writes NO store version at all — the strongest
    * idempotence the store offers, and the right sink when the stream is a
    * change-feed that may redeliver old snapshots. */
  def sync(
      rows: DataFrame,
      collection: Collection,
      checkpointDir: String,
      compareCols: Seq[String],
      orderCol: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) graft.Hydrator.sync(collection, batch, compareCols, orderCol)
        (): Unit
      }

  /** Streaming unique-id enforcement: duplicates arriving within the
    * watermark horizon are dropped before the sink. */
  def dedupedRows(rows: DataFrame, tsCol: String, watermark: String): DataFrame =
    rows.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("id")

  /** Tumbling-window counts with watermark-based late-data drop. */
  def windowedCounts(
      events: DataFrame, tsCol: String,
      watermark: String, windowLen: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** Wide-input streaming assembly: the reference's A2+A4 applied to a
    * stream (pattern projection is schema-static, so it works unchanged). */
  def assembleStream(
      wide: DataFrame, docIdCol: String, textCol: String,
      embeddingPattern: String, metadataCol: Option[String] = None): DataFrame =
    Assemble.hydrationFrame(wide, docIdCol, textCol, embeddingPattern, metadataCol)

  /** Event-time session windows (gap-based), the streaming form of the
    * batch sessionization query (SparkEntry q23): one row per closed
    * session with its event count. */
  def sessionCounts(
      events: DataFrame, tsCol: String, userCol: String,
      watermark: String, gap: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        col("session_window.start").as("session_start"), col("n_events"))

  /** Custom keyed state via mapGroupsWithState: a per-key running
    * high-water mark over an unbounded stream — the KeyValueGroupedDataset
    * state surface for aggregations no built-in window expresses. */
  def runningMax(
      events: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    // key travels as STRING: a long cast would null out non-numeric keys and
    // crash the non-nullable encoder the moment the stream starts
    events.select(col(keyCol).cast("string"), col(valueCol).cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[Double]) =>
          val batchMax = rows.map(_._2).max
          val hwm = math.max(state.getOption.getOrElse(Double.MinValue), batchMax)
          state.update(hwm)
          (key, hwm)
      }
      .toDF(keyCol, "high_water_mark")
  }

  /** Stream-STREAM inner interval join — the two-stream state surface
    * (batch analog: `Events.intervalJoin`): left row ⋈ right row when
    * keys are equal and the right's event time falls in
    * [left ts, left ts + `within`]. BOTH sides carry watermarks and the
    * join condition bounds event-time distance, so each side's buffered
    * state is evictable the moment the other side's watermark passes it —
    * the property that makes a two-stream join runnable at 100 TB rates
    * at all (without both bounds Spark rejects the append-mode query
    * outright, and rows older than `delay` behind the watermark are
    * DROPPED, the documented late-data contract). Left columns must not
    * collide with right columns except `keyCol` (kept once). */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                         lTsCol: String, rTsCol: String,
                         delay: String, within: String,
                         joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"stream-stream interval join supports inner/left_outer, got '$joinType'")
    val l = left.withWatermark(lTsCol, delay)
    val r = right.withWatermark(rTsCol, delay)
    // LEFT OUTER adds the null-emission-on-expiry path: an unmatched
    // left row is held in state until BOTH watermarks prove no matching
    // right row can still arrive (its interval has fully expired), then
    // emits once with null right columns — the event-time bound on both
    // sides is what makes that expiry decidable, same as the inner case.
    // Spark's documented caveat applies: the null row emits only when a
    // later input batch advances the watermark past the expiry point, so
    // drive a final pusher row through BOTH streams before draining.
    l.join(r, l(keyCol) === r(keyCol) &&
        r(rTsCol) >= l(lTsCol) &&
        r(rTsCol) <= l(lTsCol) + expr(s"INTERVAL $within"), joinType)
      .drop(r(keyCol))
  }
}

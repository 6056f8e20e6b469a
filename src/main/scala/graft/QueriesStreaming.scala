package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.{Collection, CollectionCatalog}
import graft.functions.{Distances, TextAnalysis}
import graft.operators.{Ann, Assemble, ChromaFilter, Dedup, Events, HashingEmbedder, Knn, Lm, Mixture, Multimodal, Retrieval, Sketches, Skew, TfIdfSrpEmbedder}

/** SURVEY §2.D query family: structured-streaming hydration — foreachBatch
  * upsert, watermark dedup, stream-stream joins, live index refresh, and
  * the real file source.
  *
  * Pure code motion from the pre-r15 single-file SparkEntry (the 164/164
  * CORRECTNESS sweep is the refactoring harness — hashes unchanged);
  * [[SparkEntry]] composes the families back into the driver-contract
  * `queries`/`oracleSql` maps. Shared fixtures/helpers live in
  * [[EntryKit]].
  */
private[graft] trait QueriesStreaming extends EntryKit {

  private[graft] def streamingQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C9 watermark semantics, ORACLED: three microbatches through a
    // 1-hour-watermark tumbling window in APPEND mode. Timestamps are a
    // pure function of event_id (3 min apart — identical at every sf;
    // the fixture's own event times change density per scale), so batch
    // 1 (events 0-99, spanning ~5 h) leaves the watermark at ~3.95 h,
    // and batch 2's LATE copies of events 0-9 (windows ending <= 1 h)
    // hit evicted state and MUST drop — if either engine counted them
    // the per-window counts would differ. A final pusher row (+30 h)
    // flushes every real window; its own window never closes, so it
    // appears in no output. The oracle is the plain windowed count of
    // the 200 real events: the late-drop and the append-mode emission
    // set are exactly what the hash pins.
    // C9 stream-STREAM inner interval join — the two-stream state surface
    // (q78's batch interval join, live): even event_ids stream left, odd
    // ones right, joined on user_id with the right's event time within
    // [lts, lts + 4h]. Both sides watermarked (8h delay); after the
    // watermark push, a re-sent copy of the first left row MUST be
    // dropped (the late-data contract) — a surviving copy would duplicate
    // its pairs and hash-mismatch the oracle, so eviction itself is under
    // test. Driver-fed bounded fixture (MemoryStream), two data batches
    // so cross-batch matches exercise the buffered state.
    "q142_stream_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      val base = t(s, dir, "events").filter(col("event_id") < 1000)
        .select(col("event_id"), col("user_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      // day-one base: a ts of EXACTLY epoch 0 equals Spark's initial
      // watermark and is pre-dropped in the first batch (event 0's pairs
      // silently vanish — found by the sf0.001 oracle diff)
      def ts(i: Long) = new java.sql.Timestamp(86400000L + i * 60000L)
      val lRows = base.filter(_._1 % 2 == 0).map { case (i, u) => (u, ts(i), i) }
      val rRows = base.filter(_._1 % 2 == 1).map { case (i, u) => (u, ts(i), i) }
      // a stream-stream join opens FOUR state stores per shuffle partition
      // per microbatch; at the session's 32 partitions the four batches
      // here pay ~512 store inits for a 1000-row driver-fed fixture —
      // fixed cost, not data. 8 partitions cut it 4× (measured 11.3 s →
      // see BASELINE r11). The override lives on a CLONED session (shared
      // SparkContext, isolated SQL conf), so concurrent work on the main
      // session never plans with it and no finally-restore can leak.
      val s2 = StreamingHydrator.streamingSession(s, partitions = 2,
        noDataBatches = false)
      implicit val sqlc: org.apache.spark.sql.SQLContext = s2.sqlContext
      import s2.implicits._
      val lMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val qn = s"q142_out_${dir.hashCode.toLong & 0xffffffffL}"
      s2.catalog.dropTempView(qn)
      val joined = StreamingHydrator.intervalJoinStream(
        lMem.toDF().toDF("user_id", "lts", "l_event"),
        rMem.toDF().toDF("user_id", "rts", "r_event"),
        "user_id", "lts", "rts", delay = "8 hours", within = "4 hours")
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.ProcessingTime(0L)).start()
      try {
        lMem.addData(lRows.filter(_._3 < 500).toIndexedSeq: _*)
        rMem.addData(rRows.filter(_._3 < 500).toIndexedSeq: _*)
        q.processAllAvailable()
        lMem.addData(lRows.filter(_._3 >= 500).toIndexedSeq: _*)
        rMem.addData(rRows.filter(_._3 >= 500).toIndexedSeq: _*)
        q.processAllAvailable()
        // advance BOTH watermarks far past the fixture, then re-send the
        // first left row: it sits days behind the watermark → dropped
        lMem.addData(Seq((999999L, ts(100000L), 999999L)): _*)
        rMem.addData(Seq((999999L, ts(100001L), 999998L)): _*)
        q.processAllAvailable()
        lMem.addData(lRows.take(1).toIndexedSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      s2.table(qn).filter(col("l_event") < 999990L)
        .select(col("user_id"), col("l_event"), col("r_event"))
        .orderBy("user_id", "l_event", "r_event")
    }),
    // C9 stream-stream LEFT OUTER interval join — the null-emission-on-
    // watermark-expiry state path (the semantics Spark users hit right
    // after inner joins, historically the buggy one): q142's fixture and
    // late-drop discipline, but every UNMATCHED left row must ALSO emit,
    // exactly once, with null right columns, after both watermarks prove
    // its interval can no longer match. Null r_event is COALESCEd to -1
    // on both engines (hash-stable across NULL representations). The
    // oracle is the plain batch LEFT JOIN: matched pairs identical to
    // q142's inner replay, plus one -1 row per matchless left event.
    "q146_stream_stream_left_join" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      val base = t(s, dir, "events").filter(col("event_id") < 1000)
        .select(col("event_id"), col("user_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      def ts(i: Long) = new java.sql.Timestamp(86400000L + i * 60000L)
      val lRows = base.filter(_._1 % 2 == 0).map { case (i, u) => (u, ts(i), i) }
      val rRows = base.filter(_._1 % 2 == 1).map { case (i, u) => (u, ts(i), i) }
      // same state-store economics as q142 (4 stores/partition/batch):
      // 8 partitions on a cloned session, main session untouched
      val s2 = StreamingHydrator.streamingSession(s, partitions = 2,
        noDataBatches = false)
      implicit val sqlc: org.apache.spark.sql.SQLContext = s2.sqlContext
      import s2.implicits._
      val lMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
      val qn = s"q146_out_${dir.hashCode.toLong & 0xffffffffL}"
      s2.catalog.dropTempView(qn)
      val joined = StreamingHydrator.intervalJoinStream(
        lMem.toDF().toDF("user_id", "lts", "l_event"),
        rMem.toDF().toDF("user_id", "rts", "r_event"),
        "user_id", "lts", "rts", delay = "8 hours", within = "4 hours",
        joinType = "left_outer")
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.ProcessingTime(0L)).start()
      try {
        lMem.addData(lRows.filter(_._3 < 500).toIndexedSeq: _*)
        rMem.addData(rRows.filter(_._3 < 500).toIndexedSeq: _*)
        q.processAllAvailable()
        lMem.addData(lRows.filter(_._3 >= 500).toIndexedSeq: _*)
        rMem.addData(rRows.filter(_._3 >= 500).toIndexedSeq: _*)
        q.processAllAvailable()
        // push BOTH watermarks days past the fixture: every real left
        // row's interval expires, so the unmatched ones must now emit
        // their null rows (Spark runs the expiry sweep against the
        // watermark the PREVIOUS batch established — hence one more
        // batch below)
        lMem.addData(Seq((999999L, ts(100000L), 999999L)): _*)
        rMem.addData(Seq((999999L, ts(100001L), 999998L)): _*)
        q.processAllAvailable()
        // final round, two birds: a re-sent copy of the first left row
        // sits days behind the already-advanced watermark and must NOT
        // emit (the late-drop contract, unchanged by outer-ness — not
        // even a null-row consolation prize), while the riding nudge
        // pair keeps both watermarks moving so this batch's expiry
        // sweep flushes every remaining unmatched left row
        lMem.addData((lRows.take(1) ++ Seq((999999L, ts(100002L), 999997L))).toIndexedSeq: _*)
        rMem.addData(Seq((999999L, ts(100003L), 999996L)): _*)
        q.processAllAvailable()
      } finally q.stop()
      s2.table(qn).filter(col("l_event") < 999990L)
        .select(col("user_id"), col("l_event"),
          coalesce(col("r_event"), lit(-1L)).as("r_event"))
        .orderBy("user_id", "l_event", "r_event")
    }),
    // C1/C9 STREAMING DEDUP under the oracle (dropDuplicatesWithinWatermark,
    // the streaming form of q16's exact dedup): three classes of input —
    // originals, WITHIN-watermark duplicates (same id re-sent minutes
    // later, must dedup against buffered state), and a LATE duplicate
    // (re-sent hours behind the watermark, must be dropped by the
    // late-data contract, NOT re-emitted from evicted state). Duplicate
    // rows carry the ORIGINAL's event_type and only (id, event_type) is
    // emitted, so the survivor is value-identical whichever physical row
    // wins — the output is deterministic and the oracle is the plain
    // DISTINCT over the originals. A re-emitted late dup would add a
    // 301st row; a missed in-horizon dedup would add more — the row
    // count AND hash pin both failure modes.
    "q147_streaming_dedup_watermark" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      val base = t(s, dir, "events").filter(col("event_id") < 300)
        .select(col("event_id"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def ts(i: Long) = new java.sql.Timestamp(86400000L + i * 180000L)
      def rows(lo: Long, hi: Long) = base
        .filter { case (i, _) => i >= lo && i < hi }
        .map { case (i, t) => (i.toString, ts(i), t) }
      val s2 = StreamingHydrator.streamingSession(s, partitions = 2,
        noDataBatches = false)
      implicit val sqlc: org.apache.spark.sql.SQLContext = s2.sqlContext
      import s2.implicits._
      val mem = MemoryStream[(String, java.sql.Timestamp, String)]
      val qn = s"q147_out_${dir.hashCode.toLong & 0xffffffffL}"
      s2.catalog.dropTempView(qn)
      val deduped = StreamingHydrator.dedupedRows(
        mem.toDF().toDF("id", "ts", "event_type"), "ts", "1 hour")
      val q = deduped.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.ProcessingTime(0L)).start()
      try {
        // batch 1: originals 0-199 PLUS same-batch dups of 0-39 (+1 min,
        // same type) — state must collapse them on arrival
        val dups1 = rows(0, 40).map { case (id, t, ty) =>
          (id, new java.sql.Timestamp(t.getTime + 60000L), ty) }
        mem.addData((rows(0, 200) ++ dups1).toIndexedSeq: _*)
        q.processAllAvailable()
        // batch 2: originals 200-299, a CROSS-BATCH in-horizon dup of id
        // 199 — its original arrived in batch 1, so this dedup can only
        // come from BUFFERED STATE, never same-batch collapse (r12
        // ADVICE: a dup of 250 here shared a batch with its original and
        // left the cross-batch path untested). ts(199)+1 min sits above
        // batch 1's watermark (~ts(179)): in horizon, state still live.
        // Plus a LATE dup of id 0 — ~9.9 h behind that watermark, far
        // past the 1 h delay: the late-data contract must DROP it, not
        // re-emit it from evicted dedup state
        val lateDup = (base(0)._1.toString,
          new java.sql.Timestamp(ts(0).getTime + 120000L), base(0)._2)
        val crossBatchDup = (base(199)._1.toString,
          new java.sql.Timestamp(ts(199).getTime + 60000L), base(199)._2)
        mem.addData((rows(200, 300) ++ Seq(crossBatchDup, lateDup)).toIndexedSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      s2.table(qn).select(col("id"), col("event_type"))
        .orderBy(col("id").cast("long"))
    }),
    "q111_streaming_watermark" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      val base = t(s, dir, "events").filter(col("event_id") < 200)
        .select(col("event_id"), col("event_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def rows(lo: Long, hi: Long) = base
        .filter { case (i, _) => i >= lo && i < hi }
        .map { case (i, t) => (new java.sql.Timestamp(i * 180000L), t) }
      // a windowed streaming agg opens one state store per shuffle
      // partition per microbatch; at the session default 32, the three
      // tiny driver-fed batches here pay ~96 store round-trips of pure
      // fixed cost (the q142 lesson — its pin took 11.3 s → 5.3 s).
      // 8 partitions on a CLONED session (shared SparkContext, isolated
      // SQL conf) so concurrent work never plans with the override.
      val s2 = StreamingHydrator.streamingSession(s, partitions = 2)
      implicit val sqlc: org.apache.spark.sql.SQLContext = s2.sqlContext
      import s2.implicits._
      val mem = MemoryStream[(java.sql.Timestamp, String)]
      val qn = s"q111_out_${dir.hashCode.toLong & 0xffffffffL}"
      s2.catalog.dropTempView(qn)
      val out = StreamingHydrator.windowedCounts(
        mem.toDF().toDF("ts", "event_type"), "ts", "1 hour", "1 hour")
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.ProcessingTime(0L)).start()
      try {
        mem.addData(rows(0, 100): _*)
        q.processAllAvailable()
        mem.addData(rows(100, 200) ++ rows(0, 10): _*) // 0-9 = late copies
        q.processAllAvailable()
        mem.addData(Seq((new java.sql.Timestamp(30L * 3600000L), "___push")): _*)
        q.processAllAvailable()
      } finally q.stop()
      s2.table(qn)
        .select(expr("unix_micros(window_start) div 3600000000").as("hr"),
          col("event_type"), col("cnt"))
        .orderBy("hr", "event_type")
    }),
    // C9 END TO END: streaming hydration through the collection store —
    // a MemoryStream drained in THREE microbatches (overlapping ids across
    // batches, within-batch duplicate versions, one late old-version row),
    // committed per-microbatch by the foreachBatch upsert sink. The oracle
    // replays the sink's semantics in SQL: within a batch latest-ver wins
    // (the upsert's orderCol), across batches the LAST batch containing an
    // id wins (upsert = last-writer-wins, which is why the late row
    // REPLACES — the documented at-least-once contract of the sink).
    "q80_streaming_hydrate" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      import s.implicits._
      implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      cat.deleteCollection("stream80")
      val coll = cat.getOrCreateCollection("stream80")
      // bounded driver-side fixture (120 rows at any sf — MemoryStream is
      // driver-fed by design); ids sorted so batch slicing is stable
      val base = t(s, dir, "documents").filter(col("doc_id") < 120)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("doc"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      def rows(lo: Long, hi: Long, pre: String, ver: Long, b: Int) =
        base.filter { case (n, _) => n >= lo && n < hi }
          .map { case (n, doc) => (n.toString, s"$pre:$doc", ver, b) }
      val mem = MemoryStream[(String, String, Long, Int)]
      val ckpt = s"$root/q80_ckpt"
      val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
      ckptPath.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ckptPath, true)
      val q = StreamingHydrator.hydrate(
        mem.toDF().toDF("id", "document", "ver", "src_batch"),
        coll, ckpt, orderCol = Some("ver"),
        trigger = Trigger.ProcessingTime(0L)).start()
      try {
        mem.addData(rows(0, 60, "b1", 10, 1): _*)
        q.processAllAvailable()
        // overlap 30-89 + a within-batch duplicate (ids 30-34 at ver 21)
        mem.addData(rows(30, 90, "b2", 20, 2) ++ rows(30, 35, "b2r", 21, 2): _*)
        q.processAllAvailable()
        // overlap 60-119 + one LATE row: id 0 resurfaces with an OLD ver
        mem.addData(rows(60, 120, "b3", 30, 3) ++ rows(0, 1, "late", 5, 3): _*)
        q.processAllAvailable()
      } finally q.stop()
      coll.get().select(col("id"), col("document"), col("ver"), col("src_batch"))
        .orderBy(col("id").cast("long"))
    }),
    // CONTINUOUS hydration with CONTINUOUSLY-SERVEABLE indexes (r8): three
    // streamed microbatches upsert through hydrateIndexed, which refreshes
    // the postings index after EVERY batch (first batch = full build, the
    // rest incremental — only the batch's id buckets re-derive). The final
    // get($contains) is then served through an index that stayed current
    // across the whole stream; the oracle replays the final upsert state +
    // the verbatim contains, so index-freshness-under-streaming is what
    // the hash match proves.
    "q127_streaming_indexed" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      import s.implicits._
      implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      // hydrate-once (the q112 fingerprint discipline): the artifact is a
      // collection whose index was kept current by per-batch refreshes —
      // re-streaming per call would measure stream construction forever
      // and the indexed read path never. A fresh root (the driver's
      // Verify) always runs the stream once.
      val fp = s"stream2|$dir|tag=${fixtureTag(s, dir, "documents")}"
      val coll = cachedCollection(cat, "stream127", fp, _.hasDocIndex) {
        val c = cat.getOrCreateCollection("stream127")
        // bounded driver-side fixture (150 rows at any sf): MemoryStream
        // is driver-fed by design; ids sorted so batch slicing is stable
        val base = t(s, dir, "documents").filter(col("doc_id") < 150)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("doc"))
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        def rows(lo: Long, hi: Long, pre: String, ver: Long) =
          base.filter { case (n, _) => n >= lo && n < hi }
            .map { case (n, doc) => (n.toString, s"$pre:$doc", ver) }
        val mem = MemoryStream[(String, String, Long)]
        val ckpt = s"$root/q127_ckpt"
        val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
        ckptPath.getFileSystem(s.sparkContext.hadoopConfiguration).delete(ckptPath, true)
        val q = StreamingHydrator.hydrateIndexed(
          mem.toDF().toDF("id", "document", "ver"),
          c, ckpt, orderCol = Some("ver"),
          trigger = Trigger.ProcessingTime(0L)).start()
        try {
          mem.addData(rows(0, 80, "s1", 10): _*)   // full index build
          q.processAllAvailable()
          mem.addData(rows(40, 120, "s2", 20): _*) // overlap → incremental refresh
          q.processAllAvailable()
          mem.addData(rows(120, 150, "s3", 30): _*) // append → incremental refresh
          q.processAllAvailable()
        } finally q.stop()
        require(c.hasDocIndex,
          "q127 must end with a committed index at the CURRENT version " +
            "(the per-batch refresh is the thing under test)")
        c
      }
      require(coll.hasDocIndex, "q127 must serve through the refreshed index")
      coll.get(whereDoc = Some(ChromaFilter.Contains("scan")))
        .select(col("id"), length(col("document")).cast("int").as("n_doc"))
        .orderBy(col("id").cast("long"))
    }),
    // REAL-SOURCE streaming hydration (r12 VERDICT #7): q80/q127 feed
    // MemoryStream from a driver-side collect — a test harness, not the
    // cluster shape. Here the input is a STAGED PARQUET DIRECTORY (an
    // executor-side write) drained through readStream.format("parquet")
    // with maxFilesPerTrigger=1 under AvailableNow: four microbatches
    // whose rows never pass through the driver, upserted by the same
    // foreachBatch sink. At 100 TB this is the hydration entry point a
    // real deployment runs (swap the dir for the landing bucket); the
    // oracle replays the staged subset's scan semantics, so the hash
    // proves the streamed store content equals the batch truth.
    "q151_file_stream_hydrate" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingHydrator
      val docs = t(s, dir, "documents")
      val root = verifyCollectionsRoot(dir)
      val cat = new CollectionCatalog(s, root, numBuckets = 8)
      val fp = s"fstream1|$dir|tag=${fixtureTag(s, dir, "documents")}"
      val coll = cachedCollection(cat, "fstream", fp) {
        val c = cat.getOrCreateCollection("fstream")
        val staged = cachedExport(s, dir, "documents", "q151src") { path =>
          docs.filter(col("doc_id") < 300)
            .select(col("doc_id").cast("string").as("id"),
              coalesce(col("text"), lit("")).as("document"), col("lang"),
              col("doc_id").as("ver"))
            .repartition(4).write.mode("overwrite").parquet(path)
        }
        val ckpt = s"$root/q151_ckpt"
        val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
        ckptPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(ckptPath, true)
        val stream = s.readStream.format("parquet")
          .schema(s.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", "1")
          .load(staged)
        val q = StreamingHydrator.hydrate(stream, c, ckpt,
          orderCol = Some("ver"), trigger = Trigger.AvailableNow()).start()
        q.awaitTermination() // AvailableNow drains the staged files and stops
        c
      }
      coll.get().select(col("id"), col("lang"),
          length(col("document")).cast("int").as("n_doc"),
          col("ver"))
        .orderBy(col("id").cast("long"))
    }),
  )

  private[graft] def streamingOracles: Map[String, String] = Map(
    // q111: the oracle counts the 200 real events per (hour, type) —
    // no late copies (their drop is the pinned semantic), no pusher
    // (its window never closes under the final watermark)
    "q111_streaming_watermark" ->
      """SELECT (event_id * 180000000) // 3600000000 AS hr, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events WHERE event_id < 200
        |GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    // q80: the streaming upsert sink's semantics in SQL — within a
    // microbatch the highest `ver` wins (upsert orderCol); across batches
    // the LAST batch containing an id wins (last-writer upsert, so the
    // late old-version row in batch 3 replaces batch 1's row for id 0)
    // q127: the stream's final upsert state (latest-ver-wins over the
    // three slices) + the verbatim contains — the engine must serve it
    // through the per-batch-refreshed postings index, which can only
    // confine IO, so scan semantics are the oracle.
    "q127_streaming_indexed" ->
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS n,
        |                     COALESCE(text, '') AS doc
        |              FROM documents WHERE doc_id < 150),
        |fin AS (
        |  SELECT id, n, 's1:' || doc AS document FROM base WHERE n < 40
        |  UNION ALL SELECT id, n, 's2:' || doc FROM base WHERE n BETWEEN 40 AND 119
        |  UNION ALL SELECT id, n, 's3:' || doc FROM base WHERE n BETWEEN 120 AND 149)
        |SELECT id, CAST(length(document) AS INTEGER) AS n_doc
        |FROM fin WHERE contains(document, 'scan') ORDER BY n""".stripMargin,
    "q80_streaming_hydrate" ->
      """WITH base AS (SELECT CAST(doc_id AS VARCHAR) AS id, doc_id AS n,
        |                     COALESCE(text, '') AS doc
        |              FROM documents WHERE doc_id < 120),
        |src AS (
        |  SELECT id, 'b1:' || doc AS document, CAST(10 AS BIGINT) AS ver,
        |         1 AS src_batch FROM base WHERE n < 60
        |  UNION ALL SELECT id, 'b2:' || doc, 20, 2 FROM base WHERE n BETWEEN 30 AND 89
        |  UNION ALL SELECT id, 'b2r:' || doc, 21, 2 FROM base WHERE n BETWEEN 30 AND 34
        |  UNION ALL SELECT id, 'b3:' || doc, 30, 3 FROM base WHERE n BETWEEN 60 AND 119
        |  UNION ALL SELECT id, 'late:' || doc, 5, 3 FROM base WHERE n = 0),
        |inb AS (SELECT id, document, ver, src_batch,
        |          row_number() OVER (PARTITION BY id, src_batch ORDER BY ver DESC) AS rn
        |        FROM src),
        |w AS (SELECT id, document, ver, src_batch FROM inb WHERE rn = 1),
        |last AS (SELECT id, MAX(src_batch) AS mb FROM w GROUP BY id)
        |SELECT w.id, w.document, w.ver, w.src_batch FROM w
        |JOIN last ON w.id = last.id AND w.src_batch = last.mb
        |ORDER BY CAST(w.id AS BIGINT)""".stripMargin,
    // q142: the stream-stream join replayed relationally — the streaming
    // run must emit exactly the batch interval join's pairs (inner join
    // emits each match once; the dropped late duplicate adds none).
    // Event times are event_id minutes, so the window arithmetic is
    // integer seconds on both engines.
    "q142_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id FROM events WHERE event_id < 1000),
        |l AS (SELECT user_id, event_id AS l_event, event_id * 60 AS lsec
        |      FROM e WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, event_id AS r_event, event_id * 60 AS rsec
        |      FROM e WHERE event_id % 2 = 1)
        |SELECT l.user_id AS user_id, l_event, r_event
        |FROM l JOIN r ON l.user_id = r.user_id
        |              AND rsec >= lsec AND rsec <= lsec + 14400
        |ORDER BY user_id, l_event, r_event""".stripMargin,
    // q147: streaming dedup replayed — one row per original id; the
    // within-watermark dups collapse and the late dup drops, so DISTINCT
    // over the originals IS the full truth (event_type is functionally
    // determined by event_id, so DISTINCT never manufactures ambiguity)
    "q147_streaming_dedup_watermark" ->
      """SELECT DISTINCT CAST(event_id AS VARCHAR) AS id, event_type
        |FROM events WHERE event_id < 300
        |ORDER BY CAST(id AS BIGINT)""".stripMargin,
    // q146: the LEFT OUTER replay — q142's pairs plus exactly one
    // r_event = -1 row per left event with no in-interval partner
    "q146_stream_stream_left_join" ->
      """WITH e AS (SELECT event_id, user_id FROM events WHERE event_id < 1000),
        |l AS (SELECT user_id, event_id AS l_event, event_id * 60 AS lsec
        |      FROM e WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, event_id AS r_event, event_id * 60 AS rsec
        |      FROM e WHERE event_id % 2 = 1)
        |SELECT l.user_id AS user_id, l_event,
        |       COALESCE(r_event, -1) AS r_event
        |FROM l LEFT JOIN r ON l.user_id = r.user_id
        |                   AND rsec >= lsec AND rsec <= lsec + 14400
        |ORDER BY user_id, l_event, r_event""".stripMargin,
    // q151: the staged subset's scan semantics — the streamed store must
    // equal the batch truth row for row (ver = doc_id rides the upsert)
    "q151_file_stream_hydrate" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, lang,
        |       CAST(length(COALESCE(text, '')) AS INTEGER) AS n_doc,
        |       doc_id AS ver
        |FROM documents WHERE doc_id < 300
        |ORDER BY doc_id""".stripMargin,
  )
}

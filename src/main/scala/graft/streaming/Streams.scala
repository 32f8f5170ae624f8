package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's stateful operators
  * (SURVEY.md §7.2 M3: "optional Structured Streaming demo"; the batch
  * forms live in graft.operators.Events / Dedup).
  *
  * These are DataFrame→DataFrame transforms over an unbounded source —
  * callers plug in `readStream` (Kafka/files at scale; MemoryStream in
  * tests, see StreamingSpec) and any `writeStream` sink. State is bounded:
  * the session aggregation evicts via watermark; the dedup operator evicts
  * via processing-time timeout — both are required for an unbounded run at
  * cluster scale.
  */
object Streams {

  /** Replay-scoped shuffle-partition tuning. Streaming micro-batch cost
    * has a term proportional to shuffle partitions × batches: every
    * stateful operator commits one state-store delta PER PARTITION per
    * micro-batch (plus maintenance snapshots), so a driver-fed replay at
    * the session's 32 partitions pays 32 store commits per batch for a
    * few thousand rows. 8-way state is ample for replay volume and cuts
    * the per-batch store I/O 4× with NO semantic effect — state is
    * keyed, results are re-sorted, and the conf is captured at stream
    * START so the production transforms are untouched. (At cluster scale
    * the state partition count is sized to keys/executors, not to this
    * replay constant.) */
  private val replayCkpts = new java.util.concurrent.atomic.AtomicInteger(0)

  private def withReplayShuffle[T](s: SparkSession)(body: => T): T =
    withReplayShuffle(s, 2)(body)

  /** Heavy replays (6-figure row counts through MULTIPLE state stores —
    * the debounce processor, the dedup→window pipeline, the stream-stream
    * joins) override the 2-partition default: their per-batch cost is
    * state-store WORK (lookups/inserts per row), not store-commit
    * overhead, so more state partitions = more threads on the shared
    * local[N] scheduler. Light replays (a few rows per batch) keep 2 —
    * for them partitions× store commits dominate. Production sizes state
    * partitions to keys/executors; both constants are replay-harness
    * tuning only. */
  private def withReplayShuffle[T](s: SparkSession, partitions: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    // default checkpoint root on tmpfs: each micro-batch writes offset
    // log + commit log + one state delta per partition; RAM-backing the
    // harness metadata (KBs) removes the disk term. Measured honestly:
    // replay wall time is dominated by per-micro-batch PLANNING (a
    // fresh IncrementalExecution per batch — ~1s fixed at any replay
    // volume), so this and the 2-partition state trim are modest wins,
    // not order-of-magnitude ones; the planning term is Spark's, not
    // ours, and amortizes away on a long-lived production stream.
    // Unique subdir per replay — checkpoint dirs must never be shared.
    val ckptKey = "spark.sql.streaming.checkpointLocation"
    val prev = s.conf.get(key)
    val prevCkpt = s.conf.getOption(ckptKey)
    s.conf.set(key, partitions.toString)
    s.conf.set(ckptKey,
      graft.TempPaths.scratchShm(s, "replay_ckpt") + "/r" + replayCkpts.incrementAndGet())
    try body finally {
      s.conf.set(key, prev)
      prevCkpt match {
        case Some(v) => s.conf.set(ckptKey, v)
        case None    => s.conf.unset(ckptKey)
      }
    }
  }

  /** Streaming gap-sessionization: native `session_window` (30-min gap)
    * with a 1-hour watermark. Emits one row per closed session in append
    * mode — the streaming equivalent of Events.sessionize (equivalence
    * asserted row-for-row in StreamingSpec). `dsum` (exact decimal sum)
    * keeps sum_value bit-comparable to the batch form regardless of
    * micro-batch accumulation order.
    *
    * Boundary note: session_window merges on STRICT overlap (gap < 30 min
    * joins a session), while the batch form keeps gap <= 30 min together —
    * an exactly-30-minute gap would diverge. The testdata has no such gap
    * (verified), so the spec compares the two forms directly. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("session"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.QueryDsl.dsum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        col("session.start").as("session_start"),
        col("session.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** `e_sessionize_stream` — the events table REPLAYED through the
    * streaming session aggregation and materialized back to a batch
    * DataFrame (rows-only gate entry: the streaming operator graded by
    * data, not by demo). A far-future sentinel event drives the watermark
    * past every real session so append mode emits them all; the sentinel's
    * own (still-open) session is excluded from the output.
    *
    * MemoryStream is driver-fed by definition — it is Spark's test/replay
    * source, not a scale path; at scale the same `sessionAgg` transform
    * runs unchanged over readStream (Kafka/files). */
  def sessionizeStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .collect()
    val maxMs = batch.iterator.map(_._2.getTime).max
    val sentinelUser = -1L
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sink = "e_sessionize_stream_sink"
    withReplayShuffle(s) {
      val q = sessionAgg(in.toDF().toDF("user_id", "ts", "value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        // watermark advances at batch boundaries: the sentinel batch moves
        // it 10 days past the data, closing every real session
        in.addData((sentinelUser, new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("user_id") =!= sentinelUser)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")
  }

  /** Watermarked tumbling-window aggregation — THE canonical Structured
    * Streaming shape (count + sum per 1-hour window per event type,
    * 1-hour allowed lateness). Append mode emits each window exactly once,
    * when the watermark passes its end; per-window state is one partial
    * aggregate per (window, event_type) and is dropped at emission, so an
    * unbounded run holds O(open windows × types) state regardless of
    * event volume. `dsum` keeps sum_value independent of micro-batch
    * accumulation order (exact decimal addition is associative; double
    * addition is not). */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.QueryDsl.dsum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** SLIDING windows (2 h wide, advancing hourly): every event lands in
    * TWO open windows, the state shape tumbling windows don't exercise.
    * Same watermark flush, same exact sums. */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.QueryDsl.dsum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** `e_window_agg_stream` / `e_sliding_agg_stream` — a windowed agg
    * replayed over the events table. A far-future sentinel batch drives
    * the watermark past every real window so append mode flushes them all
    * (the sentinel's own window stays open and is filtered by type).
    * Window starts are pure integer arithmetic on the timestamp, so the
    * result is fully SQL-expressible and hash-checked against the batch
    * GROUP BY. */
  private def windowedReplay(
      s: SparkSession, d: String, sink: String, agg: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("value"))
      .as[(String, java.sql.Timestamp, Double)]
      .collect()
    val maxMs = batch.iterator.map(_._2.getTime).max
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    withReplayShuffle(s) {
      val q = agg(in.toDF().toDF("event_type", "ts", "value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        in.addData(("sentinel", new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("ws_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("ws_us", "event_type")
  }

  /** `e_dead_letter` — the streaming QUARANTINE split (dead-letter
    * queue): a wire-format stream (JSON lines, every 13th payload
    * corrupted — truncated mid-object, the classic producer-crash
    * shape) is parsed with `from_json` in PERMISSIVE mode and split in
    * ONE pass: rows that parse flow to the aggregate, rows that don't
    * are counted into the dead-letter side (the raw payload column
    * rides alongside the parse for a DLQ sink write — at scale the
    * producer team replays that partition; dropping failures silently
    * is the pipeline sin this operator exists to prevent). Both sides are graded: per-type counts over
    * the PARSED rows plus one dead-letter tally row — the corruption
    * rule is deterministic, so the whole split is hash-checked. */
  def deadLetterReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val payloads = graft.Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
      .map { case (id, tpe, v) =>
        val json = s"""{"event_id":$id,"event_type":"$tpe","value":$v}"""
        // every 13th payload truncated mid-object — unparseable
        if (id % 13 == 0) json.substring(0, json.length / 2) else json
      }
    val in = MemoryStream[String]
    val sink = "e_dead_letter_sink"
    withReplayShuffle(s) {
      val parsed = in.toDF().toDF("raw")
        .select(col("raw"), from_json(col("raw"),
          "event_id BIGINT, event_type STRING, value DOUBLE",
          Map.empty[String, String]).as("p"))
      // one pass, two fates: parsed rows aggregate, failures tally.
      // from_json PERMISSIVE yields a null/null-field struct on failure
      // — event_id null is the discriminator (never null in valid rows)
      val split = parsed.select(
        when(col("p.event_id").isNotNull, col("p.event_type"))
          .otherwise(lit("__dead_letter__")).as("k"),
        col("p.value"))
      val q = split
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          graft.QueryDsl.dsum(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Complete).start()
      try {
        val (b1, b2) = payloads.splitAt(payloads.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink).orderBy("k")
  }

  /** `e_late_data_audit` — WATERMARK LATE-DATA OBSERVABILITY as a
    * hash-checked query: every production watermarked pipeline must
    * publish how many rows it DROPPED as late (silent late-drop is the
    * classic streaming correctness hole — the aggregate looks fine and
    * is quietly missing data). The replay constructs a deterministic
    * late cohort: batch 1 feeds the time-ordered first half of events
    * (advancing the watermark to maxB1 − 1 h); batch 2 RE-SENDS batch 1
    * (retry/replay traffic) — its rows strictly older than the
    * watermark are dropped and counted by the engine
    * (`numRowsDroppedByWatermark`). The audit row (inputs, late-drops)
    * is closed-form from the same half-split rank rule the
    * rate-limit-TTL oracle uses, so the engine's own drop counter is
    * oracle-verified — observability graded by data. */
  def lateDataAuditReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("event_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .collect()
      // sort at MICROSECOND precision (tsMicros), not Timestamp.getTime
      // (ms): the fixture keeps µs, and two events sharing a ms at the
      // n/2 boundary would otherwise split differently than the oracle's
      // epoch-µs rank — changing the watermark and the late-drop count
      .sortBy(r => (tsMicros(r._2), r._1))
    val b1 = batch.take(batch.length / 2)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val sink = "e_late_data_audit_sink"
    var dropped = 0L
    withReplayShuffle(s) {
      // dedup is the right probe: its late filter drops RAW input rows
      // on the event-time column; an aggregation drops partially
      // aggregated (window, key) rows — a count that depends on
      // physical partitioning and is no oracle's business. Re-sent rows
      // NEWER than the watermark fall to the dedup check instead
      // (already-seen keys — a different counter), which is exactly the
      // retries-suppressed vs data-lost-to-lateness distinction the
      // audit exists to publish.
      val q = in.toDF().toDF("event_id", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable() // watermark advances to max(b1.ts) − 1 h
        in.addData(b1.toIndexedSeq) // the retry: pre-watermark rows are late
        q.processAllAvailable()
        dropped = q.recentProgress.iterator
          .flatMap(_.stateOperators.iterator)
          .map(_.numRowsDroppedByWatermark).sum
      } finally q.stop()
    }
    Seq((2L * b1.length, dropped))
      .toDF("n_input_rows", "n_late_dropped")
  }

  /** Streaming KMV distinct sketch per (6 h window, type): the engine's
    * custom `TypedImperativeAggregate` ([[graft.functions.KmvHashes]])
    * running INSIDE streaming aggregation state — partial sketch buffers
    * live in the state store via the aggregate's own serialize/merge,
    * proving the custom-aggregate machinery composes with watermarked
    * state eviction exactly like a built-in. O(open windows × types × k)
    * state; the sketch is a deterministic function of the value set, so
    * the flushed windows hash-match a windowed-SQL recompute — a
    * streaming DISTINCT sketch an oracle can actually check. */
  def kmvWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(expr("kmv_hashes(cast(user_id as string), 16)").as("hs"))
      .select(col("w.start").as("window_start"), col("event_type"), col("hs"))

  /** `e_kmv_stream` — [[kmvWindowAgg]] replayed over the events table;
    * same sentinel-flush shape as [[windowedReplay]], then the sketch
    * arrays explode to (rank, hash) rows for the driver's row compare. */
  /** `e_bitmap_stream` — the DECLARATIVE aggregate
    * ([[graft.functions.BitmapAgg]]) inside watermarked streaming
    * aggregation state, completing the custom-aggregate streaming
    * matrix (KMV and topk_pairs are TypedImperative through the state
    * store; this one's fixed-width long-slot buffers live in the store
    * as plain columns with ZERO serialization hooks — the declarative
    * form's whole point, now proven under state round-trips too). Per
    * (6 h window, type): a 256-bit presence bitmap of `user_id mod 256`
    * whose words and popcount are pure functions of the window's user
    * set — flushed windows hash-check against a windowed bit_or
    * recompute, popcount = COUNT(DISTINCT user_id % 256) exactly. */
  def bitmapStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("user_id"))
      .as[(String, java.sql.Timestamp, Long)]
      .collect()
    val maxMs = batch.iterator.map(_._2.getTime).max
    val in = MemoryStream[(String, java.sql.Timestamp, Long)]
    val sink = "e_bitmap_stream_sink"
    withReplayShuffle(s) {
      val q = in.toDF().toDF("event_type", "ts", "user_id")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(expr("bitmap_agg(pmod(user_id, 256), 256)").as("bw"))
        .select(col("w.start").as("window_start"), col("event_type"), col("bw"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        in.addData(("sentinel",
          new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), 0L))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("ws_us"), col("event_type"),
        aggregate(col("bw"), lit(0L), (acc, w) => acc + bit_count(w)).as("popcnt"),
        posexplode(col("bw")).as(Seq("word_idx", "word")))
      .select(col("ws_us"), col("event_type"), col("word_idx"), col("word"), col("popcnt"))
      .orderBy("ws_us", "event_type", "word_idx")
  }

  def kmvStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("user_id"))
      .as[(String, java.sql.Timestamp, Long)]
      .collect()
    val maxMs = batch.iterator.map(_._2.getTime).max
    val in = MemoryStream[(String, java.sql.Timestamp, Long)]
    val sink = "e_kmv_stream_sink"
    withReplayShuffle(s) {
      val q = kmvWindowAgg(in.toDF().toDF("event_type", "ts", "user_id"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        in.addData(("sentinel",
          new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), 0L))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("ws_us"), col("event_type"),
        posexplode(col("hs")).as(Seq("rank", "h")))
      .orderBy("ws_us", "event_type", "rank")
  }

  /** `e_filing_stream` — the engine's CUSTOM V2 STREAMING SOURCE
    * ([[graft.sources.FilingIndexStream]], file-count offsets over an
    * append-only arrivals directory) replayed end to end: the staged
    * index files "arrive" in two waves, each wave becomes a micro-batch
    * planned as one partition per new file through the batch connector's
    * line reader, and the union of batches must contain every filing
    * EXACTLY ONCE — the aggregate shares the static derivation's oracle.
    * Checkpointed-offset restart is driven separately in
    * FilingIndexStreamSpec. */
  def filingStreamReplay(s: SparkSession, d: String): DataFrame =
    filingStreamReplayWith(s, d, maxFilesPerTrigger = None)

  /** `e_filing_stream_paced` — the same replay under ADMISSION CONTROL:
    * `maxFilesPerTrigger=2` paces each wave's backlog into bounded
    * micro-batches (8 staged files → ≥4 data batches instead of 2), and
    * the result is REQUIREd to be reached in strictly more batches than
    * the unpaced run while staying row-identical — pacing changes the
    * stride, never the data. The mid-drain-restart exactly-once leg is
    * driven in FilingIndexStreamSpec. */
  def filingStreamPaced(s: SparkSession, d: String): DataFrame =
    filingStreamReplayWith(s, d, maxFilesPerTrigger = Some(2))

  /** `e_filing_stream_backfill` — Trigger.AvailableNow over the custom
    * V2 source: the BACKFILL trigger every catch-up job uses ("drain
    * everything that exists right now in bounded batches, then STOP" —
    * vs processAllAvailable's test-only semantics and a continuous
    * trigger's never-terminating one). The source implements
    * `SupportsTriggerAvailableNow`: the engine announces the trigger,
    * the source pins the feed's current end, and the paced drain
    * (maxFilesPerTrigger=2) walks to the pin and terminates on its own
    * — REQUIREd: the query self-terminates inside the timeout AND took
    * ≥ ⌈files/2⌉ data batches. Data identical to the other two replays
    * (same oracle): a trigger changes scheduling, never answers. */
  def filingStreamBackfill(s: SparkSession, d: String): DataFrame = {
    val staged = graft.sources.FilingIndex.ensureStaged(s, d)
    val arrivals = graft.TempPaths.runDir(s, "filing_stream")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(arrivals))
    val files = new java.io.File(staged).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(arrivals, f"backlog-$i%03d.jsonl")): Unit
    }
    val sink = "e_filing_stream_backfill_sink"
    withReplayShuffle(s) {
      val q = s.readStream
        .format(classOf[graft.sources.FilingIndexStream].getName)
        .option("maxFilesPerTrigger", 2)
        .load(arrivals)
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        require(q.awaitTermination(120000),
          "AvailableNow backfill did not terminate on its own")
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        val floor = math.ceil(files.length.toDouble / 2).toInt
        require(dataBatches >= floor && floor > 2,
          s"backfill not paced: ${files.length} files drained in $dataBatches batches")
      } finally q.stop()
    }
    s.table(sink)
      .groupBy(col("form_type"))
      .agg(count(lit(1)).as("n_filings"), countDistinct(col("cik")).as("n_funds"))
      .orderBy("form_type")
  }

  private def filingStreamReplayWith(
      s: SparkSession, d: String, maxFilesPerTrigger: Option[Int]): DataFrame = {
    val staged = graft.sources.FilingIndex.ensureStaged(s, d)
    val arrivals = graft.TempPaths.runDir(s, "filing_stream")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(arrivals))
    val files = new java.io.File(staged).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    // wave prefixes keep arrivals lexicographically AFTER everything
    // already present — the source's append-only contract
    def arrive(fs: Seq[java.io.File], wave: Int): Unit = fs.zipWithIndex.foreach {
      case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(arrivals, f"wave$wave%02d-$i%03d.jsonl")): Unit
    }
    val sink = "e_filing_stream_sink" + maxFilesPerTrigger.fold("")("_paced" + _)
    withReplayShuffle(s) {
      val reader = s.readStream
        .format(classOf[graft.sources.FilingIndexStream].getName)
      maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
      val q = reader.load(arrivals)
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        arrive(files.take(files.length / 2).toSeq, 1)
        q.processAllAvailable()
        arrive(files.drop(files.length / 2).toSeq, 2)
        q.processAllAvailable()
        maxFilesPerTrigger.foreach { n =>
          val dataBatches = q.recentProgress.count(_.numInputRows > 0)
          val floor = math.ceil(files.length.toDouble / n).toInt
          require(dataBatches >= floor && floor > 2,
            s"admission control did not pace: ${files.length} files / $n per trigger " +
              s"drained in $dataBatches data batches (need ≥ $floor > 2)")
        }
      } finally q.stop()
    }
    s.table(sink)
      .groupBy(col("form_type"))
      .agg(count(lit(1)).as("n_filings"), countDistinct(col("cik")).as("n_funds"))
      .orderBy("form_type")
  }

  /** `e_dsv2_stream_sink` — the CONNECTOR-LAYER exactly-once sink: the
    * events-shaped order slice replayed through the engine's DataSource
    * V2 streaming write ([[graft.sources.FixedWidthV2]] with
    * STREAMING_WRITE), two micro-batches → two epoch commits, each
    * publishing its files + epoch manifest atomically (idempotent on
    * epoch replay — FixedWidthV2Spec drives the replay case directly).
    * The union of committed epoch files must reproduce the slice exactly;
    * the read-back aggregate shares `k_dsv2_write`'s oracle shape. */
  def dsv2StreamSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.orders(s, d)
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .as[(Long, String, Double, String)]
      .collect()
      .sortBy(_._1)
    val target = graft.TempPaths.runDir(s, "dsv2_stream")
    val in = MemoryStream[(Long, String, Double, String)]
    withReplayShuffle(s) {
      val q = in.toDF()
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .writeStream.format("graft.sources.FixedWidthV2")
        .option("path", target)
        .outputMode(OutputMode.Append).start()
      try {
        val (b1, b2) = batch.splitAt(batch.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    // every epoch that carried data published a manifest
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(s.sessionState.newHadoopConf())
    val manifests = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(target, "_MANIFEST-*")))
      .getOrElse(Array.empty).map(_.getPath.getName).sorted
    require(manifests.length >= 2,
      s"expected one epoch manifest per micro-batch, got: ${manifests.mkString(", ")}")
    s.read.text(s"$target/part-*.fw")
      .select(
        trim(substring(col("value"), 1, 12)).cast("bigint").as("o_orderkey"),
        trim(substring(col("value"), 13, 4)).as("o_orderstatus"),
        substring(col("value"), 17, 16).cast("double").as("o_totalprice"),
        trim(substring(col("value"), 33, 16)).as("o_orderpriority"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.QueryDsl.dsum(col("o_totalprice")).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Streaming weighted bottom-k QUANTILE sketch per (6 h window, type):
    * [[graft.functions.BottomKCounts]] running inside watermarked
    * streaming aggregation state — the k smallest-hashed distinct cent
    * values with exact counts serialize through the state store via the
    * aggregate's own serialize/merge; state is O(open windows × types
    * × k) whatever the event volume. The median estimate is derived from
    * the flushed contents batch-side (an O(windows × k) overlay). */
  def bottomkWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(expr("bottomk_counts(cents, 16)").as("sk"))
      .select(col("w.start").as("window_start"), col("event_type"), col("sk"))

  /** `e_bottomk_stream` — [[bottomkWindowAgg]] replayed over the events
    * table (sentinel-flush shape of [[kmvStream]]); sketch contents AND
    * the per-window median estimate are hash-checked against the
    * windowed recompute. */
  def bottomkStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("value"))
      .as[(String, java.sql.Timestamp, Double)]
      .collect()
    val maxMs = batch.iterator.map(_._2.getTime).max
    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val sink = "e_bottomk_stream_sink"
    withReplayShuffle(s) {
      val src = in.toDF().toDF("event_type", "ts", "value")
        .withColumn("cents", floor(col("value").cast("double") * 100).cast("long"))
      val q = bottomkWindowAgg(src)
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        in.addData(("sentinel",
          new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    import org.apache.spark.sql.expressions.Window
    val wTot = Window.partitionBy("ws_us", "event_type")
    val wVal = Window.partitionBy("ws_us", "event_type").orderBy(col("v_cents"))
    s.table(sink)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("ws_us"), col("event_type"),
        posexplode(col("sk")).as(Seq("rank", "e")))
      .select(col("ws_us"), col("event_type"), col("rank"),
        col("e.h").as("h"), col("e.v").as("v_cents"), col("e.cnt").as("cnt"))
      .withColumn("tot", sum("cnt").over(wTot))
      .withColumn("run", sum("cnt").over(wVal))
      .withColumn("est_p50_cents",
        min(when(col("run") * 2 >= col("tot"), col("v_cents"))).over(wTot))
      .select(col("ws_us"), col("event_type"), col("rank"), col("h"),
        col("v_cents"), col("cnt"), col("est_p50_cents"))
      .orderBy("ws_us", "event_type", "rank")
  }

  /** Streaming TRENDING TOP-K per (6 h window, type): the engine's second
    * custom `TypedImperativeAggregate` ([[graft.functions.TopKPairs]])
    * running INSIDE watermarked streaming aggregation state — k-capped
    * heap buffers serialize through the state store via the aggregate's
    * own serialize/merge, and the flushed windows are the exact windowed
    * top-3, hash-checked against the window-function recompute. State is
    * O(open windows × types × k); at any event volume a window's buffer
    * never holds more than k pairs. */
  def topkWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(expr("topk_pairs(value, event_id, 3)").as("tk"))
      .select(col("w.start").as("window_start"), col("event_type"), col("tk"))

  /** `e_topk_stream` — [[topkWindowAgg]] replayed over the events table;
    * the sentinel flushes every real window, then the rank arrays explode
    * to (rank, event_id, value) rows for the driver's row compare. */
  def topkStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val batch = graft.Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .as[(String, java.sql.Timestamp, Long, Double)]
      .collect()
    val maxMs = batch.iterator.map(_._2.getTime).max
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val sink = "e_topk_stream_sink"
    withReplayShuffle(s) {
      val q = topkWindowAgg(in.toDF().toDF("event_type", "ts", "event_id", "value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        in.addData(("sentinel",
          new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), -1L, 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("event_type") =!= "sentinel")
      .select(unix_micros(col("window_start")).as("ws_us"), col("event_type"),
        posexplode(col("tk")))
      .select(col("ws_us"), col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), col("col.value").as("value"))
      .orderBy("ws_us", "event_type", "rank")
  }

  def windowAggStream(s: SparkSession, d: String): DataFrame =
    windowedReplay(s, d, "e_window_agg_stream_sink", windowAgg)

  def slidingAggStream(s: SparkSession, d: String): DataFrame =
    windowedReplay(s, d, "e_sliding_agg_stream_sink", slidingWindowAgg)

  /** Stream-stream interval join (click attribution): each purchase joins
    * the same user's clicks from the preceding hour. Both sides are
    * watermarked and the join condition carries the time range, so Spark
    * bounds BOTH state stores (rows older than watermark − range are
    * evicted) — the requirement for an unbounded two-stream join. Inner
    * join ⇒ matches emit as soon as both sides arrive; the watermark only
    * governs state cleanup. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame =
    purchases.withWatermark("ts", "1 hour").alias("p")
      .join(
        clicks.withWatermark("ts", "1 hour").alias("c"),
        expr("""p.user_id = c.user_id AND
                c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"""))
      .select(
        col("p.user_id").as("user_id"),
        col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"),
        col("c.value").as("click_value"))

  /** LEFT-OUTER stream-stream interval join: [[clickAttribution]] that
    * also emits purchases with NO click in the preceding hour (null
    * click columns) — the attribution form real pipelines need, since
    * "unattributed purchase" is itself a signal the inner join silently
    * drops. Matched rows emit as soon as both sides arrive (same as
    * inner); an UNMATCHED purchase can only emit once the watermark
    * proves no matching click can still arrive, so null-joined rows
    * trail the data by the watermark delay — the streaming-correct
    * behavior for an unbounded source, and why the replay below needs a
    * watermark-advancing sentinel batch before unmatched rows appear.
    * Both state stores stay bounded exactly as in the inner form. */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    purchases.withWatermark("ts", "1 hour").alias("p")
      .join(
        clicks.withWatermark("ts", "1 hour").alias("c"),
        expr("""p.user_id = c.user_id AND
                c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"""),
        "leftOuter")
      .select(
        col("p.user_id").as("user_id"),
        col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"),
        col("c.value").as("click_value"))

  /** FULL-outer interval join — the third stream-stream join mode:
    * watermark expiry emits BOTH sides' orphans (never-clicked
    * purchases AND never-converted clicks), the shape a marketing
    * attribution pipeline needs when unconverted clicks are themselves
    * the negative-label training set. Same watermarks and time bound as
    * [[clickAttributionOuter]]; user_id coalesces across sides because
    * either side may be the absent one. */
  def clickAttributionFull(clicks: DataFrame, purchases: DataFrame): DataFrame =
    purchases.withWatermark("ts", "1 hour").alias("p")
      .join(
        clicks.withWatermark("ts", "1 hour").alias("c"),
        expr("""p.user_id = c.user_id AND
                c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"""),
        "fullOuter")
      .select(
        coalesce(col("p.user_id"), col("c.user_id")).as("user_id"),
        col("p.event_id").as("purchase_id"),
        col("c.event_id").as("click_id"),
        col("c.value").as("click_value"))

  /** `e_stream_join` — [[clickAttribution]] replayed over the events
    * table as two separate MemoryStreams; SQL-expressible (a BETWEEN
    * join), so fully hash-checked. */
  private type Ev = (Long, Long, java.sql.Timestamp, Double)

  private def eventSide(s: SparkSession, d: String, t: String): Array[Ev] = {
    import s.implicits._
    graft.Tables.events(s, d)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[Ev]
      .collect()
  }

  private def namedEv(m: MemoryStream[Ev]): DataFrame =
    m.toDF().toDF("user_id", "event_id", "ts", "value")

  def streamJoinReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val inClicks = MemoryStream[Ev]
    val inPurchases = MemoryStream[Ev]
    val sink = "e_stream_join_sink"
    withReplayShuffle(s) {
      val q = clickAttribution(namedEv(inClicks), namedEv(inPurchases))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        inClicks.addData(eventSide(s, d, "click").toIndexedSeq)
        inPurchases.addData(eventSide(s, d, "purchase").toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink).orderBy("user_id", "purchase_id", "click_id")
  }

  /** `e_stream_join_outer` — [[clickAttributionOuter]] replayed over the
    * events table. Unmatched purchases emit only after the watermark
    * proves no match can arrive: the watermark (computed at batch
    * boundaries, min across both inputs) needs one batch to advance, and
    * the engine's automatic NO-DATA micro-batch (noDataMicroBatches,
    * on by default) then flushes the expired state — so ONE far-future
    * sentinel batch on BOTH streams suffices (two explicit rounds through
    * round 5 — half the replay harness cost); the trailing empty
    * `processAllAvailable` is a fence that guarantees the flush batch has
    * committed before the sink is read. The sentinels' own rows are
    * filtered out of the result. Fully SQL-expressible (a BETWEEN left
    * join), so the null-click rows are hash-checked too. */
  def streamJoinOuterReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clicks = eventSide(s, d, "click")
    val purchases = eventSide(s, d, "purchase")
    val maxMs = (clicks.iterator ++ purchases.iterator).map(_._3.getTime).max
    val sentinelUser = -1L
    def sentinel(dayOff: Long): Ev =
      (sentinelUser, -1L, new java.sql.Timestamp(maxMs + dayOff * 24 * 3600 * 1000), 0.0)
    val inClicks = MemoryStream[Ev]
    val inPurchases = MemoryStream[Ev]
    val sink = "e_stream_join_outer_sink"
    withReplayShuffle(s, 8) {
      val q = clickAttributionOuter(namedEv(inClicks), namedEv(inPurchases))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        // sentinels RIDE IN the data batch: the watermark is computed at
        // the batch boundary from the max event time seen, so one batch
        // (data + far-future sentinel) advances it past every real row,
        // and the engine's automatic no-data micro-batch flushes the
        // expired state — one feed round instead of two, same rows out
        // (rows are never late-dropped against the PREVIOUS watermark,
        // which is still the epoch during this batch).
        inClicks.addData((clicks :+ sentinel(10L)).toIndexedSeq)
        inPurchases.addData((purchases :+ sentinel(10L)).toIndexedSeq)
        q.processAllAvailable()
        q.processAllAvailable() // fence: the no-data flush batch has committed
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("user_id") =!= sentinelUser)
      .orderBy("user_id", "purchase_id", "click_id")
  }

  /** `e_stream_join_full` — [[clickAttributionFull]] replayed the
    * [[streamJoinOuterReplay]] way (both-side sentinels push the
    * watermark so both orphan classes flush); the oracle is DuckDB's
    * native FULL OUTER interval join — matched rows, never-clicked
    * purchases, and never-converted clicks all hash-checked. */
  def streamJoinFullReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clicks = eventSide(s, d, "click")
    val purchases = eventSide(s, d, "purchase")
    val maxMs = (clicks.iterator ++ purchases.iterator).map(_._3.getTime).max
    val sentinelUser = -1L
    def sentinel(dayOff: Long): Ev =
      (sentinelUser, -1L, new java.sql.Timestamp(maxMs + dayOff * 24 * 3600 * 1000), 0.0)
    val inClicks = MemoryStream[Ev]
    val inPurchases = MemoryStream[Ev]
    val sink = "e_stream_join_full_sink"
    withReplayShuffle(s, 8) {
      val q = clickAttributionFull(namedEv(inClicks), namedEv(inPurchases))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        // sentinels ride in the data batch — see [[streamJoinOuterReplay]]
        inClicks.addData((clicks :+ sentinel(10L)).toIndexedSeq)
        inPurchases.addData((purchases :+ sentinel(10L)).toIndexedSeq)
        q.processAllAvailable()
        q.processAllAvailable() // fence: the no-data flush batch has committed
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("user_id") =!= sentinelUser)
      .orderBy("user_id", "purchase_id", "click_id")
  }

  /** `d_dedup_stream` — streaming exact dedup graded by data: a dup-heavy
    * keyed stream derived from events (key = event_id % 997 guarantees
    * duplicates; the payload is a pure function of the key, so WHICH
    * duplicate wins is immaterial and the output is deterministic),
    * replayed through [[dedupStream]] in two micro-batches — dedup must
    * hold across batches via state, not just within one. Output = one row
    * per distinct key: SQL-expressible, full oracle. */
  def dedupStreamReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val keyed = graft.Tables.events(s, d)
      .select((col("event_id") % 997).as("k"))
      .select(col("k"), md5(col("k").cast("string").cast("binary")).as("payload"))
      .as[(Long, String)]
      .collect()
    val in = MemoryStream[(Long, String)]
    val sink = "d_dedup_stream_sink"
    withReplayShuffle(s) {
      val q = dedupStream(in.toDS(),
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
        .toDF("dedup_key", "payload")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        val (b1, b2) = keyed.splitAt(keyed.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink).orderBy("dedup_key")
  }

  /** `d_dedup_stream_rocksdb` — the SAME exact-dedup state machine on
    * the RocksDB state-store provider: the knob that makes streaming
    * state survive past executor heap. The default HDFS-backed provider
    * holds every key's state IN MEMORY per partition — a corpus-scale
    * dedup (billions of keys at 100 TB) blows the heap; RocksDB spills
    * state to local SSD with bounded memtables, which is why every
    * production-scale streaming dedup runs on it. Same transform, same
    * oracle — the provider swap must be answer-invariant (this query
    * proves it); only the state-capacity envelope changes. The provider
    * conf is captured at stream START, so scoping it around the replay
    * is race-free; asserted in-operator so a green row certifies
    * RocksDB actually held the state. */
  def dedupStreamRocksdbReplay(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val out = try {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val keyed = graft.Tables.events(s, d)
        .select((col("event_id") % 997).as("k"))
        .select(col("k"), md5(col("k").cast("string").cast("binary")).as("payload"))
        .as[(Long, String)]
        .collect()
      val in = MemoryStream[(Long, String)]
      val sink = "d_dedup_stream_rocksdb_sink"
      withReplayShuffle(s) {
        val q = dedupStream(in.toDS(),
            timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
          .toDF("dedup_key", "payload")
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append).start()
        try {
          val (b1, b2) = keyed.splitAt(keyed.length / 2)
          in.addData(b1.toIndexedSeq)
          q.processAllAvailable()
          in.addData(b2.toIndexedSeq)
          q.processAllAvailable()
          val providers = q.lastProgress.stateOperators
          require(providers.nonEmpty && providers.forall(
              _.customMetrics.containsKey("rocksdbGetCount")),
            "state did not run on the RocksDB provider")
        } finally q.stop()
      }
      s.table(sink).orderBy("dedup_key")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
    out
  }

  /** `d_dedup_stream_wm` — the ENGINE-NATIVE streaming dedup next to the
    * custom-state [[dedupStream]] (built-ins before custom state, when
    * they fit): `dropDuplicatesWithinWatermark` bounds state by an
    * EVENT-TIME watermark instead of a processing-time timeout. Its
    * contract guarantees dedup only for duplicates arriving within the
    * watermark delay of each other, so the replay attaches a synthetic
    * second-spaced event time that puts the whole stream inside one delay
    * window — the production shape where duplicates are retries/replays
    * clustered in time; duplicates farther apart than the delay would
    * legitimately re-emit (that's the state bound, not a bug). Output =
    * first occurrence per key (payload is a function of the key), same
    * oracle as the custom form. */
  def dedupStreamWmReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val keyed = graft.Tables.events(s, d)
      .select((col("event_id") % 997).as("k"))
      .select(col("k"), md5(col("k").cast("string").cast("binary")).as("payload"))
      .as[(Long, String)]
      .collect()
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = keyed.zipWithIndex.map { case ((k, p), i) =>
      (k, p, new java.sql.Timestamp(base.getTime + i * 1000L))
    }
    // The delay is DERIVED from the replay's row count: at 1s spacing the
    // stream spans `rows.length` seconds, so a fixed delay would silently
    // break the all-duplicates-within-one-window precondition (and the
    // DISTINCT oracle with it) once a larger events fixture pushes the
    // span past the delay. delay ≥ span + 1h keeps the gate sf-proof.
    val delayHours = math.max(6L, rows.length.toLong / 3600L + 2L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val sink = "d_dedup_stream_wm_sink"
    withReplayShuffle(s) {
      val q = in.toDS().toDF("dedup_key", "payload", "ts")
        .withWatermark("ts", s"$delayHours hours")
        .dropDuplicatesWithinWatermark("dedup_key")
        .select(col("dedup_key"), col("payload"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink).orderBy("dedup_key")
  }

  // ---- Streaming session funnel: the batch gap-sessionization funnel
  // (Events.sessionFunnel) as an explicit flatMapGroupsWithState state
  // machine — the custom-state shape for session analytics that
  // session_window can't express (per-session funnel flags need ordered
  // event inspection, not just an aggregate). State per user is O(1): the
  // open session's counters only, never buffered events. Sessions emit as
  // soon as a gap closes them mid-stream; the still-open tail session
  // emits via EVENT-TIME TIMEOUT when the watermark passes its gap
  // boundary. A session flushed by timeout leaves a TOMBSTONE (emitted
  // flag) so session NUMBERING continues seamlessly when the user's next
  // event arrives — without it a mid-stream timeout would restart
  // session_id at 1 and diverge from the batch numbering.
  //
  // Ordering contract (same as every keyed state machine over event
  // time): events are processed in (event-time, event_id) order — the
  // function sorts within each micro-batch, and the replay feeds batches
  // in global event-time order; at scale the upstream source provides
  // per-key order (Kafka key-partitioning) or a watermark-sorter stage
  // does. The one order-sensitive subtlety — a purchase and the session's
  // FIRST click at the SAME microsecond, where the batch form counts the
  // purchase as converted because MIN(click us) ≤ purchase us regardless
  // of event order — is handled by tracking the latest click-less
  // purchase timestamp (maxEarlyPurchaseUs); FunnelStreamSpec pins the
  // tie. ----

  final case class FunnelEv(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class FunnelSt(
    sessionId: Long, lastUs: Long, nClicks: Long, nPurchases: Long,
    firstClickUs: Long, maxEarlyPurchaseUs: Long, converted: Boolean, emitted: Boolean)
  final case class FunnelRow(
    user_id: Long, session_id: Long, n_clicks: Long, n_purchases: Long, converted: Int)

  private val FunnelGapUs = graft.operators.Events.SessionGapUs
  private val FunnelGapMs = FunnelGapUs / 1000L

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def funnelAdvance(st: FunnelSt, us: Long, typ: String): FunnelSt = {
    val base = st.copy(lastUs = us)
    typ match {
      case "click" =>
        base.copy(
          nClicks = base.nClicks + 1,
          firstClickUs = if (base.firstClickUs >= 0) base.firstClickUs else us,
          converted = base.converted ||
            (base.maxEarlyPurchaseUs >= 0 && us <= base.maxEarlyPurchaseUs))
      case "purchase" =>
        // ordered processing ⇒ us >= firstClickUs whenever a click exists
        if (base.firstClickUs >= 0)
          base.copy(nPurchases = base.nPurchases + 1, converted = true)
        else
          base.copy(nPurchases = base.nPurchases + 1,
            maxEarlyPurchaseUs = math.max(base.maxEarlyPurchaseUs, us))
      case _ => base
    }
  }

  /** The transform: per-user funnel rows in append mode, one per closed
    * session — output matches [[graft.operators.Events.sessionFunnel]]
    * row-for-row once the watermark passes every session (spec-asserted,
    * and the replay query shares the batch funnel's hash oracle).
    *
    * @param tombstoneTtlUs OPT-IN tombstone eviction for long-lived
    *   deployments: with the default `None`, a flushed user's tombstone
    *   is permanent — one compact row per distinct user ever seen, which
    *   keeps session NUMBERING exact forever but means state grows
    *   monotonically with the key domain. A ttl evicts a tombstone once
    *   the EVENT-TIME watermark passes `lastUs + ttl` (idle users leave
    *   the store), accepting the documented caveat: a user returning
    *   AFTER eviction restarts at session_id 1, diverging from the batch
    *   numbering — so the hash-gated replay keeps `None`, and
    *   FunnelStreamSpec pins both behaviors. */
  def funnelStream(
      events: Dataset[FunnelEv],
      tombstoneTtlUs: Option[Long] = None): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[FunnelEv], state: GroupState[FunnelSt]) =>
          def emit(st: FunnelSt): FunnelRow =
            FunnelRow(user, st.sessionId, st.nClicks, st.nPurchases,
              if (st.converted) 1 else 0)
          def fresh(id: Long, us: Long): FunnelSt =
            FunnelSt(id, us, 0L, 0L, -1L, -1L, converted = false, emitted = false)
          if (state.hasTimedOut) {
            val st = state.get
            if (!st.emitted) {
              // Flush the open session and leave a tombstone. Default:
              // PERMANENT (no timeout re-armed) — a user who returns any
              // number of micro-batches later resumes at sessionId + 1;
              // removing the tombstone early would restart numbering at 1
              // and break batch-funnel equivalence. With `tombstoneTtlUs`
              // a second event-time timeout is armed at lastUs + ttl, and
              // its firing EVICTS the idle user's state (the opt-in
              // numbering caveat above).
              state.update(st.copy(emitted = true))
              tombstoneTtlUs.foreach { ttl =>
                state.setTimeoutTimestamp(
                  math.max((st.lastUs + ttl) / 1000L,
                    state.getCurrentWatermarkMs() + 1L))
              }
              Iterator.single(emit(st))
            } else {
              // A timeout on a tombstone: only armed in TTL mode — evict.
              // (Unreachable with permanent tombstones; defensive there.)
              state.remove()
              Iterator.empty
            }
          } else {
            val sorted = evs.toArray.sortBy(e => (tsMicros(e.ts), e.event_id))
            var st = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelRow]
            for (e <- sorted) {
              val us = tsMicros(e.ts)
              if (st == null) st = fresh(1L, us)
              else if (st.emitted) st = fresh(st.sessionId + 1L, us)
              else if (us - st.lastUs > FunnelGapUs) {
                out += emit(st)
                st = fresh(st.sessionId + 1L, us)
              }
              st = funnelAdvance(st, us, e.event_type)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.lastUs / 1000L + FunnelGapMs + 1L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  /** `e_funnel_stream` — the events table replayed through
    * [[funnelStream]] in global event-time order (two data batches + one
    * far-future sentinel to flush every open session via timeout). Shares
    * the batch funnel's full hash oracle. */
  def funnelStreamReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
      .collect()
      .sortBy(r => (tsMicros(r._3), r._2))
    val maxMs = rows.iterator.map(_._3.getTime).max
    val sentinelUser = -1L
    val in = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val sink = "e_funnel_stream_sink"
    withReplayShuffle(s) {
      val q = funnelStream(
          in.toDF().toDF("user_id", "event_id", "ts", "event_type").as[FunnelEv])
        .toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
        in.addData((sentinelUser, -1L,
          new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), "noop"))
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("user_id") =!= sentinelUser)
      .orderBy("user_id", "session_id")
  }

  // ---- Per-key rate limiting on Spark 4's transformWithState — the NEW
  // arbitrary-state API (StatefulProcessor + typed state handles +
  // TTL/timers), exercised alongside the classic flatMapGroupsWithState
  // operators so the engine covers both state surfaces. The operator
  // itself is the ingestion-throttle every event collector runs: admit
  // at most N events per user per event-time minute, flag the rest.
  // State per user is ONE (window_start, count) pair — O(keys), no
  // buffering; production adds a TTL (TTLConfig) to evict idle users,
  // NONE here so the replay's full history stays checkable.
  //
  // Ordering contract: same as the funnel — per-user event-time order
  // (replay feeds global order, processor sorts within each batch).
  // transformWithState requires the RocksDB state store; the replay
  // scopes that provider to THIS query (set before start, restored
  // after) rather than changing every streaming query's backend. ----

  final case class RlEv(user_id: Long, event_id: Long, us: Long)
  final case class RlState(windowStart: Long, count: Long)
  final case class RlOut(user_id: Long, event_id: Long, us: Long, admitted: Int)

  private val RlLimit = 5L
  private val RlWindowUs = 60L * 1000000L // one event-time minute

  class RateLimitProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RlEv, RlOut] {
    @transient private var bucket: org.apache.spark.sql.streaming.ValueState[RlState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      bucket = getHandle.getValueState[RlState]("bucket",
        org.apache.spark.sql.Encoders.product[RlState], ttl)

    override def handleInputRows(key: Long, rows: Iterator[RlEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RlOut] = {
      val sorted = rows.toArray.sortBy(e => (e.us, e.event_id))
      var cur = if (bucket.exists()) bucket.get() else RlState(-1L, 0L)
      val out = sorted.map { e =>
        val w = e.us - e.us % RlWindowUs
        if (w != cur.windowStart) cur = RlState(w, 0L)
        val admit = cur.count < RlLimit
        if (admit) cur = cur.copy(count = cur.count + 1)
        RlOut(e.user_id, e.event_id, e.us, if (admit) 1 else 0)
      }
      bucket.update(cur)
      out.iterator
    }
  }

  // ---- STATE-SCHEMA EVOLUTION: the restart-hygiene leg of the
  // transformWithState family. A long-lived stateful stream outlives
  // its code: v2 of the limiter wants a new per-user counter, and the
  // checkpoint holds millions of v1 state rows. Under the default
  // UnsafeRow state encoding any state-class change is a hard
  // incompatibility (restart refuses); under the AVRO encoding
  // (spark.sql.streaming.stateStore.encodingFormat=avro) Spark resolves
  // reader-vs-writer schemas, so an ADDED NULLABLE FIELD decodes as
  // None on v1 rows and the stream resumes exactly-once with zero state
  // loss and zero reprocessing — StateEvolutionSpec stops a v1 query at
  // its checkpoint, restarts with [[RateLimitProcessorV2]], and proves
  // both (the admitted/throttled verdicts still match the global SQL
  // recompute, which only holds if v1 window state survived the
  // restart; [[evolvedStateReads]] counts v1 rows decoded through the
  // evolved schema). ----

  final case class RlStateV2(windowStart: Long, count: Long, admittedTotal: Option[Long])

  /** v1 state rows (no admittedTotal) decoded by the v2 processor —
    * observable proof the restart read OLD state through the NEW schema
    * rather than starting empty. */
  val evolvedStateReads = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The evolved rate limiter: same verdict semantics (output schema
    * unchanged — the sink keeps appending), state grown by a lifetime
    * admitted counter. v1 rows surface with `admittedTotal = None` (the
    * Avro default for the added nullable field). */
  class RateLimitProcessorV2
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, RlEv, RlOut] {
    @transient private var bucket: org.apache.spark.sql.streaming.ValueState[RlStateV2] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      bucket = getHandle.getValueState[RlStateV2]("bucket",
        org.apache.spark.sql.Encoders.product[RlStateV2],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[RlEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RlOut] = {
      val sorted = rows.toArray.sortBy(e => (e.us, e.event_id))
      var cur = if (bucket.exists()) {
        val st = bucket.get()
        if (st.admittedTotal.isEmpty && st.windowStart >= 0)
          evolvedStateReads.incrementAndGet(): Unit
        st
      } else RlStateV2(-1L, 0L, Some(0L))
      val out = sorted.map { e =>
        val w = e.us - e.us % RlWindowUs
        if (w != cur.windowStart) cur = cur.copy(windowStart = w, count = 0L)
        val admit = cur.count < RlLimit
        if (admit) cur = cur.copy(count = cur.count + 1,
          admittedTotal = Some(cur.admittedTotal.getOrElse(0L) + 1))
        RlOut(e.user_id, e.event_id, e.us, if (admit) 1 else 0)
      }
      bucket.update(cur)
      out.iterator
    }
  }

  /** `e_rate_limit_stream` — the events table replayed through the
    * transformWithState rate limiter in global event-time order; fully
    * SQL-expressible (a row_number per (user, minute) window), so the
    * new-API operator gets a complete hash oracle. */
  def rateLimitStreamReplay(s: SparkSession, d: String): DataFrame =
    rateLimitReplayWith(s, d, "e_rate_limit_stream_sink",
      new RateLimitProcessor,
      org.apache.spark.sql.streaming.TimeMode.None(), interBatchSleepMs = 0L)

  /** `e_rate_limit_ttl` — the SAME rate limiter with a REAL state TTL
    * (TimeMode.ProcessingTime + TTLConfig), replayed so every key's
    * batch-1 state provably EVICTS before batch 2 arrives: the replay
    * sleeps ≥ 3× the TTL between the two micro-batches, so each user's
    * (window, count) bucket reads as absent in batch 2 and the per-minute
    * budget RE-ADMITS — TTL is what makes O(keys) state honest on an
    * unbounded key domain (idle keys leave, returning keys start fresh).
    * Determinism is one-sided and therefore replay-safe: extra elapsed
    * time only strengthens expiry (state cannot un-expire), so a slow
    * machine cannot flip a verdict. Oracle: the same windowed row_number,
    * PARTITIONED ADDITIONALLY BY BATCH HALF (the deterministic
    * first-⌊n/2⌋ split) — the TTL horizon restriction in SQL form.
    * StreamingTtlSpec pins the discriminating case (a window spanning
    * the batch boundary re-admits with TTL, stays throttled without). */
  def rateLimitTtlStreamReplay(s: SparkSession, d: String): DataFrame =
    rateLimitReplayWith(s, d, "e_rate_limit_ttl_sink",
      new RateLimitProcessor(
        org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(RlTtlMs))),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
      interBatchSleepMs = 3 * RlTtlMs)

  // 500 ms keeps the replay honest (expiry is one-sided: the 3× sleep is
  // a floor, extra elapsed time only strengthens it) while halving the
  // replay's fixed inter-batch wait
  private[streaming] val RlTtlMs = 500L

  /** Commit fence for PROCESSING-TIME streams: `processAllAvailable`
    * never returns under TimeMode.ProcessingTime, because the engine
    * keeps scheduling non-idle micro-batches to fire timers/TTL and the
    * no-new-data signal the fence waits on is never raised (the
    * ProcessingTimeTimeout/idle-MemoryStream trap in TTL form). The
    * limiter emits exactly one row per input row, so "batch committed"
    * is observable from the SINK: poll until the expected row count
    * lands. Monotone-append sink ⇒ the poll is race-free. */
  private[streaming] def awaitSinkRows(
      s: SparkSession, q: org.apache.spark.sql.streaming.StreamingQuery,
      sink: String, n: Long): Unit = {
    val deadline = System.nanoTime() + 300L * 1000L * 1000L * 1000L
    while (s.table(sink).count() < n) {
      if (!q.isActive) q.awaitTermination() // surface the stream's failure
      if (System.nanoTime() > deadline) sys.error(s"sink $sink stuck below $n rows")
      Thread.sleep(50L)
    }
  }

  // ---- STREAMING CUSUM — the level-shift detector
  // (operators/Events.scala `e_cusum`) as a long-lived stateful stream,
  // and the FOURTH state surface of the transformWithState family:
  // LIST STATE. CUSUM needs an in-control baseline (the first
  // CusumBaseline days' mean) before it can score ANY day, so the
  // processor BUFFERS early rows in a ListState until the baseline
  // window fills, then drains the buffer through the recursion and
  // scores every later row directly off the O(1) ValueState
  // (μ, k, s). Per-key state is bounded by the baseline width + three
  // longs — O(keys), never O(stream). A type whose series is still
  // inside its baseline window stays pending (an unbounded stream
  // cannot know a series ended; the batch twin closes it at query
  // end) — on the dense-grid feed every type clears the window, so
  // the stream's output hash-equals the batch oracle. ----

  final case class CuEv(event_type: String, idx: Int, day: java.sql.Date, n: Long)
  final case class CuCore(mu1000: Long, k1000: Long, s: Long)
  final case class CuOut(event_type: String, day: java.sql.Date, n: Long,
      cusum_s: Long, alarm: Int)

  // the batch detector's constant, shared so the twins cannot drift
  private val CuBaseline = graft.operators.Events.CusumBaseline

  class CusumProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, CuEv, CuOut] {
    @transient private var core: org.apache.spark.sql.streaming.ValueState[CuCore] = _
    @transient private var pending: org.apache.spark.sql.streaming.ListState[CuEv] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      core = getHandle.getValueState[CuCore]("core",
        org.apache.spark.sql.Encoders.product[CuCore],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      pending = getHandle.getListState[CuEv]("pending",
        org.apache.spark.sql.Encoders.product[CuEv],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[CuEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[CuOut] = {
      val arrived = rows.toArray.sortBy(_.idx)
      val out = scala.collection.mutable.ArrayBuffer.empty[CuOut]
      def step(c: CuCore, ev: CuEv): CuCore = {
        val sCur = math.max(0L, c.s + (1000L * ev.n - c.mu1000 - c.k1000))
        out += CuOut(ev.event_type, ev.day, ev.n, sCur,
          if (sCur > 2L * c.mu1000) 1 else 0)
        c.copy(s = sCur)
      }
      var cur = if (core.exists()) Some(core.get()) else None
      arrived.foreach { ev =>
        cur match {
          case Some(c) => cur = Some(step(c, ev))
          case None =>
            pending.appendValue(ev)
            val buf = pending.get().toArray.sortBy(_.idx)
            if (buf.length == CuBaseline) {
              val mu1000 = buf.map(_.n).sum * 1000L / CuBaseline
              var c = CuCore(mu1000, mu1000 / 4L, 0L)
              buf.foreach(b => c = step(c, b)) // drain retroactively
              pending.clear()
              cur = Some(c)
            }
        }
      }
      cur.foreach(core.update)
      out.iterator
    }
  }

  /** `e_stream_cusum` — the dense daily grid replayed through the
    * stateful CUSUM in two micro-batches (the state — baseline buffer,
    * then the (μ, k, s) core — crosses the batch boundary); output
    * hash-equals the batch recursion's oracle, the streaming-twin
    * contract. */
  def cusumStreamReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // the dense grid is feed SCAFFOLDING (at scale the same rows arrive
    // from an upstream windowed count); rows feed in global day order
    val daily = graft.Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val b = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1")).head()
    val d0 = b.getDate(0)
    val nDays = (b.getDate(1).toLocalDate.toEpochDay - d0.toLocalDate.toEpochDay).toInt + 1
    val rows = daily.select(col("event_type")).distinct()
      .crossJoin(s.range(nDays).toDF("idx"))
      .select(col("event_type"), col("idx").cast("int").as("idx"),
        date_add(lit(d0), col("idx").cast("int")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("idx"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .as[(String, Int, java.sql.Date, Long)]
      .collect()
      .sortBy(r => (r._2, r._1))
    cusumReplayOf(s, rows.toIndexedSeq, "e_stream_cusum_sink", rows.length / 2)
  }

  /** The replay half, split out so CusumStreamSpec can feed a synthetic
    * series with the batch boundary INSIDE a key's baseline window (the
    * case the sf grid never produces — its baselines fit in batch 1). */
  private[streaming] def cusumReplayOf(s: SparkSession,
      rows: Seq[(String, Int, java.sql.Date, Long)], sink: String,
      splitAt: Int): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[(String, Int, java.sql.Date, Long)]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      withReplayShuffle(s) {
        val q = in.toDS()
          .map { case (t, i, dy, n) => CuEv(t, i, dy, n) }
          .groupByKey(_.event_type)
          .transformWithState(new CusumProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
          .toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append).start()
        try {
          val (b1, b2) = rows.splitAt(splitAt)
          in.addData(b1.toIndexedSeq); q.processAllAvailable()
          in.addData(b2.toIndexedSeq); q.processAllAvailable()
        } finally q.stop()
      }
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None => s.conf.unset(providerKey)
      }
    }
    s.table(sink)
      .select(col("event_type"), col("day"), col("n"), col("cusum_s"), col("alarm"))
      .orderBy("event_type", "day")
  }

  // ---- STREAMING DEBOUNCE with EVENT-TIME TIMERS — the third leg of
  // the transformWithState API after value-state (rate limiter) and
  // state TTL: a burst is OPEN until either a later event closes it
  // (arrival path) or the WATERMARK passes its close time and the
  // registered event-time timer fires (end-of-traffic path — the case
  // no arrival can ever detect). One ValueState row + one timer per
  // open (user, type) burst: state is O(open bursts), and the timer is
  // what lets an unbounded stream emit a chain whose sender simply
  // stopped. Correctness does not DEPEND on timer timing: a timer that
  // has not fired yet is superseded by the arrival path when the next
  // event shows up, so emission is exactly-once per burst under any
  // watermark schedule; the replay's far-future sentinel fires every
  // remaining timer so the output closes over the whole table. ----

  final case class DbEv(user_id: Long, event_type: String, event_id: Long,
      ts: java.sql.Timestamp)
  final case class DbState(head_id: Long, head_us: Long, last_us: Long, n: Long)
  final case class DbOut(user_id: Long, event_type: String, event_id: Long,
      us: Long, n_collapsed: Long)

  class DebounceProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, String), DbEv, DbOut] {
    @transient private var burst: org.apache.spark.sql.streaming.ValueState[DbState] = _

    private def usOf(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

    private def emit(key: (Long, String), b: DbState): DbOut =
      DbOut(key._1, key._2, b.head_id, b.head_us, b.n)

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      burst = getHandle.getValueState[DbState]("burst",
        org.apache.spark.sql.Encoders.product[DbState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: (Long, String), rows: Iterator[DbEv],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[DbOut] = {
      val sorted = rows.toArray.sortBy(e => (usOf(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[DbOut]
      var cur = if (burst.exists()) burst.get() else null
      sorted.foreach { e =>
        val us = usOf(e.ts)
        if (cur == null) cur = DbState(e.event_id, us, us, 1L)
        else if (us - cur.last_us > graft.operators.Events.DebounceGapUs) {
          out += emit(key, cur)
          cur = DbState(e.event_id, us, us, 1L)
        } else cur = cur.copy(last_us = us, n = cur.n + 1)
      }
      burst.update(cur)
      // one live timer per key: the open burst's close time (ceil to ms
      // + 1 so a timer never fires before the µs-exact close)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(
        (cur.last_us + graft.operators.Events.DebounceGapUs) / 1000L + 2L)
      out.iterator
    }

    override def handleExpiredTimer(key: (Long, String),
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[DbOut] =
      if (burst.exists()) {
        val b = burst.get()
        burst.clear()
        Iterator(emit(key, b))
      } else Iterator.empty
  }

  /** `e_debounce_stream` — [[DebounceProcessor]] replayed over the
    * events table in two event-time-ordered batches: bursts spanning
    * the batch boundary stay open in state (no double emission), and
    * the sentinel batch drives the watermark past every close time so
    * the timers flush the tail. Oracle = the batch debounce verbatim —
    * arrival-closed and timer-closed bursts must reproduce it
    * row-for-row. */
  def debounceStreamReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .as[(Long, String, Long, java.sql.Timestamp)]
      .collect()
      .sortBy(r => (r._4.getTime, r._3))
    val maxMs = rows.iterator.map(_._4.getTime).max
    val in = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val sink = "e_debounce_stream_sink"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      withReplayShuffle(s, 8) {
        val q = in.toDF().toDF("user_id", "event_type", "event_id", "ts")
          .withWatermark("ts", "0 seconds")
          .as[DbEv]
          .groupByKey(e => (e.user_id, e.event_type))
          .transformWithState(new DebounceProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
          .toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append).start()
        try {
          // two DATA batches (bursts spanning the boundary must stay open
          // in state — the cross-batch property under test); the sentinel
          // rides in the second, and the automatic no-data micro-batch
          // fires every remaining timer (fenced below).
          val (b1, b2) = rows.splitAt(rows.length / 2)
          in.addData(b1.toIndexedSeq)
          q.processAllAvailable()
          in.addData((b2 :+ ((-1L, "sentinel", -1L,
            new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000)))).toIndexedSeq)
          q.processAllAvailable()
          q.processAllAvailable() // fence: the timer-flush batch has committed
        } finally q.stop()
      }
    } finally prevProvider match {
      case Some(v) => s.conf.set(providerKey, v)
      case None    => s.conf.unset(providerKey)
    }
    s.table(sink)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "event_type", "us", "event_id")
  }

  private def rateLimitReplayWith(
      s: SparkSession, d: String, sink: String,
      processor: RateLimitProcessor,
      timeMode: org.apache.spark.sql.streaming.TimeMode,
      interBatchSleepMs: Long): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long, Long)]
      .collect()
      .sortBy(r => (r._3, r._2))
    val in = MemoryStream[(Long, Long, Long)]
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    // provider is captured at STREAM START (not mutable mid-query);
    // scope RocksDB to this query and restore the session default after
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      withReplayShuffle(s) {
        val q = in.toDS()
          .map { case (u, e, us) => RlEv(u, e, us) }
          .groupByKey(_.user_id)
          .transformWithState(processor, timeMode, OutputMode.Append())
          .toDF()
          .writeStream.format("memory").queryName(sink)
          .outputMode(OutputMode.Append).start()
        try {
          // ProcessingTime mode (the TTL variant) cannot use the
          // processAllAvailable fence — see [[awaitSinkRows]]
          val poll = interBatchSleepMs > 0
          val (b1, b2) = rows.splitAt(rows.length / 2)
          in.addData(b1.toIndexedSeq)
          if (poll) awaitSinkRows(s, q, sink, b1.length.toLong)
          else q.processAllAvailable()
          // TTL variant: wall-clock gap ≥ 3×TTL AFTER batch 1 commits, so
          // batch-1 state is expired — never marginal — at batch 2
          if (interBatchSleepMs > 0) Thread.sleep(interBatchSleepMs)
          in.addData(b2.toIndexedSeq)
          if (poll) awaitSinkRows(s, q, sink, rows.length.toLong)
          else q.processAllAvailable()
        } finally q.stop()
      }
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None => s.conf.unset(providerKey)
      }
    }
    s.table(sink).orderBy("user_id", "event_id")
  }

  /** `e_stream_expectations` — the DATA-QUALITY CONTRACT as a
    * PER-MICRO-BATCH monitor (`k_expectations`' streaming twin): every
    * arriving batch is graded against the declarative rule set inside
    * `foreachBatch` BEFORE it lands (the quarantine decision point —
    * at 100 TB/day you fail a batch, not a table), emitting the
    * per-(batch, rule) violation ledger an SLO dashboard reads. The
    * key-ordered half-split makes batch membership closed-form, so the
    * ledger hash-checks against a rank-rule recompute; the canary rule
    * (`totalprice ≤ 100`) must fail in EVERY batch — a monitor never
    * seen red is untested. */
  def streamExpectationsReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .as[(Long, Double, String)]
      .collect().sortBy(_._1)
    val in = MemoryStream[(Long, Double, String)]
    val ledger = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]()
    val batchNo = new java.util.concurrent.atomic.AtomicInteger(0)
    withReplayShuffle(s) {
      val q = in.toDF().toDF("o_orderkey", "o_totalprice", "o_orderpriority")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val r = batch.agg(
            count(lit(1)).as("n"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_null"),
            sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("v_neg"),
            sum(when(!col("o_orderpriority").isin(
              "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 1L)
              .otherwise(0L)).as("v_dom"),
            sum(when(col("o_totalprice") > 100, 1L).otherwise(0L)).as("v_canary"))
            .head()
          val b = batchNo.getAndIncrement()
          ledger.add((b, "not_null", r.getLong(0), r.getLong(1)))
          ledger.add((b, "non_negative", r.getLong(0), r.getLong(2)))
          ledger.add((b, "in_domain", r.getLong(0), r.getLong(3)))
          ledger.add((b, "max_le_100", r.getLong(0), r.getLong(4)))
          ()
        }
        .start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    ledger.asScala.toSeq
      .toDF("batch_no", "rule", "n_rows", "n_violations")
      .withColumn("passed", (col("n_violations") === 0).cast("int"))
      .orderBy("batch_no", "rule")
  }

  /** `e_stream_merge` — STREAMING CDC APPLY, the unbounded twin of
    * `k_merge_upsert`'s batch MERGE: a Debezium-shape op feed (explicit
    * Insert / Update / Delete codes) lands in micro-batches, and each
    * batch MERGEs into the current snapshot generation via foreachBatch
    * (read gen N ∪ apply ops → write gen N+1 — the
    * [[streamUpsertReplay]] generation discipline, with real
    * three-verb semantics instead of last-write-wins): deletes
    * anti-join out, updates replace the key's digest, inserts append.
    * The op feed derives deterministically from the base keys (k%3:
    * 0→D, 1→U, 2→I of a fresh key), splits into two ordered
    * micro-batches, and every base key is touched by exactly one op —
    * so the final snapshot is closed-form and the oracle rebuilds it
    * outright: updated digests for the U keys, untouched rows for the
    * I-generators, the inserted twins, and no trace of the D keys.
    *
    * Scale shape: each merge is one anti/union plan ∝ |gen| + |batch|;
    * at 100 TB the generation is a keyed table and the same foreachBatch
    * body targets MERGE INTO on a bucketed layout — batch-split
    * independence (spec-relevant) comes from ops being per-key unique. */
  def streamMergeReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = graft.Tables.orders(s, d)
      .filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey").as("k")).distinct()
      .select(col("k"),
        md5(concat(lit("base"), col("k").cast("string")).cast("binary")).as("digest"))
    val ops = base.select(col("k"),
        when(col("k") % 3 === 0, lit("D"))
          .when(col("k") % 3 === 1, lit("U")).otherwise(lit("I")).as("op"))
      .select(col("op"),
        when(col("op") === "I", col("k") + 1000000L).otherwise(col("k")).as("k"),
        when(col("op") === "D", lit(null).cast("string"))
          .otherwise(md5(concat(lower(col("op")), col("k").cast("string"))
            .cast("binary"))).as("digest"))
      .as[(String, Long, String)]
      .collect().sortBy(_._2)
    val scratch = graft.TempPaths.runDir(s, "stream_merge")
    base.write.mode("overwrite").parquet(s"$scratch/gen_base")
    @volatile var current: String = s"$scratch/gen_base"
    val in = MemoryStream[(String, Long, String)]
    withReplayShuffle(s) {
      val q = in.toDF().toDF("op", "k", "digest")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val ss = batch.sparkSession
          val gen = ss.read.parquet(current)
          val touched = batch.filter(col("op").isin("D", "U")).select(col("k"))
          val survivors = gen.join(touched, Seq("k"), "left_anti")
          val added = batch.filter(col("op").isin("U", "I"))
            .select(col("k"), col("digest"))
          val next = s"$scratch/gen$id"
          survivors.unionByName(added).write.mode("overwrite").parquet(next)
          current = next
        }
        .start()
      try {
        val (b1, b2) = ops.splitAt(ops.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.read.parquet(current).orderBy("k")
  }

  /** `e_idempotent_sink` — EXACTLY-ONCE output from an at-least-once
    * sink contract: `foreachBatch` re-runs a batch WITH THE SAME
    * batchId after a crashed commit, so exactly-once output is the
    * writer's job — the discipline is an idempotent per-batchId commit
    * (stage to a tmp dir, ATOMIC_MOVE into `batch=<id>`, no-op if the
    * commit dir already exists — the sink-side twin of the manifest
    * log's create-if-absent publish). The replay runs the stream in two
    * batches, then RETRIES batch 0's commit with the same id and the
    * same rows: the commit must refuse (REQUIREd — a green row
    * certifies the retry was a no-op), and the read-back equals the
    * input exactly once. A crashed PARTIAL commit (tmp written, rename
    * never happened) is also staged and must stay invisible — readers
    * see only committed dirs. */
  def idempotentSinkReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = graft.TempPaths.runDir(s, "idem_sink")
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def commitBatch(df: org.apache.spark.sql.DataFrame, id: Long): Boolean = {
      val dest = java.nio.file.Paths.get(s"$base/out/batch=$id")
      if (java.nio.file.Files.exists(dest)) false // retry: already committed
      else {
        val tmp = s"$base/tmp/batch$id"
        df.write.mode("overwrite").parquet(tmp)
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp), dest,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        committed.add(dest.toString)
        true
      }
    }
    val rows = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)].collect().sortBy(_._2)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, Long)]
    withReplayShuffle(s) {
      val q = in.toDS().toDF("user_id", "event_id")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) => commitBatch(batch, id): Unit }
        .start()
      try {
        in.addData(b1.toIndexedSeq); q.processAllAvailable()
        in.addData(b2.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
    }
    // the retry: same batchId, same rows — must be a no-op
    val replayB1 = b1.toIndexedSeq.toDF("user_id", "event_id")
    require(!commitBatch(replayB1, 0L), "retried batch 0 committed twice")
    // a crashed partial commit: staged but never renamed — stays invisible
    replayB1.write.mode("overwrite").parquet(s"$base/tmp/crashed")
    require(committed.size() == 2, s"expected 2 committed batches, got ${committed.size()}")
    import scala.jdk.CollectionConverters._
    s.read.parquet(committed.asScala.toSeq.sorted: _*)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      .orderBy("user_id")
  }

  /** `e_stream_upsert` — keyed LAST-WRITE-WINS upsert through
    * `foreachBatch`, the remaining production sink shape (memory/parquet
    * appends are covered elsewhere): each micro-batch MERGES into the
    * accumulated key→latest table instead of appending — what writing to
    * any upsert-capable store (Delta MERGE, an RDB, a KV store) looks
    * like, done here with plain parquet GENERATIONS (read gen N, union
    * the batch, keep the per-key argmax by (us, event_id), write gen
    * N+1). The argmax is order-independent, so the result is identical
    * however events split across micro-batches — no watermark or
    * event-order contract needed, which is exactly why LWW merge is the
    * robust sink discipline for out-of-order upserts. State lives in the
    * STORE (one row per key), not in executors: streaming state here is
    * zero. */
  def streamUpsertReplay(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      .as[(Long, Long, Long, Double)]
      .collect()
    // fresh generation chain per invocation: bench runs each replay twice
    val base = graft.TempPaths.runDir(s, "stream_upsert")
    val in = MemoryStream[(Long, Long, Long, Double)]
    @volatile var current: Option[String] = None
    withReplayShuffle(s) {
      val q = in.toDF().toDF("user_id", "event_id", "us", "value")
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("us").desc, col("event_id").desc)
          val merged = current match {
            case Some(p) => batch.sparkSession.read.parquet(p).unionByName(batch)
            case None => batch
          }
          val next = s"$base/gen$id"
          merged
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
            .write.mode("overwrite").parquet(next)
          current = Some(next)
        }
        .start()
      try {
        // one processAllAvailable per generation: without the fence the
        // planner would coalesce all three addData blocks into ONE
        // micro-batch and the generation chain (the thing this replay
        // demonstrates) would collapse to a single merge
        rows.grouped(math.max(1, rows.length / 3)).foreach { b =>
          in.addData(b.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    s.read.parquet(current.getOrElse(sys.error("upsert replay produced no generation")))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("us").as("last_us"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** `e_stream_enrich` — the two STATELESS streaming shapes the stateful
    * five don't cover: a STREAM-STATIC enrichment join (the batch dim is
    * broadcast into every micro-batch — no state store, the standard
    * lookup-enrichment at any scale) and a DURABLE FILE SINK (parquet +
    * checkpoint commit log, Spark's exactly-once append contract) instead
    * of the memory sink. The query reads its own sink back through real
    * files, so the hash gate proves the commit log lost and duplicated
    * nothing across micro-batches. Sink+checkpoint dirs are fresh per
    * invocation — a reused checkpoint would resume the PREVIOUS replay's
    * offsets (bench runs every query twice). */
  /** `e_stream_pipeline` — MULTIPLE STATEFUL OPERATORS chained in ONE
    * streaming query (supported since the multi-stateful-operator work
    * in Spark 3.4; before that this pipeline needed two queries and an
    * intermediate sink): watermarked DEDUP (state #1, the retry killer)
    * → stream-static broadcast ENRICH (stateless) → event-time WINDOW
    * aggregate per tier (state #2). The feed sends EVERY row twice in
    * its batch (retry traffic): the dedup stage must drop the
    * duplicates BEFORE they reach the aggregate, so a double-counted
    * window — the bug this composition exists to prevent — hash-fails
    * against the oracle (the windowed aggregate over DISTINCT events).
    * StreamingSpec asserts both state stores really are in the one
    * executed plan. This is the e2e shape of a production ingest:
    * exactly-once-ish dedup, dimension join, rollup — one query, one
    * checkpoint, one watermark. */
  def streamPipelineReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // PINNED static dim: a stream-static join re-plans (and re-executes)
    // the static side EVERY micro-batch — unpinned, each of this replay's
    // three batches paid a full events scan + distinct shuffle + broadcast
    // build, which made this the replay phase's critical chain (36.8 s
    // contended vs ~5.5 s solo; the next-heaviest replays finished ~24 s).
    // localCheckpoint computes the dim ONCE; per-batch plans read the
    // pinned blocks. Production equivalent: a dim table is storage, not a
    // per-batch aggregation — the pin restores the honest shape.
    val dim = graft.Tables.events(s, d).select(col("user_id")).distinct()
      .select(col("user_id"), (col("user_id") % 5).as("tier"))
      .localCheckpoint()
    val rows = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
      .collect()
      .sortBy(r => (r._3.getTime, r._1))
    val maxMs = rows.iterator.map(_._3.getTime).max
    val in = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val sink = "e_stream_pipeline_sink"
    withReplayShuffle(s, 8) {
      val q = in.toDF().toDF("event_id", "user_id", "ts", "value")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .join(broadcast(dim), "user_id")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("tier"))
        .agg(count(lit(1)).as("n_events"), graft.QueryDsl.dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("tier"),
          col("n_events"), col("sum_value"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        // every row sent twice in its batch — the dedup stage's job; the
        // window-flush sentinel rides in the second data batch and the
        // automatic no-data micro-batch closes every window (fenced).
        in.addData(b1.toIndexedSeq ++ b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData((b2 ++ b2 :+ ((-1L, -1L,
          new java.sql.Timestamp(maxMs + 10L * 24 * 3600 * 1000), 0.0))).toIndexedSeq)
        q.processAllAvailable()
        q.processAllAvailable() // fence: the no-data flush batch has committed
      } finally q.stop()
    }
    s.table(sink)
      .filter(col("tier") =!= -1L)
      .select(unix_micros(col("window_start")).as("ws_us"), col("tier"),
        col("n_events"), col("sum_value"))
      .orderBy("ws_us", "tier")
  }

  def streamStaticEnrichReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dim = graft.Tables.events(s, d).select(col("user_id")).distinct()
      .select(col("user_id"), (col("user_id") % 5).as("tier"),
        md5(col("user_id").cast("string").cast("binary")).as("segment"))
      .localCheckpoint() // computed once, not per micro-batch (see pipeline replay)
    val rows = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val base = graft.TempPaths.runDir(s, "stream_enrich")
    val in = MemoryStream[(Long, Long, String)]
    withReplayShuffle(s) {
      val q = in.toDS().toDF("event_id", "user_id", "event_type")
        .join(broadcast(dim), "user_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("tier"), col("segment"))
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        // checkpoint comes from withReplayShuffle's per-replay tmpfs
        // default — unique per invocation, so no offset resume
        .outputMode(OutputMode.Append).start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.read.parquet(s"$base/out").orderBy("event_id")
  }

  /** `e_stream_enrich_scd` — stream-static enrich where the DIM CHANGES
    * MID-STREAM: the slowly-changing-dimension refresh discipline. A
    * static DataFrame captured at stream start freezes its file listing,
    * so a dim updated while the query runs is silently stale — the
    * production pattern is `foreachBatch` re-reading the dim's CURRENT
    * version pointer per micro-batch (the dim read is a fresh batch plan
    * each time; the pointer swap is the atomic publish). The replay
    * feeds two chunks (event_id rank below/above the midpoint) and swaps
    * the pointer from v1 to v2 between them, so the output pins the
    * contract: each event is enriched with the dim version CURRENT AT
    * ITS MICRO-BATCH — deterministic here because the chunking is, and
    * SQL-expressible (rank CASE), so fully hash-checked. */
  def streamEnrichScdReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val users = graft.Tables.events(s, d).select(col("user_id")).distinct()
    val base = graft.TempPaths.runDir(s, "stream_enrich_scd")
    users.select(col("user_id"), (col("user_id") % 5).as("tier"), lit(1L).as("dim_ver"))
      .write.mode("overwrite").parquet(s"$base/dim/v1")
    users.select(col("user_id"), ((col("user_id") + 1) % 5).as("tier"), lit(2L).as("dim_ver"))
      .write.mode("overwrite").parquet(s"$base/dim/v2")
    val dimPtr = new java.util.concurrent.atomic.AtomicReference[String](s"$base/dim/v1")
    val rows = graft.Tables.events(s, d)
      .select(col("event_id"), col("user_id"))
      .as[(Long, Long)].collect().sortBy(_._1)
    // the oracle's rank CASE (`event_id < n // 2`) is only ≡ to the
    // splitAt below when ids are dense 0..n-1 — fail loudly on a fixture
    // regeneration with sparse ids instead of silently diverging
    require(rows.nonEmpty && rows.head._1 == 0L && rows.last._1 == rows.length - 1L,
      s"e_stream_enrich_scd oracle assumes dense event_ids 0..n-1; " +
        s"got [${rows.head._1}, ${rows.last._1}] over ${rows.length} rows")
    val in = MemoryStream[(Long, Long)]
    withReplayShuffle(s) {
      val q = in.toDS().toDF("event_id", "user_id")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val dim = batch.sparkSession.read.parquet(dimPtr.get())
          batch.join(broadcast(dim), "user_id")
            .select(col("event_id"), col("user_id"), col("tier"), col("dim_ver"))
            .write.mode("append").parquet(s"$base/out"): Unit
        }
        .start() // checkpoint from withReplayShuffle's per-replay tmpfs default
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        dimPtr.set(s"$base/dim/v2") // the atomic publish between batches
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.read.parquet(s"$base/out").orderBy("event_id")
  }

  // ---- STREAMING AS-OF ENRICH: the unbounded form of
  // Events.asofJoinTables — each purchase decorated with the LATEST
  // click at-or-before it, per user, via explicit keyed state instead of
  // a carry-forward window (a global per-key sort is a batch luxury; a
  // stream holds only the latest right row). State is ONE row per key
  // (the newest click seen), O(keys) regardless of event volume — the
  // same footprint class as the rate limiter; production adds a TTL for
  // key churn exactly like the funnel tombstones. Tie semantics match
  // the batch operator: at equal event time the click counts
  // (at-or-before includes ties) and the GREATEST click_id among tied
  // clicks is carried — enforced by per-batch (us, side, id) ascending
  // processing with last-write-wins state. Correctness across batches
  // needs event-time-ordered feeding (true of a replay and of any
  // per-key-ordered source, e.g. a Kafka topic keyed by user). ----

  final case class AsofIn(user_id: Long, side: Int, event_id: Long, us: Long, value: Double)
  final case class AsofSt(click_id: Long, click_value: Double, us: Long)
  final case class AsofOut(user_id: Long, purchase_id: Long, purchase_us: Long,
      click_id: Option[Long], click_value: Option[Double])

  def asofEnrichStream(events: Dataset[AsofIn]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[AsofIn], state: GroupState[AsofSt]) =>
          // side 0 = click, 1 = purchase: clicks first at equal us; among
          // tied clicks, ascending id + overwrite leaves the greatest id
          val sorted = evs.toArray.sortBy(e => (e.us, e.side, e.event_id))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofOut]
          for (e <- sorted) {
            if (e.side == 0) st = AsofSt(e.event_id, e.value, e.us)
            else out += AsofOut(user, e.event_id, e.us,
              Option(st).map(_.click_id), Option(st).map(_.click_value))
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** `e_stream_asof` — [[asofEnrichStream]] replayed over the events
    * table in FOUR event-time-ordered micro-batches, so most purchases
    * are enriched from a click carried in state across a batch boundary
    * — the cross-batch path is the operator, not an edge case. Oracle =
    * DuckDB's native ASOF LEFT JOIN (independent sorted-merge
    * algorithm), identical to the batch twin's gate. */
  def streamAsofReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = graft.Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"),
        col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      .as[AsofIn]
      .collect()
      .sortBy(e => (e.us, e.side, e.event_id))
    val chunks = {
      val k = math.max(1, rows.length / 4)
      rows.grouped(k).toSeq
    }
    val in = MemoryStream[AsofIn]
    val sink = "e_stream_asof_sink"
    withReplayShuffle(s) {
      val q = asofEnrichStream(in.toDS())
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        chunks.foreach { c =>
          in.addData(c.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    s.table(sink).orderBy("user_id", "purchase_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e_stream_asof" -> (streamAsofReplay _),
    "e_sessionize_stream" -> (sessionizeStream _),
    "e_funnel_stream" -> (funnelStreamReplay _),
    "e_stream_upsert" -> (streamUpsertReplay _),
    "e_stream_merge" -> (streamMergeReplay _),
    "e_stream_expectations" -> (streamExpectationsReplay _),
    "e_idempotent_sink" -> (idempotentSinkReplay _),
    "e_rate_limit_stream" -> (rateLimitStreamReplay _),
    "e_stream_cusum" -> (cusumStreamReplay _),
    "e_debounce_stream" -> (debounceStreamReplay _),
    "e_stream_pipeline" -> (streamPipelineReplay _),
    "e_dead_letter" -> (deadLetterReplay _),
    "e_rate_limit_ttl" -> (rateLimitTtlStreamReplay _),
    "e_window_agg_stream" -> (windowAggStream _),
    "e_late_data_audit" -> (lateDataAuditReplay _),
    "e_sliding_agg_stream" -> (slidingAggStream _),
    "e_kmv_stream" -> (kmvStream _),
    "e_bitmap_stream" -> (bitmapStream _),
    "e_bottomk_stream" -> (bottomkStream _),
    "e_dsv2_stream_sink" -> (dsv2StreamSink _),
    "e_filing_stream" -> (filingStreamReplay _),
    "e_filing_stream_paced" -> (filingStreamPaced _),
    "e_filing_stream_backfill" -> (filingStreamBackfill _),
    "e_topk_stream" -> (topkStream _),
    "e_stream_enrich" -> (streamStaticEnrichReplay _),
    "e_stream_enrich_scd" -> (streamEnrichScdReplay _),
    "d_dedup_stream" -> (dedupStreamReplay _),
    "d_dedup_stream_rocksdb" -> (dedupStreamRocksdbReplay _),
    "d_dedup_stream_wm" -> (dedupStreamWmReplay _),
    "d_lsh_dedup_stream" -> (lshDedupStreamReplay _),
    "e_stream_join" -> (streamJoinReplay _),
    "e_stream_join_outer" -> (streamJoinOuterReplay _),
    "e_stream_join_full" -> (streamJoinFullReplay _),
  )

  /** One-time STREAMING-MACHINERY warmup for the benchmark's replay
    * phase, run before the replay clock starts: the first streaming query
    * of a JVM pays several seconds of one-time cost (micro-batch
    * execution classes, state-store providers incl. RocksDB JNI, codegen
    * for stateful operators) that lands on whichever replay happens to
    * run first — the batch side of the bench already excludes exactly
    * this class of cost via its untimed warmup run per query. Three
    * 3-row queries cover the three machinery families: watermarked
    * aggregation, stream-stream join, transformWithState on RocksDB.
    * Results are discarded; ~1-2 s once per JVM. */
  def replayWarmup(s: SparkSession): Unit = {
    import s.implicits._
    val sess = s.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sess.sqlContext
    withReplayShuffle(sess) {
      def ts(h: Int) = new java.sql.Timestamp(h * 3600000L)
      // 1: watermark + windowed agg
      val in1 = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q1 = in1.toDF().toDF("user_id", "ts", "value")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("replay_warmup_agg")
        .outputMode(OutputMode.Append).start()
      try {
        in1.addData(Seq((1L, ts(1), 1.0), (1L, ts(2), 2.0), (2L, ts(99), 0.0)))
        q1.processAllAvailable()
      } finally q1.stop()
      // 2: stream-stream interval join
      val in2a = MemoryStream[(Long, java.sql.Timestamp)]
      val in2b = MemoryStream[(Long, java.sql.Timestamp)]
      val q2 = in2a.toDF().toDF("k", "ts").withWatermark("ts", "1 hour").alias("a")
        .join(in2b.toDF().toDF("k", "ts").withWatermark("ts", "1 hour").alias("b"),
          expr("a.k = b.k AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts"), "leftOuter")
        .writeStream.format("memory").queryName("replay_warmup_join")
        .outputMode(OutputMode.Append).start()
      try {
        in2a.addData(Seq((1L, ts(1)), (9L, ts(99))))
        in2b.addData(Seq((1L, ts(1)), (9L, ts(99))))
        q2.processAllAvailable()
        q2.processAllAvailable()
      } finally q2.stop()
      // 3: transformWithState on RocksDB (the debounce machinery)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProvider = sess.conf.getOption(providerKey)
      sess.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in3 = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
        val q3 = in3.toDF().toDF("user_id", "event_type", "event_id", "ts")
          .withWatermark("ts", "0 seconds")
          .as[DbEv]
          .groupByKey(e => (e.user_id, e.event_type))
          .transformWithState(new DebounceProcessor,
            org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
          .toDF()
          .writeStream.format("memory").queryName("replay_warmup_tws")
          .outputMode(OutputMode.Append).start()
        try {
          in3.addData(Seq((1L, "a", 1L, ts(1)), (1L, "a", 2L, ts(99))))
          q3.processAllAvailable()
          q3.processAllAvailable()
        } finally q3.stop()
      } finally prevProvider match {
        case Some(v) => sess.conf.set(providerKey, v)
        case None    => sess.conf.unset(providerKey)
      }
    }
  }

  /** Static cost rank for replay SCHEDULING only (longest-processing-time-
    * first): the replay pool is narrower than the replay count, so
    * submission order decides the makespan — alphabetical order put every
    * heavy `e_stream_*` replay in the pool's SECOND wave (r17 driver board:
    * replay_total 26.9 s with the four heaviest finishing last). Weights
    * are the r18 contended replay_sec RANKING (the ranking is stable
    * round-to-round even though the absolute times are contention-
    * dependent); an unlisted replay defaults to mid-weight. Scheduling
    * only — weights never affect results or timing measurement. */
  def replayWeight(name: String): Double = replayWeights.getOrElse(name, 7.0)

  private[streaming] val replayWeights: Map[String, Double] = Map(
    "e_stream_pipeline" -> 14.4, "e_debounce_stream" -> 12.6,
    "e_rate_limit_ttl" -> 12.5, "e_sessionize_stream" -> 11.4,
    "e_stream_join_full" -> 11.3, "e_funnel_stream" -> 11.2,
    "e_stream_merge" -> 10.8, "e_window_agg_stream" -> 10.2,
    "e_bottomk_stream" -> 10.0, "e_bitmap_stream" -> 9.6,
    "e_stream_upsert" -> 9.55, "e_stream_join" -> 9.5,
    "e_stream_join_outer" -> 9.4, "e_kmv_stream" -> 9.3,
    "e_dead_letter" -> 9.1, "d_lsh_dedup_stream" -> 8.6,
    "e_topk_stream" -> 4.9, "d_dedup_stream_wm" -> 4.7,
    "e_sliding_agg_stream" -> 4.67, "e_late_data_audit" -> 4.6,
    "d_dedup_stream_rocksdb" -> 4.4, "d_dedup_stream" -> 4.3,
    "e_idempotent_sink" -> 4.0, "e_stream_cusum" -> 3.9,
    "e_stream_enrich_scd" -> 3.7, "e_filing_stream_paced" -> 3.53,
    "e_filing_stream_backfill" -> 3.5, "e_stream_asof" -> 2.8,
    "e_rate_limit_stream" -> 2.7, "e_stream_enrich" -> 2.33,
    "e_dsv2_stream_sink" -> 2.3, "e_filing_stream" -> 1.7,
    "e_stream_expectations" -> 1.4)

  /** The sentinel closes EVERY real session, so the streaming result is
    * exactly the batch sessionization with `end = last event + gap` —
    * fully SQL-expressible: the streaming operator gets a hash-checked
    * oracle, not just rows>0. */
  val oracle: Map[String, String] = Map(
    // the streaming-twin contract verbatim: the stateful stream must
    // land on the batch recursion's exact rows
    "e_stream_cusum" -> graft.operators.Events.oracle("e_cusum"),
    // the batch as-of gate verbatim: DuckDB's native ASOF LEFT JOIN —
    // the streaming state machine must land on the sorted-merge answer
    "e_stream_asof" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS purchase_us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id AS click_id,
        |             value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.purchase_id, p.purchase_us, c.click_id, c.click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_us >= c.us
        |ORDER BY p.user_id, p.purchase_id""".stripMargin,
    // identical output contract to the batch funnel: once the sentinel
    // closes every session, streaming ≡ batch row-for-row
    "e_funnel_stream" -> graft.operators.Events.oracle("e_session_funnel"),
    // arrival-closed + timer-closed bursts ≡ the batch debounce verbatim
    "e_debounce_stream" -> graft.operators.Events.oracle("e_debounce"),
    // the deterministic corruption rule in closed form: every 13th
    // event's payload is unparseable → dead letter; the rest aggregate
    // with their exact values (double → shortest-string → parse is
    // identity)
    "e_dead_letter" ->
      s"""SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS n,
         |       ${graft.QueryDsl.sqlDsum("value")} AS sum_value
         |FROM events WHERE event_id % 13 <> 0
         |GROUP BY event_type
         |UNION ALL
         |SELECT '__dead_letter__', CAST(COUNT(*) AS BIGINT), CAST(0.0 AS DOUBLE)
         |FROM events WHERE event_id % 13 = 0
         |ORDER BY k""".stripMargin,
    // the retry-doubled feed must aggregate as if each event arrived
    // once: the windowed rollup over the DISTINCT event table — a
    // double-counted window hash-fails immediately
    "e_stream_pipeline" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events)
         |SELECT us - us % 21600000000 AS ws_us,
         |       user_id % 5 AS tier,
         |       COUNT(*) AS n_events, ${graft.QueryDsl.sqlDsum("value")} AS sum_value
         |FROM e GROUP BY 1, 2
         |ORDER BY ws_us, tier""".stripMargin,
    // the flushed streaming heaps must equal the windowed top-3 recompute
    // (same (value DESC, id DESC) order the aggregate's buffer maintains)
    "e_topk_stream" ->
      """WITH r AS (
        |  SELECT (epoch_ns(ts) // 1000 // 21600000000) * 21600000000 AS ws_us,
        |         event_type, event_id, value,
        |         row_number() OVER (
        |           PARTITION BY (epoch_ns(ts) // 1000 // 21600000000), event_type
        |           ORDER BY value DESC, event_id DESC) AS rnk
        |  FROM events)
        |SELECT ws_us, event_type, CAST(rnk AS INT) AS rank, event_id, value
        |FROM r WHERE rnk <= 3
        |ORDER BY ws_us, event_type, rank""".stripMargin,
    // the per-batch dim resolution spelled as a rank CASE: first-half
    // event ids (dense 0..n-1) saw dim v1, the rest v2
    "e_stream_enrich_scd" ->
      """SELECT e.event_id, e.user_id,
        |       CASE WHEN e.event_id < (SELECT COUNT(*) // 2 FROM events)
        |            THEN e.user_id % 5 ELSE (e.user_id + 1) % 5 END AS tier,
        |       CASE WHEN e.event_id < (SELECT COUNT(*) // 2 FROM events)
        |            THEN 1 ELSE 2 END AS dim_ver
        |FROM events e
        |ORDER BY e.event_id""".stripMargin,
    // per (user, event-time minute): first RlLimit events in (us,
    // event_id) order admit, the rest flag — a windowed row_number
    "e_rate_limit_stream" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
         |r AS (SELECT user_id, event_id, us,
         |             row_number() OVER (PARTITION BY user_id, us - us % $RlWindowUs
         |                                ORDER BY us, event_id) AS rn
         |      FROM e)
         |SELECT user_id, event_id, us, CAST(rn <= $RlLimit AS INT) AS admitted
         |FROM r ORDER BY user_id, event_id""".stripMargin,
    // TTL variant: state evicts between the two replay batches (sleep ≥
    // 3×TTL), so the budget window restarts at the batch boundary — the
    // SQL form partitions the same row_number additionally by BATCH HALF
    // (the deterministic first-⌊n/2⌋ split of the (us, event_id) order)
    "e_rate_limit_ttl" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
         |o AS (SELECT user_id, event_id, us,
         |             row_number() OVER (ORDER BY us, event_id) AS g,
         |             count(*) OVER () AS n
         |      FROM e),
         |h AS (SELECT user_id, event_id, us,
         |             CASE WHEN g <= n // 2 THEN 1 ELSE 2 END AS half
         |      FROM o),
         |r AS (SELECT user_id, event_id, us,
         |             row_number() OVER (PARTITION BY user_id, half, us - us % $RlWindowUs
         |                                ORDER BY us, event_id) AS rn
         |      FROM h)
         |SELECT user_id, event_id, us, CAST(rn <= $RlLimit AS INT) AS admitted
         |FROM r ORDER BY user_id, event_id""".stripMargin,
    // exactly-once = every input row lands in the sink precisely once,
    // whatever retries happened: the read-back is the plain per-user
    // aggregate over the whole table
    "e_idempotent_sink" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // LWW merge is batch-split-independent: the final generation is the
    // plain per-key argmax over the whole table
    "e_stream_upsert" ->
      """SELECT user_id, event_id AS last_event_id,
        |       epoch_ns(ts) // 1000 AS last_us, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "e_sessionize_stream" ->
      (graft.operators.Events.sessionedCte +
        s"""
           |SELECT user_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us,
           |       COUNT(*) AS n_events, ${graft.QueryDsl.sqlDsum("value")} AS sum_value
           |FROM sessioned GROUP BY user_id, session_id
           |ORDER BY user_id, start_us""".stripMargin),
    // tumbling window start = us - us % 3600000000: exact integer
    // arithmetic, identical in both engines
    "e_window_agg_stream" ->
      s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us, value FROM events)
         |SELECT us - us % 3600000000 AS ws_us, event_type,
         |       COUNT(*) AS n_events, ${graft.QueryDsl.sqlDsum("value")} AS sum_value
         |FROM e GROUP BY 1, 2
         |ORDER BY ws_us, event_type""".stripMargin,
    // the engine's own late-drop counter rebuilt in closed form: batch 1
    // = the first ⌊n/2⌋ rows in (event-time, event_id) order (the
    // rate-limit-TTL half-split rule). Watermark semantics mirror the
    // engine EXACTLY (verified against WatermarkSupport bytecode):
    // EventTimeWatermarkExec tracks max event time FLOORED TO
    // MILLISECONDS (us // 1000), the 1 h delay is subtracted in ms, and
    // the late filter is LessThanOrEqual — a re-sent row is dropped iff
    // us <= ((max_us // 1000) − 3600000) * 1000. Newer re-sends are
    // suppressed by the dedup check, a different counter.
    "e_late_data_audit" ->
      """WITH o AS (SELECT epoch_ns(ts) // 1000 AS us, event_id,
        |                  row_number() OVER (ORDER BY epoch_ns(ts) // 1000, event_id) AS g,
        |                  count(*) OVER () AS n
        |           FROM events),
        |b1 AS (SELECT us FROM o WHERE g <= n // 2),
        |wm AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS w FROM b1)
        |SELECT CAST(2 * (SELECT COUNT(*) FROM b1) AS BIGINT) AS n_input_rows,
        |       CAST((SELECT COUNT(*) FROM b1, wm WHERE us <= w) AS BIGINT) AS n_late_dropped""".stripMargin,
    // every filing exactly once across the micro-batches, whatever the
    // wave split — per-form counts from the same orders derivation the
    // staged JSON encodes
    "e_filing_stream" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_filings,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_funds
        |FROM orders GROUP BY 1 ORDER BY form_type""".stripMargin,
    // pacing changes the micro-batch stride, never the data: identical
    // aggregate to the unpaced replay
    "e_filing_stream_paced" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_filings,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_funds
        |FROM orders GROUP BY 1 ORDER BY form_type""".stripMargin,
    // batch membership is the key-ranked half split; each rule's
    // violation count recomputed per half; the canary fails everywhere
    "e_stream_expectations" ->
      s"""WITH src AS (SELECT o_orderkey, o_totalprice, o_orderpriority,
         |               row_number() OVER (ORDER BY o_orderkey) AS rn,
         |               COUNT(*) OVER () AS n
         |             FROM orders WHERE o_orderkey % 10 = 0),
         |b AS (SELECT *, CASE WHEN rn <= n // 2 THEN 0 ELSE 1 END AS batch_no FROM src),
         |agg AS (SELECT batch_no, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |          CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
         |          CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_neg,
         |          CAST(SUM(CASE WHEN o_orderpriority NOT IN
         |               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
         |               THEN 1 ELSE 0 END) AS BIGINT) AS v_dom,
         |          CAST(SUM(CASE WHEN o_totalprice > 100 THEN 1 ELSE 0 END) AS BIGINT) AS v_canary
         |        FROM b GROUP BY batch_no),
         |led AS (
         |  SELECT batch_no, 'not_null' AS rule, n_rows, v_null AS n_violations FROM agg
         |  UNION ALL SELECT batch_no, 'non_negative', n_rows, v_neg FROM agg
         |  UNION ALL SELECT batch_no, 'in_domain', n_rows, v_dom FROM agg
         |  UNION ALL SELECT batch_no, 'max_le_100', n_rows, v_canary FROM agg)
         |SELECT CAST(batch_no AS INT) AS batch_no, rule, n_rows, n_violations,
         |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
         |FROM led ORDER BY batch_no, rule""".stripMargin,
    // the final snapshot outright: U keys re-digested, I-generator keys
    // untouched, inserted twins appended, D keys absent
    "e_stream_merge" ->
      """WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders
        |              WHERE o_orderkey % 20 = 0)
        |SELECT k, md5('u' || k) AS digest FROM keys WHERE k % 3 = 1
        |UNION ALL
        |SELECT k, md5('base' || k) AS digest FROM keys WHERE k % 3 = 2
        |UNION ALL
        |SELECT k + 1000000 AS k, md5('i' || k) AS digest
        |FROM keys WHERE k % 3 = 2
        |ORDER BY k""".stripMargin,
    // a trigger changes scheduling, never data: identical aggregate
    "e_filing_stream_backfill" ->
      """SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'NPORT-P' ELSE '10-K' END AS form_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_filings,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_funds
        |FROM orders GROUP BY 1 ORDER BY form_type""".stripMargin,
    // the union of committed epoch files must reproduce the order slice
    // exactly, whatever the batch split — same aggregate as k_dsv2_write
    "e_dsv2_stream_sink" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         |       CAST(COUNT(*) AS BIGINT) AS n_orders,
         |       ${graft.QueryDsl.sqlDsum("o_totalprice")} AS total,
         |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
         |FROM orders WHERE o_orderkey % 20 = 0
         |GROUP BY o_orderstatus, o_orderpriority
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    // the KMV sketch is a deterministic function of each window's value
    // set (k smallest md5-derived hashes), so the flushed streaming
    // windows hash-match this windowed recompute, rank for rank
    // each window's bitmap words rebuilt by bit_or over the distinct
    // positions; popcount doubles as COUNT(DISTINCT user_id % 256)
    "e_bitmap_stream" ->
      s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us,
         |                  user_id % 256 AS pos FROM events),
         |p AS (SELECT DISTINCT us - us % 21600000000 AS ws_us, event_type, pos FROM e),
         |wd AS (SELECT ws_us, event_type, CAST(pos // 64 AS INT) AS word_idx,
         |              CAST(bit_or(CASE WHEN pos % 64 = 63
         |                     THEN CAST(-9223372036854775808 AS BIGINT)
         |                     ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT) END)
         |                AS BIGINT) AS word
         |       FROM p GROUP BY 1, 2, 3),
         |dom AS (SELECT DISTINCT ws_us, event_type, w.word_idx
         |        FROM p, (SELECT unnest(range(0, 4)) AS word_idx) w),
         |pc AS (SELECT ws_us, event_type, CAST(COUNT(*) AS BIGINT) AS popcnt
         |       FROM p GROUP BY 1, 2)
         |SELECT dom.ws_us, dom.event_type, CAST(dom.word_idx AS INT) AS word_idx,
         |       COALESCE(wd.word, 0) AS word, pc.popcnt
         |FROM dom LEFT JOIN wd ON dom.ws_us = wd.ws_us
         |     AND dom.event_type = wd.event_type AND dom.word_idx = wd.word_idx
         |JOIN pc ON dom.ws_us = pc.ws_us AND dom.event_type = pc.event_type
         |ORDER BY dom.ws_us, dom.event_type, dom.word_idx""".stripMargin,
    "e_kmv_stream" ->
      s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us, user_id FROM events),
         |h AS (SELECT DISTINCT us - us % 21600000000 AS ws_us, event_type,
         |             ${graft.QueryDsl.sqlHex8("md5(CAST(user_id AS VARCHAR))", 1)} AS h
         |      FROM e),
         |r AS (SELECT ws_us, event_type, h,
         |             row_number() OVER (PARTITION BY ws_us, event_type ORDER BY h) AS rn
         |      FROM h)
         |SELECT ws_us, event_type, CAST(rn - 1 AS INT) AS rank, h
         |FROM r WHERE rn <= 16
         |ORDER BY ws_us, event_type, rank""".stripMargin,
    // the bottom-k quantile sketch is likewise a pure function of each
    // window's value multiset (k smallest-hashed distinct cents + exact
    // counts), so contents AND the derived median estimate hash-match
    // this windowed recompute
    "e_bottomk_stream" ->
      s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us,
         |                  CAST(FLOOR(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v
         |           FROM events),
         |vals AS (SELECT us - us % 21600000000 AS ws_us, event_type, v,
         |                CAST(COUNT(*) AS BIGINT) AS cnt
         |         FROM e GROUP BY 1, 2, 3),
         |h AS (SELECT *, ${graft.QueryDsl.sqlHex8("md5(CAST(v AS VARCHAR))", 1)} AS h
         |      FROM vals),
         |r AS (SELECT *, row_number() OVER (PARTITION BY ws_us, event_type
         |                  ORDER BY h, v) AS rn
         |      FROM h),
         |f AS (SELECT * FROM r WHERE rn <= 16),
         |agg AS (SELECT *,
         |          SUM(cnt) OVER (PARTITION BY ws_us, event_type) AS tot,
         |          SUM(cnt) OVER (PARTITION BY ws_us, event_type ORDER BY v) AS run
         |        FROM f),
         |est AS (SELECT ws_us, event_type,
         |          MIN(CASE WHEN run * 2 >= tot THEN v END) AS est_p50
         |        FROM agg GROUP BY 1, 2)
         |SELECT f.ws_us, f.event_type, CAST(f.rn - 1 AS INT) AS rank, f.h,
         |       f.v AS v_cents, f.cnt, est.est_p50 AS est_p50_cents
         |FROM f JOIN est USING (ws_us, event_type)
         |ORDER BY ws_us, event_type, rank""".stripMargin,
    "e_stream_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS cus,
        |                  value AS click_value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS pus
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, purchase_id, click_id, click_value
        |FROM p JOIN c ON p.user_id = c.user_id
        |              AND c.cus BETWEEN p.pus - 3600000000 AND p.pus
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin,
    // Spark ASC sort = NULLS FIRST; DuckDB defaults NULLS LAST — spelled
    // out so the null-click (unattributed) rows land in the same order
    "e_stream_join_outer" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS cus,
        |                  value AS click_value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS pus
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, purchase_id, click_id, click_value
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |                   AND c.cus BETWEEN p.pus - 3600000000 AND p.pus
        |ORDER BY p.user_id, purchase_id, click_id NULLS FIRST""".stripMargin,
    // DuckDB's native FULL OUTER interval join — an independent sorted
    // algorithm emitting both orphan classes; user_id coalesced, every
    // nullable sort key spelled NULLS FIRST to match Spark ASC
    "e_stream_join_full" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_ns(ts) // 1000 AS cus,
        |                  value AS click_value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_ns(ts) // 1000 AS pus
        |      FROM events WHERE event_type = 'purchase')
        |SELECT COALESCE(p.user_id, c.user_id) AS user_id,
        |       purchase_id, click_id, click_value
        |FROM p FULL OUTER JOIN c ON p.user_id = c.user_id
        |                         AND c.cus BETWEEN p.pus - 3600000000 AND p.pus
        |ORDER BY COALESCE(p.user_id, c.user_id),
        |         purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin,
    // "flagged dup in the stream" == "has a lower-id LSH near-dup" — the
    // batch candidate join recomputed relationally
    "d_lsh_dedup_stream" ->
      (graft.operators.Dedup.sigCte +
        """,
          |dups AS (
          |  SELECT DISTINCT c.b AS doc_id
          |  FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
          |  WHERE CAST(list_sum(list_transform(range(0, 16),
          |          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 >= 0.5)
          |SELECT d.doc_id, CAST(d.doc_id IN (SELECT doc_id FROM dups) AS INT) AS is_dup
          |FROM documents d
          |ORDER BY doc_id""".stripMargin),
    "d_dedup_stream" ->
      """SELECT DISTINCT CAST(event_id % 997 AS BIGINT) AS dedup_key,
        |       md5(CAST(CAST(event_id % 997 AS BIGINT) AS VARCHAR)) AS payload
        |FROM events
        |ORDER BY dedup_key""".stripMargin,
    // identical oracle: the state-store provider swap (heap → RocksDB)
    // must be answer-invariant
    "d_dedup_stream_rocksdb" ->
      """SELECT DISTINCT CAST(event_id % 997 AS BIGINT) AS dedup_key,
        |       md5(CAST(CAST(event_id % 997 AS BIGINT) AS VARCHAR)) AS payload
        |FROM events
        |ORDER BY dedup_key""".stripMargin,
    // each event contributes to the two sliding windows covering it
    "e_sliding_agg_stream" ->
      s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us, value FROM events),
         |x AS (SELECT event_type, us - us % 3600000000 - o.off AS ws_us, value
         |      FROM e CROSS JOIN (SELECT unnest([0, 3600000000]) AS off) o)
         |SELECT ws_us, event_type,
         |       COUNT(*) AS n_events, ${graft.QueryDsl.sqlDsum("value")} AS sum_value
         |FROM x GROUP BY 1, 2
         |ORDER BY ws_us, event_type""".stripMargin,
    "e_stream_enrich" ->
      """SELECT event_id, user_id, event_type,
        |       CAST(user_id % 5 AS BIGINT) AS tier,
        |       md5(CAST(user_id AS VARCHAR)) AS segment
        |FROM events
        |ORDER BY event_id""".stripMargin,
    // native and custom dedup must agree: the same DISTINCT proves both
    "d_dedup_stream_wm" ->
      """SELECT DISTINCT CAST(event_id % 997 AS BIGINT) AS dedup_key,
        |       md5(CAST(CAST(event_id % 997 AS BIGINT) AS VARCHAR)) AS payload
        |FROM events
        |ORDER BY dedup_key""".stripMargin,
  )

  final case class BucketMembers(sigs: Seq[Seq[Long]])

  /** The per-bucket kernel, factored out so StreamingSpec can drive it
    * directly with a synthetic viral cluster and assert the state bound.
    * Arrivals (already doc_id-sorted) fold over the representative set:
    * a signature within `threshold` of an existing REPRESENTATIVE is a
    * dup and is NOT inserted; only non-matching signatures become new
    * representatives. State is therefore O(distinct clusters per bucket),
    * not O(documents per bucket) — a viral duplicate cluster of any size
    * costs one representative and one comparison per arrival, where
    * keeping every signature would grow state and per-record cost
    * linearly (O(cluster²) total work in the hot bucket). */
  private[streaming] def bucketStep(
      reps: Seq[Seq[Long]],
      arrivals: Seq[(Long, Seq[Long])],
      numPerms: Int,
      threshold: Double): (Seq[Seq[Long]], Seq[(Long, Int)]) = {
    var members = reps
    val out = arrivals.map { case (id, sig) =>
      val dup = members.exists { m =>
        var eq = 0
        var i = 0
        while (i < numPerms) {
          if (m(i) != -1L && m(i) == sig(i)) eq += 1
          i += 1
        }
        eq.toDouble / numPerms >= threshold
      }
      if (!dup) members = members :+ sig
      (id, if (dup) 1 else 0)
    }
    (members, out)
  }

  /** STREAMING near-dup detection — the streaming form of the MinHash-LSH
    * batch pipeline: documents arrive as (bucketKey, doc_id, signature)
    * rows (one per LSH band), each band bucket keeps the cluster
    * REPRESENTATIVES seen so far, and a document is flagged dup iff some
    * bucket holds a representative within `threshold` estimated Jaccard.
    * State is sharded by band bucket (the same blocking as the batch
    * join — never all-pairs), bounded per bucket by the representative
    * set (see [[bucketStep]]), and bounded in time by the state timeout
    * in production; null signature positions are encoded as -1 and never
    * count as agreement, matching the batch/SQL NULL semantics.
    *
    * Representative-set verdicts match the keep-everything formulation
    * under the same transitive-closeness argument the batch clusterer
    * rests on: a doc matching an already-flagged member of a cluster
    * agrees with that cluster's representative too (near-dup clusters
    * are perturbations of one base document, so signature agreement is
    * transitive at the ≥-threshold level) — asserted against the
    * keep-everything DuckDB oracle by the hash-checked replay query.
    *
    * PARAMETER CONTRACT — transitivity assumption: because dup arrivals
    * are compared against REPRESENTATIVES only (never against other
    * dups), a non-transitive chain (A~B and B~C at ≥ threshold but
    * A~C below it) flags B and deliberately does NOT flag C — C matched
    * only a dropped dup, not a representative. Keep-everything semantics
    * would flag C. Callers whose clusters are not single-base
    * perturbations (where threshold agreement may not be transitive)
    * must not assume keep-everything behavior; StreamingSpec pins the
    * chain case explicitly.
    *
    * Determinism contract for replay: rows must be FED in doc_id order
    * across micro-batches (within a batch the handler sorts), so "seen
    * earlier" always means "lower doc_id" — the same verdicts as the
    * batch candidate join. */
  def lshDedupStream(
      rows: Dataset[(String, Long, Seq[Long])],
      numPerms: Int,
      threshold: Double,
      stateTimeout: String = "1 hour",
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[(Long, Int)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (_: String, it: Iterator[(String, Long, Seq[Long])], state: GroupState[BucketMembers]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toSeq.sortBy(_._2)
            val reps = state.getOption.map(_.sigs).getOrElse(Nil)
            val (nextReps, out) = bucketStep(
              reps, sorted.map { case (_, id, sig) => (id, sig) }, numPerms, threshold)
            state.update(BucketMembers(nextReps))
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(stateTimeout)
            out.iterator
          }
      }
  }

  /** `d_lsh_dedup_stream` — [[lshDedupStream]] replayed over the documents
    * table: signatures and band keys computed by the SAME batch plumbing
    * (operators.Dedup), fed in doc_id order in two micro-batches, verdicts
    * merged per document (a doc sits in 4 buckets). The oracle recomputes
    * "has a lower-id LSH near-dup" relationally — hash-checked. */
  def lshDedupStreamReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val numPerms = graft.functions.MinHashSignature.DefaultNumPerms
    // ONE pinned signature pass feeds both the band keys and the raw
    // signature payload — the bands+withSig join used to plan the
    // compute-dense MinHash subtree twice (half the replay's cost at
    // sf0.1 was batch prep, not streaming)
    val sig = graft.operators.Dedup.withSig(s, d)
      .select(col("doc_id"), col("sig")).localCheckpoint()
    val rows = graft.operators.Dedup.bandsFrom(sig)
      .join(sig.select(col("doc_id"),
        transform(col("sig"), v => coalesce(v, lit(-1L))).as("sigArr")), "doc_id")
      .select(concat(col("band").cast("string"), lit("#"), col("bkey")).as("bucket"),
        col("doc_id"), col("sigArr"))
      .as[(String, Long, Seq[Long])]
      .collect()
      .sortBy(_._2)
    val in = MemoryStream[(String, Long, Seq[Long])]
    val sink = "d_lsh_dedup_stream_sink"
    withReplayShuffle(s) {
      val q = lshDedupStream(in.toDS(), numPerms, 0.5,
          timeout = GroupStateTimeout.NoTimeout)
        .toDF("doc_id", "flag")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
      try {
        // doc_id order across batches is the determinism contract
        val (b1, b2) = rows.splitAt(rows.length / 2)
        in.addData(b1.toIndexedSeq)
        q.processAllAvailable()
        in.addData(b2.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
    }
    s.table(sink)
      .groupBy(col("doc_id"))
      .agg(max(col("flag")).as("is_dup"))
      .orderBy("doc_id")
  }

  final case class Seen(ids: Seq[Long])

  /** Streaming exact dedup by event_id: emits only first occurrences,
    * per-key seen-set state with a processing-time timeout so state can't
    * grow unboundedly (the streaming equivalent of Dedup.exactDedup for
    * an id key). */
  /** @param timeout ProcessingTimeTimeout (+ `stateTimeout`) in production
    *   so idle keys are evicted; NoTimeout in tests, where the
    *   timeout-check micro-batches would spin forever on an idle
    *   MemoryStream. */
  def dedupStream[T](
      events: Dataset[(Long, T)],
      stateTimeout: String = "1 hour",
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[(Long, T)] = {
    import events.sparkSession.implicits._
    implicit val tupleEnc = events.encoder
    events
      .groupByKey { case (id, _) => id % 1024 } // bounded key space: shard state
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (_: Long, rows: Iterator[(Long, T)], state: GroupState[Seen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = state.getOption.map(_.ids.toSet).getOrElse(Set.empty[Long])
            val (emitted, nowSeen) =
              rows.foldLeft((List.empty[(Long, T)], seen)) {
                case ((out, ids), (id, v)) =>
                  if (ids.contains(id)) (out, ids) else ((id, v) :: out, ids + id)
              }
            state.update(Seen(nowSeen.toSeq))
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(stateTimeout)
            emitted.reverseIterator
          }
      }
  }
}

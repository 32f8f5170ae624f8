package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one replay harness behind every streaming query: scope the
  * session confs, start the query, feed batches each followed by a
  * commit fence, stop the query, and leave the sink for the caller to
  * read. Every `e_*`/`d_*` stream query and the benchmark's replay
  * warmup go through [[run]].
  *
  * Tuning, all of it replay-harness only (the conf is captured at stream
  * START, so the production transforms are untouched; at cluster scale
  * state partitions are sized to keys/executors):
  *   - State partitions. Every stateful operator commits one state-store
  *     delta PER PARTITION per micro-batch (plus maintenance snapshots),
  *     so a driver-fed replay at the session's 32 partitions would pay 32
  *     store commits per batch for a few thousand rows. Light replays (a
  *     few rows per batch) run at 2, which cuts that store I/O with no
  *     semantic effect: state is keyed and results are re-sorted. Heavy
  *     replays (6-figure row counts through MULTIPLE state stores: the
  *     debounce processor, the dedup→window pipeline, the outer
  *     stream-stream joins) pass 8: their per-batch cost is state-store
  *     WORK (lookups/inserts per row), not commit overhead, so more state
  *     partitions mean more threads on the shared local[N] scheduler.
  *   - Checkpoints on tmpfs. Each micro-batch writes an offset log, a
  *     commit log and one state delta per partition; a fresh per-replay
  *     subdirectory under [[graft.TempPaths.scratchShm]] RAM-backs those
  *     KBs and is never shared (a reused checkpoint would resume the
  *     previous replay's offsets).
  *   - Neither is an order-of-magnitude win: replay wall time is
  *     dominated by per-micro-batch PLANNING (a fresh IncrementalExecution
  *     per batch, ~1 s fixed at any replay volume). That term is Spark's,
  *     not ours, and amortizes away on a long-lived production stream. */
object Replay {

  private val ckpts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The state store that spills to local disk; transformWithState
    * requires it, and `d_dedup_stream_rocksdb` proves it answer-invariant. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs one replay: `start` the query under the scoped confs (shuffle
    * partitions, a fresh tmpfs checkpoint root, and the RocksDB provider
    * when `rocksdb`), `drive` it, then stop it exactly once, also when
    * `drive` throws. The confs are restored afterwards. */
  def run[T](s: SparkSession, partitions: Int = 2, rocksdb: Boolean = false)(
      start: => StreamingQuery)(drive: StreamingQuery => T): T = {
    val confs = Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.streaming.checkpointLocation" ->
        (graft.TempPaths.scratchShm(s, "replay_ckpt") + "/r" + ckpts.incrementAndGet())) ++
      (if (rocksdb) Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)
       else Nil)
    graft.QueryDsl.withConfs(s, confs: _*) {
      val q = start
      try drive(q) finally q.stop()
    }
  }

  /** Starts `df` into the in-memory table `sink`, the sink most replays
    * read back. */
  def memory(df: DataFrame, sink: String, mode: OutputMode = OutputMode.Append,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    df.writeStream.format("memory").queryName(sink)
      .outputMode(mode).trigger(trigger).start()

  /** Adds each batch to `in` as its own micro-batch, fencing after each. */
  def feed[A](q: StreamingQuery, in: MemoryStream[A], batches: Seq[A]*): Unit =
    batches.foreach { b =>
      in.addData(b)
      fence(q)
    }

  /** Returns once every input added so far has been processed and
    * committed. Called once more after a feed, it also waits for the
    * engine's automatic no-data batch (a watermark or timer flush). */
  def fence(q: StreamingQuery): Unit = q.processAllAvailable()

  /** Commit fence for PROCESSING-TIME streams: [[fence]] never returns
    * under TimeMode.ProcessingTime, because the engine keeps scheduling
    * non-idle micro-batches to fire timers/TTL and the no-new-data signal
    * the fence waits on is never raised (the ProcessingTimeTimeout /
    * idle-MemoryStream trap in TTL form). A sink that gains exactly one
    * row per input row shows "batch committed" itself: poll until the
    * expected row count lands. Monotone-append sink ⇒ the poll is
    * race-free. */
  def awaitSinkRows(s: SparkSession, q: StreamingQuery, sink: String, n: Long): Unit = {
    val deadline = System.nanoTime() + 300L * 1000L * 1000L * 1000L
    while (s.table(sink).count() < n) {
      if (!q.isActive) q.awaitTermination() // surface the stream's failure
      if (System.nanoTime() > deadline) sys.error(s"sink $sink stuck below $n rows")
      Thread.sleep(50L)
    }
  }
}

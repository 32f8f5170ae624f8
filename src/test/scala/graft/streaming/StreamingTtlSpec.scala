package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the transformWithState TTL contract the `e_rate_limit_ttl` replay
  * relies on: a user's (window, count) bucket EVICTS after the TTL and the
  * budget RE-ADMITS — versus the no-TTL limiter, whose state carries the
  * exhausted budget across batches forever. One user, ten events in a
  * single event-time minute, split 7 + 3 across two micro-batches with a
  * wall-clock gap ≥ 3×TTL: the two runs MUST disagree on the last three
  * events, so this spec fails if TTL silently stops evicting (or the
  * replay stops exercising it). */
class StreamingTtlSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  // all ten events sit in minute-window 0 (us ≤ 10^7 < 6×10^7)
  private def ev(ids: Range): Seq[(Long, Long, Long)] =
    ids.map(i => (1L, i.toLong, 1000000L * i))

  private def runLimiter(
      ttl: Option[java.time.Duration], sleepMs: Long, sink: String): Map[Long, Int] = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val proc = ttl match {
      case Some(d) => new Streams.RateLimitProcessor(TTLConfig(d))
      case None => new Streams.RateLimitProcessor()
    }
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    Replay.run(s, rocksdb = true)(Replay.memory(in.toDS()
        .map { case (u, e, us) => Streams.RlEv(u, e, us) }
        .groupByKey(_.user_id)
        .transformWithState(proc, timeMode, OutputMode.Append())
        .toDF(), sink)) { q =>
      // ProcessingTime mode spins timer micro-batches forever, so the
      // processAllAvailable fence never returns — poll the sink instead
      // (Replay.awaitSinkRows); the None-mode run keeps the plain fence
      def fence(n: Long): Unit =
        if (ttl.isDefined) Replay.awaitSinkRows(s, q, sink, n)
        else Replay.fence(q)
      in.addData(ev(1 to 7): _*)
      fence(7L)
      if (sleepMs > 0) Thread.sleep(sleepMs)
      in.addData(ev(8 to 10): _*)
      fence(10L)
    }
    s.table(sink).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("admitted")).toMap
  }

  test("TTL evicts idle state between batches: the exhausted budget re-admits") {
    val ttlMs = 1000L
    val out = runLimiter(
      Some(java.time.Duration.ofMillis(ttlMs)), sleepMs = 3 * ttlMs, sink = "ttl_rl_on")
    assert(out.size == 10)
    // batch 1: first five admit, six and seven exhaust the window budget
    assert((1L to 5L).forall(out(_) == 1) && out(6L) == 0 && out(7L) == 0)
    // batch 2, same minute window: state expired -> budget restarts
    assert((8L to 10L).forall(out(_) == 1),
      s"TTL did not evict: batch-2 verdicts ${(8L to 10L).map(out)}")
  }

  test("without TTL the same replay keeps throttling: state carries across batches") {
    val out = runLimiter(None, sleepMs = 3000L, sink = "ttl_rl_off")
    assert(out.size == 10)
    assert((1L to 5L).forall(out(_) == 1) && (6L to 10L).forall(out(_) == 0),
      "no-TTL limiter forgot its state across batches")
  }
}

package graft.streaming

import graft.{QueryDsl, TestSpark}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite

/** [[Replay.run]] leaves the session as it found it: the query is
  * stopped and every conf it scoped is back, also when the drive throws. */
class ReplaySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val scopedKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointLocation",
    "spark.sql.streaming.stateStore.providerClass")

  private def confs(): Seq[Option[String]] = scopedKeys.map(s.conf.getOption)

  test("a drive that throws stops the query and restores the scoped confs") {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val before = confs()
    val in = MemoryStream[Long]
    var started: StreamingQuery = null
    val e = intercept[IllegalStateException] {
      Replay.run(s, partitions = 8, rocksdb = true)(Replay.memory(
          in.toDF().groupBy("value").count(), "replay_spec_sink", OutputMode.Complete)) { q =>
        started = q
        Replay.feed(q, in, Seq(1L, 2L, 2L))
        assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
        assert(q.lastProgress.stateOperators.nonEmpty && q.lastProgress.stateOperators.forall(
          _.customMetrics.containsKey("rocksdbGetCount")))
        throw new IllegalStateException("drive failed")
      }
    }
    assert(e.getMessage == "drive failed")
    assert(started != null && !started.isActive)
    assert(s.streams.active.isEmpty)
    assert(confs() == before)
    assert(s.table("replay_spec_sink").as[(Long, Long)].collect().toSet == Set((1L, 1L), (2L, 2L)))
  }

  test("withConfs puts back a set key and unsets an unset one when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.replay_spec.unset"
    val prev = s.conf.get(set)
    assert(s.conf.getOption(unset).isEmpty)
    intercept[IllegalStateException] {
      QueryDsl.withConfs(s, set -> "3", unset -> "x") {
        assert(s.conf.get(set) == "3" && s.conf.get(unset) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.get(set) == prev)
    assert(s.conf.getOption(unset).isEmpty)
  }
}

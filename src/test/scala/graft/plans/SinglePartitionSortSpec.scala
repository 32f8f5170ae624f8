package graft.plans

import graft.{JobSites, QueryDsl, Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A global sort over a frame that fits one partition plans a
  * `SinglePartition` exchange and runs no range-sampler job; a bigger
  * frame, a `repartitionByRange`, and any plan with AQE off keep the
  * range exchange (and `sortedPinned` its pin). */
class SinglePartitionSortSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  /** The partitioning of every shuffle in `df`'s executed plan. */
  private def exchanges(df: DataFrame): Seq[Partitioning] =
    flatten(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def orders: DataFrame =
    Tables.orders(s, sf).select("o_custkey", "o_orderkey", "o_totalprice")

  private def sorted(df: DataFrame): DataFrame = df.orderBy("o_custkey", "o_orderkey")

  /** The jobs `sortedPinned` itself starts: its pin, if it pins. */
  private def pinJobs(df: DataFrame): Seq[String] =
    JobSites.of(s)(QueryDsl.sortedPinned(df, col("o_custkey"), col("o_orderkey")))

  test("a small orderBy sorts in one partition: no sampler, 2 jobs") {
    val df = sorted(orders)
    val jobs = JobSites.of(s)(df.collect())
    assert(flatten(df.queryExecution.executedPlan).exists {
      case SortExec(_, true, _, _) => true
      case _ => false
    }, s"no global sort in:\n${df.queryExecution.executedPlan}")
    assert(exchanges(df) == Seq(SinglePartition), s"in:\n${df.queryExecution.executedPlan}")
    assert(jobs.size == 2, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(pinJobs(orders).isEmpty, "sortedPinned pinned a frame that fits one partition")
  }

  test("collected rows sort in one partition: no sampler, 2 jobs") {
    // the shape of a query that checks its executed plan, then re-emits
    // its collected rows for the final sort
    val rows = orders.limit(200).collect().toIndexedSeq
    val df = sorted(QueryDsl.localRows(s, rows, orders.schema))
    val jobs = JobSites.of(s)(df.collect())
    assert(exchanges(df) == Seq(SinglePartition), s"in:\n${df.queryExecution.executedPlan}")
    assert(jobs.size == 2, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(df.collect().toSeq == rows.sortBy(r => (r.getLong(0), r.getLong(1))))
  }

  test("a frame above the advisory size keeps the range sort and the pin") {
    QueryDsl.withConfs(s, Advisory -> "1") {
      val df = sorted(orders)
      df.collect(): Unit
      assert(exchanges(df).collect { case r: RangePartitioning => r.numPartitions }.exists(_ > 1),
        s"in:\n${df.queryExecution.executedPlan}")
      val pin = pinJobs(orders)
      assert(pin.size == 1 && pin.head.startsWith("localCheckpoint"), s"pin jobs: $pin")
    }
  }

  test("repartitionByRange keeps its partitions") {
    val df = orders.repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey")
    val parts = df.select(spark_partition_id()).distinct().count()
    assert(parts == 8, s"$parts partitions")
    df.collect(): Unit
    assert(exchanges(df).collect { case r: RangePartitioning => r.numPartitions } == Seq(8),
      s"in:\n${df.queryExecution.executedPlan}")
  }

  test("with AQE off the plan and the pin are the range sort's") {
    QueryDsl.withConfs(s, "spark.sql.adaptive.enabled" -> "false") {
      val df = sorted(orders)
      df.collect(): Unit
      assert(exchanges(df).collect { case r: RangePartitioning => r.numPartitions }.exists(_ > 1),
        s"in:\n${df.queryExecution.executedPlan}")
      val pin = pinJobs(orders)
      assert(pin.size == 1 && pin.head.startsWith("localCheckpoint"), s"pin jobs: $pin")
    }
  }

  test("rows with equal sort keys come back in the range sort's order") {
    // few keys, many ties, a payload out of key and input order, four
    // input partitions
    val df = s.range(0, 4000, 1, 4)
      .select((col("id") % 7).as("k"), ((col("id") * 7919) % 4001).as("v"))
    val one = df.orderBy("k").collect().toSeq
    val ranged = QueryDsl.withConfs(s, Advisory -> "1")(df.orderBy("k").collect().toSeq)
    assert(one.map(_.getLong(1)).distinct.size == 4000)
    assert(one == ranged)
  }
}

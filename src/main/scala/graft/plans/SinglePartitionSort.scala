package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort whose input fits in one
  * partition sorts in one partition.
  *
  * A total `ORDER BY` plans as a range exchange, and the range exchange
  * builds a `RangePartitioner` that SAMPLES its child in a job of its own
  * before the shuffle runs: the child subtree executes twice. When the
  * child is small, the range split buys nothing — one task sorts it as
  * fast as several would — so the rule swaps the exchange's partitioning
  * for `SinglePartition` (which satisfies the sort's ordered
  * distribution): no partitioner, no sample job.
  *
  * Only the exchange `EnsureRequirements` puts under a global sort is
  * touched; a user's `repartitionByRange` (origin `REPARTITION_BY_NUM`)
  * keeps its partitions. AQE runs this rule again whenever a stage
  * finishes, so once the sort's input is a materialized stage the size
  * in [[fits]] is the runtime size; before that it is the optimizer's
  * estimate.
  *
  * Row order is the range sort's: both forms read the map outputs in map
  * order and sort stably, so rows with equal keys keep their relative
  * order. */
object SinglePartitionSort extends Rule[SparkPlan] {

  /** Whether `plan`'s output fits in one partition: AQE is on and the
    * plan's size statistic is at most the advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`). The one test
    * shared by this rule and [[graft.QueryDsl.sortedPinned]]. */
  def fits(plan: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    conf.adaptiveExecutionEnabled &&
      plan.stats.sizeInBytes <= BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
        if n > 1 && child.logicalLink.exists(fits) =>
      e.copy(outputPartitioning = SinglePartition)
  }
}

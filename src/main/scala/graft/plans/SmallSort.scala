package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort's range exchange whose
  * input AQE would read back as ONE partition anyway is planned as a
  * `SinglePartition` exchange instead. The `RangePartitioner` of a range
  * exchange runs a sampling job of its own before the shuffle; on the
  * small final sorts that end most OLAP keys that job is pure scheduling
  * cost, since `CoalesceShufflePartitions` then folds every range into
  * one reduce partition. The output (one sorted partition) is the same.
  *
  * Fires only on an `ENSURE_REQUIREMENTS` range exchange (never a user
  * `repartitionByRange`) when
  *  - every leaf under it is a materialized query stage, so the size
  *    below is a runtime statistic, not a scan-time guess; and
  *  - the child's size estimate is at or under the total at which AQE's
  *    own coalescing yields one partition: the minimum partition size
  *    under `parallelismFirst` (the target is then total / parallelism,
  *    raised to that minimum), else the advisory size — and only while
  *    coalescing is enabled at all. */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  /** The largest shuffle AQE coalesces into one partition; None when it
    * does not coalesce. */
  private def onePartitionBound(conf: SQLConf): Option[Long] =
    if (!conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  private def allStagesMaterialized(p: SparkPlan): Boolean =
    p.collectLeaves().forall {
      case s: QueryStageExec => s.isMaterialized
      case _ => false
    }

  override def apply(plan: SparkPlan): SparkPlan =
    onePartitionBound(conf).fold(plan) { bound =>
      plan.transformUp {
        case e @ ShuffleExchangeExec(_: RangePartitioning, child,
            ENSURE_REQUIREMENTS, _)
            if allStagesMaterialized(child) &&
              child.logicalLink.exists(_.stats.sizeInBytes <= bound) =>
          e.copy(outputPartitioning = SinglePartition)
      }
    }
}

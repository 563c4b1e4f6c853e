package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A small global sort runs in one task: `SortExec(global)` over the
  * range exchange that EnsureRequirements put under it becomes
  * `SortExec(global, CoalesceExec(1, child))` when AQE's own
  * coalescing would fold that exchange's output into one partition
  * anyway. The range exchange costs a bounds-sampling job and a
  * shuffle map stage; a sort in one partition gives the same total
  * order, and `SinglePartition` satisfies any parent distribution.
  *
  * It fires only when every leaf of the exchange's stage has a known
  * size — a materialized shuffle stage (its map output bytes), a
  * materialized broadcast stage (its rows times the schema's row
  * width), or a file scan (its relation's size) — and their sum is at
  * most the size under
  * which AQE coalesces a shuffle into one partition: the
  * `coalescePartitions.minPartitionSize` under `parallelismFirst`
  * (Spark's default), else the advisory partition size. With
  * coalescing off it never fires. Inputs that are not yet
  * materialized wait for AQE's re-planning after their stages run.
  * A query stage preparation rule (`GraftExtensions`).
  */
object SingleTaskSort extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = limitBytes match {
    case None => plan
    case Some(limit) => plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if stageBytes(child).exists(_ <= limit) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }
  }

  /** The largest input AQE's coalescing folds into a single partition. */
  private def limitBytes: Option[Long] =
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** The summed size of the stage's leaves, if every leaf's is known. */
  private def stageBytes(plan: SparkPlan): Option[Long] = plan match {
    case s: ShuffleQueryStageExec =>
      // a shuffle of zero map tasks has no statistics: it is empty
      if (s.isMaterialized) Some(s.mapStats.fold(0L)(_.bytesByPartitionId.sum)) else None
    case b: BroadcastQueryStageExec =>
      // a hashed relation reports its allocated memory, not its rows (a
      // long-keyed one starts at a 1 MB page even for 20 rows), so the
      // size is Spark's own estimate from the broadcast's row count
      if (!b.isMaterialized) None
      else b.getRuntimeStatistics.rowCount.map(EstimationUtils.getOutputSize(b.output, _).toLong)
    case f: FileSourceScanExec => Some(f.relation.sizeInBytes)
    case _: Exchange => None // another stage, not yet run
    case p if p.children.isEmpty => None
    case p => p.children.foldLeft(Option(0L)) { (sum, c) =>
      sum.flatMap(a => stageBytes(c).map(a + _))
    }
  }
}

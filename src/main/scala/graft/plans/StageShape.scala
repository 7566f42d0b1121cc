package graft.plans

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{JoinHint, LogicalPlan, LogicalQueryStage, Repartition, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getOutputSize
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.internal.SQLConf

/** Broadcast build side from an estimate that does not multiply join
  * inputs. Without CBO, Spark sizes an inner join as the product of its
  * inputs' sizes, so TPC-H q3's `customer ⋈ orders` reads as gigabytes
  * against `lineitem`'s megabyte and Spark broadcasts the fact table while
  * `orders` streams. Here an inner equi-join is as large as its larger
  * input (the bound for a foreign-key join) and a unary node over a join
  * keeps its child's size; the smaller side by that estimate is built,
  * the reference's shape: build the small side, stream the fact table.
  *
  * The estimate only picks which side to build, and only where Spark
  * would broadcast one side of this join anyway (and the picked side's
  * estimate fits the same threshold), so it never adds a broadcast.
  * Non-inner joins, hinted joins, streaming joins and joins with an AQE
  * query stage for an input (whose size is measured, not estimated) are
  * left to Spark's `JoinSelection`. Installed by
  * [[graft.functions.GraftExtensions]] as a planner strategy, which runs
  * before Spark's own.
  */
object FkJoinBuildSide extends SparkStrategy with JoinSelectionHelper {

  /** The estimate where it differs from Spark's: None off the joins and
    * stages. A stage inside a join counts its measured rows at the
    * output's row width: a broadcast stage's own size is its hash
    * relation's memory, a megabyte for a few hundred rows.
    */
  private def fkSize(p: LogicalPlan): Option[BigInt] = p match {
    case ExtractEquiJoinKeys(Inner, _, _, _, _, l, r, _) => Some(size(l) max size(r))
    case q: LogicalQueryStage => q.stats.rowCount.map(getOutputSize(q.output, _))
    case u: UnaryNode => fkSize(u.child)
    case _ => None
  }

  private def size(p: LogicalPlan): BigInt = fkSize(p).getOrElse(p.stats.sizeInBytes)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ ExtractEquiJoinKeys(Inner, lk, rk, cond, _, l, r, JoinHint.NONE)
        if !j.isStreaming && !l.isInstanceOf[LogicalQueryStage] &&
          !r.isInstanceOf[LogicalQueryStage] &&
          getBroadcastBuildSide(j, hintOnly = false, SQLConf.get).isDefined =>
      val (ls, rs) = (size(l), size(r))
      val (side, built) = if (rs <= ls) (BuildRight, rs) else (BuildLeft, ls)
      if (built > SQLConf.get.autoBroadcastJoinThreshold) Nil
      else Seq(BroadcastHashJoinExec(lk, rk, Inner, side, cond,
        planLater(l), planLater(r), isNullAwareAntiJoin = false))
    case _ => Nil
  }
}

/** A small global sort runs in one partition: `Sort(stage)` becomes
  * `Sort(Repartition(1, shuffle = false, stage))` when its input is a
  * materialized AQE query stage whose measured size is no larger than the
  * size at which AQE itself coalesces a shuffle into one partition
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`). The range
  * exchange's bounds-sample job and its shuffle job go away, and the sort
  * runs in the stage that reads its input: TPC-H q1 becomes partial
  * aggregate → shuffle → final aggregate + sort, the reference's 3-stage
  * plan. Larger sorts, and sorts whose input is not yet measured, keep
  * range partitioning. The sort's input must be the stage itself: a
  * repartition passes its child's measured size through, so a rule that
  * only asked for a measured size would fire again on its own output,
  * and every re-plan would stack one more repartition. Installed by
  * [[graft.functions.GraftExtensions]] as an AQE runtime optimizer rule,
  * so it sees stage statistics.
  */
object OnePartitionSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case s @ Sort(_, true, stage: LogicalQueryStage, _) if stage.stats.isRuntime &&
        stage.stats.sizeInBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
      s.copy(child = Repartition(1, shuffle = false, stage))
  }
}

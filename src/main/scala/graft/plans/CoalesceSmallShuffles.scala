package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, CoalesceShufflePartitions,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.{DataWritingCommand, DataWritingCommandExec}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Replaces a planner-inserted shuffle whose input is already one
  * partition's worth of rows by an in-task `CoalesceExec(1)`.
  *
  * A small query otherwise pays for jobs that move no data: ORDER BY
  * over a 4-row aggregate runs a RangePartitioner sampling job, a
  * shuffle map job and a result job after the aggregate's own stage,
  * and a point lookup that prunes to one chunk shuffles that chunk
  * (and decodes it twice, once for the sampler). `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies every distribution an
  * aggregate, a window or a global sort requires, and it always yields
  * exactly one partition, so an ungrouped aggregate over an empty input
  * still returns its row.
  *
  * Runs as an adaptive query-stage preparation rule: after
  * `EnsureRequirements`, in the initial plan and in every re-planning
  * pass, never on the non-adaptive or streaming path. From the root it
  * walks down through single-child operators and replaces a
  * `ShuffleExchangeExec` of origin `ENSURE_REQUIREMENTS` when its child
  * is a chain of row-non-increasing single-child operators over
  *  - a materialized shuffle stage that Spark's own
  *    `CoalesceShufflePartitions` reads as one partition, so the plan
  *    without this rule already ends in one partition there; or
  *  - a `BatchScanExec` with at most one input partition.
  *
  * Exchanges deeper down are handled first, so a one-split scan under
  * a partial and a final aggregate and a sort loses all its shuffles.
  * The rows each operator sees arrive in the order they did through
  * the exchange (one map task, or one coalesced read in map order), so
  * floating-point aggregates stay bit-identical.
  *
  * Never touched: exchanges below a join or a union (the walk stops at
  * multi-child operators), below a write (the walk stops at V1 write
  * nodes; the query of a V2 write is marked by [[MarkWriteQueries]]),
  * user `repartition`/rebalance exchanges (other origins) and broadcast
  * exchanges. */
case class CoalesceSmallShuffles(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (plan.logicalLink.exists(_.getTagValue(MarkWriteQueries.WriteQuery).isDefined)) plan
    else walk(plan)

  private def walk(p: SparkPlan): SparkPlan = p match {
    case _: DataWritingCommandExec | _: WriteFilesExec => p
    case s: ShuffleExchangeExec if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
      val child = walk(s.child)
      if (onePartitionsWorth(child)) CoalesceExec(1, child) else s.withNewChildren(Seq(child))
    case _ if p.children.length == 1 => p.withNewChildren(Seq(walk(p.children.head)))
    case _ => p
  }

  @scala.annotation.tailrec
  private def onePartitionsWorth(p: SparkPlan): Boolean = p match {
    case s: ShuffleQueryStageExec => s.isMaterialized && readsAsOnePartition(s)
    case b: BatchScanExec => b.inputPartitions.length <= 1
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: SortExec | _: WindowExec
       | _: LocalLimitExec | _: CoalesceExec | _: AQEShuffleReadExec =>
      onePartitionsWorth(p.children.head)
    case _ => false
  }

  /** Asks Spark's coalescing rule what it makes of this stage alone. A
    * stage it leaves as is (coalescing off, an unsupported origin, or
    * partitions each at or above the target size) keeps all its
    * partitions. */
  private def readsAsOnePartition(s: ShuffleQueryStageExec): Boolean =
    CoalesceShufflePartitions(session)(s) match {
      case r: AQEShuffleReadExec => r.partitionSpecs.length <= 1
      case _ => s.shuffle.numPartitions <= 1
    }
}

/** Marks the logical root of every query a write consumes, when the
  * write is planned. Adaptive execution plans a V2 write's query as a
  * plan of its own whose root is the query, not the write; re-planning
  * starts from that logical root, so [[CoalesceSmallShuffles]] sees the
  * mark in every pass. Plans nothing itself. */
object MarkWriteQueries extends SparkStrategy {
  val WriteQuery: TreeNodeTag[Unit] = TreeNodeTag[Unit]("graft.writeQuery")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    plan match {
      case w: V2WriteCommand => w.query.setTagValue(WriteQuery, ())
      case d: DataWritingCommand => d.query.setTagValue(WriteQuery, ())
      case _ =>
    }
    Nil
  }
}

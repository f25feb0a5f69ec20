package org.apache.spark.sql

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, BroadcastPartitioning, IdentityBroadcastMode, Partitioning}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** One global table's broadcast relations, each built on first use and kept
  * for as long as the table: keyed by the join's build side (canonicalized)
  * and broadcast mode, so every later execution of the same join, in any
  * micro-batch or batch query, reuses it. Nothing unpersists them; a
  * relation is freed by the ContextCleaner once its table is unreachable.
  */
final class GlobalTableBroadcasts {
  private val built = mutable.HashMap.empty[(LogicalPlan, BroadcastMode), Broadcast[Any]]

  private[sql] def apply(build: LogicalPlan, mode: BroadcastMode)(
      make: => Broadcast[Any]): Broadcast[Any] =
    synchronized(built.getOrElseUpdate((build, mode), make))

  override def toString: String = "GlobalTableBroadcasts"
}

/** Marks a global table's snapshot in a logical plan. Outside a join that
  * [[GlobalTableJoins]] plans, it plans as its child.
  */
case class GlobalTableSnapshot(child: LogicalPlan, broadcasts: GlobalTableBroadcasts)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalTableSnapshot =
    copy(child = newChild)
}

/** The build side of a global-table broadcast hash join: `build` is the
  * join's right side (deterministic projections and filters over a
  * [[GlobalTableSnapshot]]). It declares the broadcast partitioning the
  * join requires, so no BroadcastExchangeExec is planned over it, and
  * answers the broadcast from the table's memo: the rows are collected,
  * hashed and broadcast once per (build side, mode).
  */
case class GlobalTableBroadcastExec(@transient build: LogicalPlan, mode: BroadcastMode)
    extends LeafExecNode {
  override val output: Seq[Attribute] = build.output
  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  private def batchPlan: SparkPlan = classic.Dataset.ofRows(session,
    build.transform { case GlobalTableSnapshot(child, _) => child }).queryExecution.executedPlan

  override protected def doExecute(): RDD[InternalRow] = batchPlan.execute()

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = {
    val broadcasts = build.collectFirst { case GlobalTableSnapshot(_, b) => b }.get
    broadcasts(build.canonicalized, mode.canonicalized) {
      val (rows, it) = batchPlan.executeCollectIterator()
      sparkContext.broadcastInternal(mode.transform(it, Some(rows)), serializedOnly = true)
    }.asInstanceOf[Broadcast[T]]
  }

  override protected def doCanonicalize(): SparkPlan =
    copy(build = build.canonicalized, mode = mode.canonicalized)

  override def simpleString(maxFields: Int): String =
    s"GlobalTableBroadcast ${truncatedString(output, "[", ", ", "]", maxFields)}"
}

/** Plans an inner or left equi-join whose right side is a global table's
  * snapshot (under deterministic projections and filters only) as Spark's
  * own BroadcastHashJoinExec, over a [[GlobalTableBroadcastExec]] whose
  * relation is built once per table instead of once per execution.
  */
object GlobalTableJoins extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // the cheap shape test first: every join of every query comes here, and
    // extracting the keys of each one cost a join-heavy batch workload ~3%
    case j: Join if overSnapshot(j.right) => j match {
      case ExtractEquiJoinKeys(joinType @ (Inner | LeftOuter), leftKeys, rightKeys, other, _,
          left, right, _) =>
        // the mode is the join's own requirement, so EnsureRequirements
        // finds it satisfied; it depends only on the build side's output
        val scan = GlobalTableBroadcastExec(right, IdentityBroadcastMode)
        val join = BroadcastHashJoinExec(
          leftKeys, rightKeys, joinType, BuildRight, other, planLater(left), scan)
        val mode = join.requiredChildDistribution(1).asInstanceOf[BroadcastDistribution].mode
        join.copy(right = scan.copy(mode = mode)) :: Nil
      case _ => Nil
    }
    case GlobalTableSnapshot(child, _) => planLater(child) :: Nil
    case _ => Nil
  }

  private def overSnapshot(p: LogicalPlan): Boolean = p match {
    case Project(list, child) => list.forall(_.deterministic) && overSnapshot(child)
    case Filter(cond, child) => cond.deterministic && overSnapshot(child)
    case _: GlobalTableSnapshot => true
    case _ => false
  }

  /** `snapshot`, marked as the table that owns `broadcasts`. */
  def mark(snapshot: DataFrame, broadcasts: GlobalTableBroadcasts): DataFrame = {
    val s = snapshot.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, GlobalTableSnapshot(snapshot.queryExecution.analyzed, broadcasts))
  }

  /** Adds this strategy to `spark`'s planner unless it is there already,
    * through `experimental.extraStrategies` or a session extension. A
    * streaming query keeps the strategies its session had when it started.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.planner.strategies.contains(this))
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
  }
}

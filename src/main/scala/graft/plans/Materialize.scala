package graft.plans

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one materialization primitive: every lineage cut in
  * `src/main` goes through here, and this is the only place that calls
  * `localCheckpoint`.
  *
  * Policy: an EAGER LOCAL checkpoint. The frame is computed once, its
  * rows are stored in the executors' block managers, and its plan becomes
  * a `LogicalRDD` leaf, so an iterative operator keeps constant-depth
  * lineage and a frame read by several consumers runs its subtree once.
  *
  * Failure it does not survive: the blocks live only on the executors
  * that wrote them and the lineage that produced them is gone, so a lost
  * executor's blocks cannot be recomputed. A query that reads them, any
  * iterative query included, then fails and must be rerun from its
  * inputs. A reliable `checkpoint()` into a checkpoint dir would survive
  * that; no workload runs one, so it is not offered here.
  *
  * Plan fact every caller inherits: the checkpoint's `LogicalRDD` reports
  * `UnknownPartitioning`, so repartitioning a frame before materializing
  * it buys nothing downstream. A join on the materialized frame
  * re-exchanges its rows either way (plan-verified).
  *
  * Release: `Dataset.unpersist()` does NOT free a local checkpoint (it
  * only drops cache-manager entries); [[release]] unpersists the
  * `LogicalRDD`'s own RDD. Reading a released frame throws, so never
  * release a frame something may still read: the frame an operator
  * returns, a frame a later plan still scans (suffix-array levels the LCP
  * walk reads), or a snapshot a concurrent reader may hold
  * (`StoreRegistry.upsert`'s superseded snapshot).
  */
object Materialize {

  /** Eager local checkpoint of `ds`. Spark names a job after the first
    * frame outside its own packages, which here would be this file; the
    * call site is set from the caller's frame instead, so the job keeps
    * the `localCheckpoint at File.scala:line` name of the calling line.
    */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val prior = sc.getLocalProperty(CallSiteShort)
    // a call site the caller set on purpose wins, as it would for a
    // direct localCheckpoint
    if (prior == null) sc.setCallSite(s"localCheckpoint at $caller")
    try ds.localCheckpoint(true)
    finally sc.setLocalProperty(CallSiteShort, prior)
  }

  /** Free a frame [[apply]] materialized. A frame whose plan is not a
    * materialization is left alone.
    */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** `n` rounds of `step` (called with the previous round and the round
    * number, 1 to `n`), materializing `init` and every round. Each round
    * frees the one it replaced once it is itself materialized; the last
    * round is returned and stays. Only frames this loop materialized are
    * freed, never a frame the step closes over.
    */
  def rounds[T](init: Dataset[T], n: Int)(step: (Dataset[T], Int) => Dataset[T]): Dataset[T] =
    (1 to n).foldLeft(apply(init)) { (prev, r) =>
      val next = apply(step(prev, r))
      release(prev)
      next
    }

  /** Drop every cached frame and every materialization of the session:
    * the harness's isolation sweep between queries.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // org.apache.spark.util.CallSite.SHORT_FORM (private[spark])
  private val CallSiteShort = "callSite.short"

  private val skipped = Seq("graft.plans.Materialize", "org.apache.spark.",
    "scala.", "java.", "jdk.")

  private def caller: String =
    Thread.currentThread.getStackTrace.iterator
      .find(f => !skipped.exists(f.getClassName.startsWith))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .getOrElse("<unknown>")
}

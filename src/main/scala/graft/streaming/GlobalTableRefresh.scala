package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.dsl.KGlobalTable

/** The reference's GlobalTable stays continuously synced from its topic and
  * every stream record joins against the CURRENT table state
  * (`kstream/global_table_stream.go:64-176`, SURVEY §3.3).
  * The Spark form: re-materialize the snapshot per micro-batch inside
  * `foreachBatch` — each batch joins the freshest table, broadcast to
  * executors by the join itself. For slow-changing dims, swap `load` for a
  * cached loader with a TTL; for truly static dims use the plain
  * stream-static `joinGlobalTable`, which reads the table once per query
  * and reuses its broadcast on every batch (see [[graft.dsl.KGlobalTable]]).
  */
object GlobalTableRefresh {

  /** Stream–global-table join with per-batch table refresh. `load` runs on
    * the driver each micro-batch (e.g. re-reads a compacted topic snapshot
    * or a dimension path); `sink` receives the enriched batch.
    *
    * Bootstrap depth is `load`'s choice — the reference's
    * `GlobalTableOffsetDefault` (replay the topic from offset 0,
    * kstream/global_table.go:20-29) is a full snapshot load; its
    * `GlobalTableOffsetLatest` ("skip history") is a load over only-new
    * records, e.g. a Kafka read opened with
    * [[graft.io.KafkaIO.tableStartingOffsets]]`(skipHistory = true)`.
    */
  def enrichEachBatch(
      stream: DataFrame,
      load: () => KGlobalTable,
      fk: Column,
      joinType: String = "inner")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(load().join(batch, fk, joinType), batchId)
    }
}

/** Per-record retries + DLQ routing (the reference's
  * `stream.processor.retry` config, default 2 retries / 100 ms —
  * kstream/k_stream.go:120-132 — and the DLQ escape, kstream/dlq/
  * dlq.go:14-87). On Spark the retry unit is the micro-batch body; rows
  * that keep a batch failing are split out with [[graft.io.KafkaIO.dlqSplit]].
  */
object Resilience {

  def withRetries[T](attempts: Int, intervalMs: Long)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch {
        case e: Throwable if left > 0 =>
          left -= 1
          Thread.sleep(intervalMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Wrap a foreachBatch body with bounded retries. */
  def foreachBatchWithRetry(
      attempts: Int = 2, intervalMs: Long = 100)(
      body: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, id) => withRetries(attempts, intervalMs)(body(batch, id))

  /** Per-record error capture — the reference's full DLQ semantics
    * (kstream/processor.go:116-152: retry the record, then ship it to the
    * DLQ topic with the error; dlq/dlq.go:14-87): retry the WHOLE batch
    * `attempts` times first (transient faults clear here, the common
    * case, zero overhead); if it still fails, bisect the pinned batch by
    * a stable row index until the throwing rows are isolated — every
    * healthy sub-batch commits via `body` exactly once, and each poison
    * row goes to `dead` carrying the captured error in `dlq_reason`.
    *
    * `body` must be idempotent-per-row under retries (the same contract
    * the reference imposes — its retried record can also have partially
    * committed). Cost when poison exists: O(k · log n) driver-scheduled
    * sub-jobs over the CACHED batch for k poison rows in an n-row
    * micro-batch — bounded by the micro-batch size, never the table.
    *
    * Guard rails against misclassifying an ENVIRONMENTAL failure (sink
    * down, executor loss) as per-record poison: fatal throwables (OOM,
    * interrupt) propagate immediately instead of entering bisection, and
    * once more than `maxQuarantineFraction` of the batch has quarantined
    * the harness aborts the batch with the underlying error — a sustained
    * outage fails loudly for the stream's own retry/alerting instead of
    * silently rerouting every healthy row to the DLQ one by one.
    */
  def foreachBatchWithQuarantine(
      attempts: Int = 2, intervalMs: Long = 100,
      maxQuarantineFraction: Double = 0.5)(
      body: (DataFrame, Long) => Unit)(
      dead: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = (batch, id) => {
    import org.apache.spark.sql.functions._
    val idx = "_graft_quarantine_idx"
    // pin ONCE: monotonically_increasing_id is stable when re-read from
    // the cache (partition layout fixed), so bisection filters see
    // consistent indexes and the source is not recomputed per probe
    val pinned = batch.withColumn(idx, monotonically_increasing_id()).persist()
    try {
      val total = pinned.count()
      val budget = math.max(1L, math.ceil(total * maxQuarantineFraction).toLong)
      var quarantined = 0L
      def attempt(df: DataFrame): Option[Throwable] =
        try { withRetries(attempts, intervalMs)(body(df.drop(idx), id)); None }
        catch { case scala.util.control.NonFatal(e) => Some(e) }
      def quarantine(df: DataFrame, n: Long, err: Throwable): Unit =
        if (n == 1L) {
          quarantined += 1
          if (quarantined > budget && budget < total) throw new IllegalStateException(
            s"quarantine budget exceeded ($quarantined of $total rows, cap $budget): " +
              "failure is likely environmental, not per-record — aborting the batch",
            err)
          dead(df.drop(idx).withColumn(
            "dlq_reason", lit(Option(err.getMessage).getOrElse(err.toString))), id)
        } else {
          // split by index VALUE midpoint: ids are sparse but ordered, so
          // value bisection still halves the range each round
          val Array(org.apache.spark.sql.Row(lo: Long, hi: Long)) =
            df.agg(min(col(idx)), max(col(idx))).collect()
          val mid = lo + (hi - lo) / 2
          for (half <- Seq(df.filter(col(idx) <= mid), df.filter(col(idx) > mid))) {
            val m = half.count()
            if (m > 0) attempt(half) match {
              case Some(e) => quarantine(half, m, e)
              case None    => ()
            }
          }
        }
      if (total > 0) attempt(pinned) match {
        case Some(e) => quarantine(pinned, total, e)
        case None    => ()
      }
    } finally pinned.unpersist()
  }
}

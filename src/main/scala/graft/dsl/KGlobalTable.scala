package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, GlobalTableBroadcasts, GlobalTableJoins}
import org.apache.spark.sql.functions._

import graft.plans.Hints
import graft.state.Upserts

/** Spark-native GlobalTable: the reference's fully-replicated latest-value-
  * per-key materialized view (`/root/reference/kstream/global_table.go:120-146`,
  * builder.go:226-254). On Spark the "full replication to every instance"
  * becomes a broadcast of the snapshot to every executor — same data
  * placement, but built by the cluster instead of N redundant topic scans.
  *
  * Read once, like the reference's bootstrap: a broadcast snapshot is
  * collected, hashed and broadcast the first time a join over it runs, and
  * every later run of that join — each micro-batch of a streaming query,
  * each batch query that joins the table — reuses that relation
  * ([[org.apache.spark.sql.GlobalTableJoins]]). So rows added to the
  * table's files afterwards are not seen by joins over this table; a table
  * that changes while a stream runs is re-read per batch with
  * [[graft.streaming.GlobalTableRefresh]], where each `load()` makes a new
  * table. The relation lives as long as this table (and the plans that
  * join it) and is freed by the ContextCleaner once they are unreachable.
  *
  * Scale: the broadcast is *advisory* — `useBroadcast` applies only while
  * the snapshot's optimizer size estimate fits under
  * `spark.graft.broadcastThreshold` (default: the session's
  * `autoBroadcastJoinThreshold`, see [[graft.plans.Hints.broadcastIfSmall]]).
  * Past that, or with `broadcastSnapshot = false`, the join is left to the
  * planner/AQE and degrades gracefully to a shuffled join — which the
  * reference cannot do at all (its tables must fit in every instance's RAM,
  * backend/memory/memory.go:52-180) — re-reading the table per execution.
  */
final class KGlobalTable private (
    val snapshot: DataFrame,
    val keyCol: String,
    useBroadcast: Boolean) {

  private val broadcasts = new GlobalTableBroadcasts

  /** J1 (inner) / J2 (left) stream–global-table join
    * (processors/join/global_table_joiner.go:94-127). `fk` is the stream-
    * side foreign-key expression (the KeyMapper). Inner: a missing table row
    * drops the record (the reference raises an error and drops,
    * global_table_joiner.go:110-113 — same relational outcome). Left: the
    * record survives with NULL table columns, which the ValueMapper sees as
    * a nil right (joiner.go:10-13).
    */
  def join(stream: DataFrame, fk: Column, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"global-table joins are inner or left (got $joinType)")
    val t =
      if (useBroadcast && Hints.fitsBroadcast(snapshot)) {
        GlobalTableJoins.install(stream.sparkSession)
        broadcast(GlobalTableJoins.mark(snapshot, broadcasts))
      } else snapshot
    stream.join(t, fk === t(keyCol), joinType)
  }

  /** Point lookup / range scan over the table (store semantics, A4:
    * kstream/store/store.go:175-218).
    */
  def get(key: Any): DataFrame = snapshot.filter(col(keyCol) === lit(key))
  def range(from: Any, to: Any): DataFrame =
    snapshot.filter(col(keyCol).between(lit(from), lit(to)))
  def all: DataFrame = snapshot
}

object KGlobalTable {
  /** Build from a changelog-shaped DataFrame: latest record per key wins,
    * a NULL `valueCol` tombstone deletes the key (global_table.go:31-60).
    * `ord` = arrival order (offset). One partial-agg shuffle; no window sort.
    */
  def fromChangelog(
      changelog: DataFrame, keyCol: String, ord: Seq[Column],
      tombstoneCol: Option[String] = None,
      broadcastSnapshot: Boolean = true): KGlobalTable = {
    val latest = tombstoneCol match {
      case Some(v) => Upserts.latestByKeyWithTombstones(changelog, Seq(keyCol), ord, v)
      case None    => Upserts.latestByKey(changelog, Seq(keyCol), ord)
    }
    new KGlobalTable(latest, keyCol, broadcastSnapshot)
  }

  /** Build from an already-deduplicated static table (e.g. a dimension
    * parquet) — the common batch case.
    */
  def fromStatic(table: DataFrame, keyCol: String, broadcastSnapshot: Boolean = true): KGlobalTable =
    new KGlobalTable(table, keyCol, broadcastSnapshot)
}

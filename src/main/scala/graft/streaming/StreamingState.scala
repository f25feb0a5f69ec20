package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed record shape for streaming state ops: the reference's decoded
  * (key, value) pair plus an arrival order (`/root/reference/data/
  * record.go:33-42` — Topic/Partition/Offset collapse to `ord`). A NULL
  * `value` is a tombstone. `version` feeds the version-gated upsert
  * (processors/materializer.go:10-11); unused operators ignore it.
  */
final case class KRecord(key: String, ord: Long, value: String, version: Long = 0L)

/** Structured Streaming forms of the reference's state subsystem
  * (SURVEY §2.4 A1–A3, §2.6). The batch forms live in
  * [[graft.state.Upserts]]; these are the continuously-updating versions,
  * held in Spark's state store (HDFS/RocksDB-backed, changelog-
  * checkpointed — the durable version of the reference's in-memory
  * `sync.Map` backend, backend/memory/memory.go:52-180).
  *
  * Scale: state is partitioned by key hash across executors; each trigger
  * touches only keys with new data. TTL ⇒ `GroupStateTimeout` (the
  * reference's per-record expiry, backend/backend.go:14-28).
  */
object StreamingState {

  /** A1 latest-by-key (GlobalTable sync semantics, kstream/global_table.go:
    * 31-60): state keeps the record with the greatest `ord` seen; a
    * tombstone whose `ord` is newest deletes the key and re-emits the
    * tombstone (so downstream stores delete too). Emits the key's current
    * snapshot row each trigger it receives data — Update-mode output.
    */
  def latestByKey(ds: Dataset[KRecord]): Dataset[KRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .mapGroupsWithState[KRecord, KRecord](GroupStateTimeout.NoTimeout)(latestStep)
  }

  /** The latest-by-key step: the newest of the stored and the incoming
    * records wins; a winning tombstone removes the key's state and is
    * re-emitted, any other winner is stored and emitted.
    */
  private def latestStep(key: String, records: Iterator[KRecord],
      state: GroupState[KRecord]): KRecord = {
    val incoming = records.maxBy(_.ord)
    val winner = state.getOption match {
      case Some(c) if c.ord >= incoming.ord => c
      case _                                => incoming
    }
    if (winner.value == null) {
      state.remove()
      KRecord(key, winner.ord, null, winner.version)
    } else {
      state.update(winner)
      winner
    }
  }

  /** A1 with TTL: the reference's per-record expiry
    * (backend/backend.go:14-28 `SetExpiry`, swept by a 1 s goroutine in
    * backend/memory/memory.go) maps to `GroupStateTimeout`: a key whose
    * state goes untouched for `ttl` is evicted and a tombstone is emitted
    * so downstream stores delete too. Processing-time timeout — the same
    * wall-clock semantics as the reference's sweeper.
    */
  def latestByKeyWithTTL(ds: Dataset[KRecord], ttl: java.time.Duration): Dataset[KRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .mapGroupsWithState[KRecord, KRecord](GroupStateTimeout.ProcessingTimeTimeout) {
        (key, records, state: GroupState[KRecord]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            KRecord(key, last.ord, null, last.version) // expiry tombstone
          } else {
            val out = latestStep(key, records, state)
            if (state.exists) state.setTimeoutDuration(ttl.toMillis)
            out
          }
      }
  }

  /** A2 version-gated upsert (global_table_stream_instance.go:236-268):
    * a new record wins iff `version > stored.version` — STRICT, ties keep
    * the stored record (builder.go:231-233). Within one batch, the earliest
    * arrival among max-version records wins, matching the sequential
    * per-record semantics of the reference.
    */
  def versionedUpsert(ds: Dataset[KRecord]): Dataset[KRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .mapGroupsWithState[KRecord, KRecord](GroupStateTimeout.NoTimeout) {
        (_, records, state: GroupState[KRecord]) =>
          // sequential replay in arrival order: strict > keeps first-seen
          // among equal versions
          val winner = records.toSeq.sortBy(_.ord).foldLeft(state.getOption) {
            case (Some(cur), r) if r.version <= cur.version => Some(cur)
            case (_, r)                                     => Some(r)
          }.get
          state.update(winner)
          winner
      }
  }

  /** Change capture: emit a record only when its key's value CHANGES
    * (suppress consecutive duplicates) — flatMapGroupsWithState in Append
    * mode, 0 or 1 outputs per key per trigger. The streaming form of the
    * reference's version-gate used as a change suppressor; downstream
    * consumers see each distinct state exactly once.
    */
  def distinctUntilChanged(ds: Dataset[KRecord]): Dataset[KRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[KRecord, KRecord](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (_, records, state: GroupState[KRecord]) =>
          val incoming = records.maxBy(_.ord)
          state.getOption match {
            case Some(cur) if cur.value == incoming.value => Iterator.empty
            case _ =>
              state.update(incoming)
              Iterator.single(incoming)
          }
      }
  }

  /** A3 exactly-once dedup: drop records whose identity was already seen,
    * with state bounded by the event-time watermark (the streaming form of
    * the changelog replay dedup, state_changelog.go:285-305 — but with the
    * eviction bound the reference lacks). `df` must carry an event-time
    * column already.
    */
  def dedupWithinWatermark(df: DataFrame, idCols: Seq[String], eventTime: String, delay: String): DataFrame =
    df.withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Event-time tumbling-window aggregation with watermark-bounded state —
    * the windowed operator class the reference lacks entirely (SURVEY §1.4)
    * but Spark provides natively. Late data beyond `delay` is dropped.
    */
  def tumblingCounts(
      df: DataFrame, eventTime: String, delay: String,
      windowLen: String, groupCols: Seq[String]): DataFrame =
    df.withWatermark(eventTime, delay)
      .groupBy((window(col(eventTime), windowLen) +: groupCols.map(col)).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"))

  /** Online bucketed self-join: the one state fold behind every
    * "does this arriving record match one we already hold?" operator
    * (near-dup MinHash buckets, LSH vector buckets, fuzzy gram buckets,
    * Jaccard prefix buckets). Rows group by their bucket key `_1`; the
    * state is the list of members `_2` stored under that key. Each
    * micro-batch folds the group's members in ascending `id` order, so a
    * retry or a repartitioning decides the same way. A member whose id is
    * already stored, or appeared earlier in the same batch, is absorbed:
    * no verify, no store, so a re-delivered record re-emits nothing. Any
    * other member is checked with `verify(arriving, stored)` against every
    * stored member, then stored. A pair sharing several buckets emits once
    * per shared bucket; dedup downstream when exactly-once pairs matter.
    */
  def bucketJoin[K: Encoder, M, I: Ordering, Out: Encoder](
      keyed: Dataset[(K, M)])(id: M => I)(verify: (M, M) => Option[Out])(
      implicit stored: Encoder[List[M]]): Dataset[Out] =
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[List[M], Out](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[Out]
          rows.map(_._2).toSeq.sortBy(id).foreach { m =>
            val i = id(m)
            if (!seen.exists(s => id(s) == i)) {
              seen.foreach(s => out ++= verify(m, s))
              seen = m :: seen
            }
          }
          state.update(seen)
          out.result().iterator
      }

  /** Digest-keyed first-occurrence flag: the one state fold behind the
    * "have we ever seen this content?" operators (line and chunk dedup at
    * ingest). Rows group by `key`; the state is one Boolean per key. Each
    * micro-batch folds the group's rows in ascending `order` (the
    * (id, position) of the row), so across batches the first arrival
    * wins and within one the smallest (id, position) does. The first
    * non-`exempt` row of a key is new; an exempt row (a blank line) is
    * always flagged new and never marks the key. `emit(row, isNew)` builds
    * the one output row per input row.
    */
  def firstSeen[R, K: Encoder, O: Ordering, Out: Encoder](
      rows: Dataset[R])(key: R => K, order: R => O, exempt: R => Boolean)(
      emit: (R, Boolean) => Out): Dataset[Out] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(key)
      .flatMapGroupsWithState[Boolean, Out](OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_, group, state) =>
          var seen = state.getOption.getOrElse(false)
          val out = group.toSeq.sortBy(order).map { r =>
            val ex = exempt(r)
            val isNew = ex || !seen
            if (!ex) seen = true
            emit(r, isNew)
          }
          if (seen) state.update(true)
          out.iterator
      }
  }

  /** J3 with the reference's EXACT buffer semantics (join/side_joiner.go:
    * 54-97, join/window.go:5-28): per key, each side holds a single-slot
    * buffer; an arriving record that finds the other side's slot filled
    * emits one joined pair (the stored entry LINGERS and keeps matching);
    * on a miss it stashes itself and emits nothing. Unbounded state, no
    * time bound — faithfully reproduced for parity; prefer
    * [[streamStreamJoin]] (watermarked) for production, which is strictly
    * safer. Both inputs are KRecords; output value = "left|right".
    */
  def firstMatchJoin(left: Dataset[KRecord], right: Dataset[KRecord]): Dataset[KRecord] = {
    import left.sparkSession.implicits._
    val tagged = left.map(r => (r, true)).unionByName(right.map(r => (r, false)))
    tagged
      .groupByKey(_._1.key)
      .flatMapGroupsWithState[(Option[KRecord], Option[KRecord]), KRecord](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (key, records, state: GroupState[(Option[KRecord], Option[KRecord])]) =>
          var (l, r) = state.getOption.getOrElse((None, None))
          val out = Seq.newBuilder[KRecord]
          // arrival order within the batch approximated by ord
          records.toSeq.sortBy(_._1.ord).foreach { case (rec, isLeft) =>
            val other = if (isLeft) r else l
            other match {
              case Some(o) =>
                val joined = if (isLeft) s"${rec.value}|${o.value}"
                  else s"${o.value}|${rec.value}"
                out += KRecord(key, math.max(rec.ord, o.ord), joined)
              case None =>
                if (isLeft) l = Some(rec) else r = Some(rec)
            }
          }
          state.update((l, r))
          out.result().iterator
      }
  }

  /** J3 stream-stream join with a watermarked time bound — the reference
    * buffers both sides in unbounded in-memory maps (join/window.go:5-28,
    * never evicted); Spark bounds the buffer with the watermark +
    * join-time constraint, which is strictly safer. Outer types (which
    * the reference cannot express at all) emit the unmatched row with
    * nulls once the watermark passes the join window — i.e. when a match
    * has become impossible, not merely absent so far.
    * Both inputs must carry an event-time column named `eventTime`.
    */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      eventTime: String, delay: String, joinWindow: String,
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "right_outer", "full_outer").contains(joinType),
      s"stream-stream join supports inner/left_outer/right_outer/full_outer, got $joinType")
    val l = left.withWatermark(eventTime, delay)
    val r0 = right.withColumnRenamed(eventTime, s"r_$eventTime")
    val r = r0.withWatermark(s"r_$eventTime", delay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(s"r_$eventTime").between(
          col(eventTime) - expr(s"INTERVAL $joinWindow"),
          col(eventTime) + expr(s"INTERVAL $joinWindow")),
      joinType)
  }
}

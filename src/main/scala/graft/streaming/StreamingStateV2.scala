package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** The `transformWithState` forms of the state subsystem — Spark 4's
  * arbitrary-stateful API (typed per-key state variables, timers,
  * `MapState`). Only the operators that need that API live here:
  * [[snapshotEvery]] (processing-time timers) and [[asOfEnrich]]
  * (per-key version history in `MapState`). Latest-by-key and the
  * version-gated upsert have one implementation each, in
  * [[StreamingState]].
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider`) — which is also the provider a
  * 100 TB deployment runs anyway for changelog-checkpointed state.
  */
object StreamingStateV2 {

  /** Output of [[snapshotEvery]]: a timer-driven per-key snapshot.
    * `updatesSinceLast` is the number of records folded into the key
    * since its previous emission.
    */
  final case class Snapshot(key: String, value: String, updatesSinceLast: Long)

  /** Punctuate: periodic per-key state emission on PROCESSING-TIME timers —
    * the Kafka Streams `punctuate` capability the reference's model implies
    * but never implements (its only sweep is TTL deletion,
    * /root/reference/backend/memory/memory.go:104-117). Each key keeps the
    * latest value and a dirty-counter; the first update after an emission
    * registers a timer `interval` ahead, and when it fires the key's
    * current state is emitted ONCE (no steady-state churn: a clean key
    * registers no further timers until it is updated again).
    *
    * Timers live in the state store alongside the values — per-key,
    * partitioned, replayed from the checkpoint on recovery — so the
    * pattern holds at any key cardinality; there is no driver-side clock.
    */
  private final class SnapshotEveryProcessor(intervalMs: Long)
      extends StatefulProcessor[String, (String, Long, String), Snapshot] {
    @transient private var latest: ValueState[(Long, String)] = _
    @transient private var dirty: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      latest = getHandle.getValueState[(Long, String)](
        "latest", Encoders.product[(Long, String)], TTLConfig.NONE)
      dirty = getHandle.getValueState[Long]("dirty", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        key: String, rows: Iterator[(String, Long, String)],
        tv: TimerValues): Iterator[Snapshot] = {
      var n = if (dirty.exists()) dirty.get() else 0L
      // "latest" = highest seq, NOT iterator position: Spark does not
      // guarantee per-key row order after the groupByKey shuffle, so an
      // order-based fold would be nondeterministic across retries. With a
      // unique, monotone seq (offset / event ts) the winner is total.
      rows.foreach { case (_, seq, v) =>
        if (!latest.exists() || latest.get()._1 < seq) latest.update((seq, v))
        n += 1
      }
      // timer only on the clean→dirty transition: one pending timer per key
      if ((!dirty.exists() || dirty.get() == 0L) && n > 0)
        getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + intervalMs)
      dirty.update(n)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: String, tv: TimerValues, timer: ExpiredTimerInfo): Iterator[Snapshot] = {
      val n = if (dirty.exists()) dirty.get() else 0L
      if (n > 0 && latest.exists()) {
        dirty.update(0L)
        Iterator.single(Snapshot(key, latest.get()._2, n))
      } else Iterator.empty
    }
  }

  /** See [[SnapshotEveryProcessor]]. Input: (key, seq, value) triples —
    * `seq` is the record's arrival order (Kafka offset, event timestamp);
    * the snapshot carries the value with the HIGHEST seq seen, which is
    * deterministic across retries/partitionings where within-batch
    * iterator order is not. Supply a unique seq per key (offsets are);
    * on a tie the first-stored value is kept.
    */
  def snapshotEvery(
      ds: Dataset[(String, Long, String)], interval: Duration): Dataset[Snapshot] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(
        new SnapshotEveryProcessor(interval.toMillis),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Input to [[asOfEnrich]]: table-side rows (`isTable = true`) carry a
    * versioned value for the key; event-side rows query the state as of
    * their own timestamp.
    */
  final case class AsOfInput(key: String, ts: Long, value: String, isTable: Boolean)

  /** Output of [[asOfEnrich]]: the event row plus the table value that was
    * current at the event's timestamp (None = no version at or before it).
    */
  final case class AsOfMatch(key: String, ts: Long, value: String, asOf: Option[String])

  /** Streaming point-in-time (as-of) enrichment — the STREAMING form of
    * the reference's JoinKTable, which it declares but panics on
    * (/root/reference/kstream/k_stream.go:518-520), and the continuous
    * twin of [[graft.operators.Temporal.asOfJoin]] / `KTable.joinAsOf`.
    *
    * Table-side records upsert (ts → value) into per-key `MapState` — the
    * key's version history, partitioned across executors by the state
    * store, never on the driver. Event-side records answer "latest version
    * at or before my timestamp" against that history. Within a batch,
    * records apply in timestamp order (the same per-key sequential
    * semantics the reference's worker pool provides via key routing).
    *
    * `retainVersions` caps history per key (oldest evicted) — version
    * history can't grow unboundedly at 100 TB; the cap is the analog of
    * changelog compaction.
    */
  private final class AsOfEnrichProcessor(retainVersions: Int)
      extends StatefulProcessor[String, AsOfInput, AsOfMatch] {
    @transient private var versions: MapState[Long, String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      versions = getHandle.getMapState[Long, String](
        "versions", Encoders.scalaLong, Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[AsOfInput], tv: TimerValues): Iterator[AsOfMatch] = {
      val out = Seq.newBuilder[AsOfMatch]
      // Secondary key: at an equal timestamp, table upserts apply BEFORE
      // events (false < true, so isTable sorts first via negation). Without
      // it, a same-ts table/event pair in one batch would resolve by Spark's
      // unspecified iterator order — nondeterministic across retries. The
      // chosen rule matches the cross-batch behavior, where the asOf probe
      // (`version.ts <= event.ts`) already sees same-ts versions.
      rows.toSeq.sortBy(r => (r.ts, !r.isTable)).foreach { r =>
        if (r.isTable) {
          versions.updateValue(r.ts, r.value)
          val all = versions.keys().toSeq
          if (all.size > retainVersions)
            all.sorted.dropRight(retainVersions).foreach(versions.removeKey)
        } else {
          val asOf = versions.iterator()
            .filter(_._1 <= r.ts)
            .foldLeft(Option.empty[(Long, String)]) {
              case (acc, kv) if acc.forall(_._1 <= kv._1) => Some(kv)
              case (acc, _)                               => acc
            }
          out += AsOfMatch(key, r.ts, r.value, asOf.map(_._2))
        }
      }
      out.result().iterator
    }
  }

  def asOfEnrich(ds: Dataset[AsOfInput], retainVersions: Int = 1000): Dataset[AsOfMatch] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .transformWithState(
        new AsOfEnrichProcessor(retainVersions), TimeMode.None(), OutputMode.Append())
  }
}

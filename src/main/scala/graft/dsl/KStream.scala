package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.state.{StoreRegistry, Upserts}

/** Spark-native KStream: the reference's streaming DSL
  * (`/root/reference/kstream/k_stream.go:36-50`) re-expressed as DataFrame
  * combinators. Works identically over a batch DataFrame (for the DuckDB
  * oracle) and a streaming one (`spark.readStream`): every operator is a
  * lazy logical-plan transformation, so Catalyst plans/fuses them and
  * inserts shuffles only where a changed key meets a keyed operator —
  * exactly where the reference inserts repartition topics
  * (k_stream.go:422-516), but without the extra Kafka round-trip.
  *
  * `keyCols` names the record key (the reference's `Record.Key`,
  * data/record.go:33-42); `keyChanged` mirrors the reference's
  * `keySelected` flag (k_stream.go:297,333) — informational here, since
  * Catalyst's EnsureRequirements re-co-partitions automatically.
  */
final class KStream private (
    val toDF: DataFrame,
    val keyCols: Seq[String],
    val keyChanged: Boolean) {

  private def next(df: DataFrame): KStream = new KStream(df, keyCols, keyChanged)

  // ── Stateless record operators (SURVEY §2.2) ────────────────────────────

  /** P1 Filter — processors/filter.go:72-90. */
  def filter(p: Column): KStream = next(toDF.filter(p))

  /** Inverse filter; NULL predicate = not-matched = kept (the reference's
    * predicate can only drop on an explicit `true`).
    */
  def filterNot(p: Column): KStream = next(toDF.filter(!coalesce(p, lit(false))))

  /** P3 TransformValue (mapValues) — processors/value_transformer.go:54-70.
    * Key columns may not be touched (key + partitioning unchanged ⇒ no
    * shuffle, matching the reference's no-repartition guarantee).
    */
  def transformValues(cols: (String, Column)*): KStream = {
    require(cols.forall(c => !keyCols.contains(c._1)),
      s"transformValues must not modify key columns $keyCols; use transform/selectKey")
    next(toDF.withColumns(cols.toMap))
  }

  /** P4 SelectKey — processors/key_selector.go:54-70. Marks key changed. */
  def selectKey(name: String, k: Column): KStream =
    new KStream(toDF.withColumn(name, k), Seq(name), true)

  /** P2 Transform (map key and value) — processors/transformer.go:54-70.
    * Marks key changed (k_stream.go:333).
    */
  def transform(newKey: (String, Column), values: (String, Column)*): KStream =
    new KStream(
      toDF.withColumns((newKey +: values).toMap),
      Seq(newKey._1), true)

  /** Full projection form of Transform: output schema = exactly `cols`. */
  def transformTo(newKeys: Seq[String], cols: (String, Column)*): KStream =
    new KStream(
      toDF.select(cols.map { case (n, c) => c.as(n) }.toIndexedSeq: _*),
      newKeys, true)

  /** P5 Process — side-effecting pass-through (processors/processor.go:41-56).
    * The record continues downstream unchanged. Runs on executors at action
    * time; breaks whole-stage codegen for this one stage, so use only where
    * the side effect is genuinely needed (parity op).
    */
  def process(f: Row => Unit): KStream = {
    val enc = Encoders.row(toDF.schema)
    next(toDF.mapPartitions { it => it.map { r => f(r); r } }(enc))
  }

  /** P6 Branch — ordered predicates, record goes to the FIRST matching
    * branch only (branch/branch.go:65-86: `break` after first match);
    * non-matching records are dropped. Branch i keeps rows where
    * `p_i AND NOT p_1 … AND NOT p_{i-1}` (NULL = not matched).
    *
    * Cost: each branch is its own filter over this stream, so a topology
    * that uses N branches scans the source N times (a streaming query's
    * `numInputRows` counts each record N times). [[branchTag]] tags each
    * record in one scan instead.
    */
  def branch(preds: Column*): Seq[KStream] =
    preds.zipWithIndex.map { case (p, i) =>
      val excl = preds.take(i).foldLeft(p.eqNullSafe(true)) {
        (acc, prev) => acc && !prev.eqNullSafe(true)
      }
      next(toDF.filter(excl))
    }.toSeq

  /** Single-pass branch: tags each row with the index of the first matching
    * predicate (NULL if none) — one scan instead of N.
    */
  def branchTag(tagCol: String, preds: Column*): KStream = {
    val tag = preds.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (p, i)) => when(acc.isNotNull, acc).when(p.eqNullSafe(true), lit(i))
    }
    next(toDF.withColumn(tagCol, tag))
  }

  /** Merge (union) of two streams — the Kafka Streams `merge` verb the
    * reference's README advertises (README.md:20) but never implemented.
    */
  def merge(other: KStream): KStream = next(toDF.unionByName(other.toDF))

  // ── Repartition / sinks / state (SURVEY §2.1) ───────────────────────────

  /** S3 Through — explicit repartition point (k_stream.go:540-556). The
    * reference writes to an intermediate topic and re-reads; on Spark this
    * is just a hash repartition on the key (one shuffle, no I/O round-trip).
    */
  def through(numPartitions: Option[Int] = None): KStream = {
    val keys = keyCols.map(toDF.col).toIndexedSeq
    val df = numPartitions match {
      case Some(n) => toDF.repartition(n, keys: _*)
      case None    => toDF.repartition(keys: _*)
    }
    new KStream(df, keyCols, false)
  }

  /** S4 Materialize — upsert latest-by-key into a named store AND forward
    * the stream downstream unchanged (k_stream.go:558-573,
    * processors/materializer.go:25-94). The store is the keyed store of
    * [[StoreRegistry.upsert]]: the row with the greatest `ord` (e.g. the
    * offset column) per key. A later call on the same name merges into
    * that store rather than replacing it, and a frame whose columns differ
    * from the store's fails naming the column. Each call runs one Spark
    * job and keeps the new version's rows (an eager snapshot, not a lazy
    * view). Keys compare by their bytes, as the reference's `[]byte` keys
    * do, so a float key column is refused. The optimistic-versioning form
    * (materializer.go:65-80: the greatest version wins, ties keep the
    * earliest arrival) is `ord = Seq(version, -arrival)`.
    *
    * A streaming frame is refused: each micro-batch is upserted from
    * `writeStream.foreachBatch` instead.
    */
  def materialize(registry: StoreRegistry, storeName: String, ord: Seq[Column]): KStream = {
    require(!toDF.isStreaming, s"materialize($storeName) takes a batch frame: upsert each " +
      "micro-batch of a stream with writeStream.foreachBatch and StoreRegistry.upsert")
    registry.upsert(storeName, toDF, keyCols, ord)
    this
  }

  // ── Joins (SURVEY §2.3) ─────────────────────────────────────────────────

  /** Typed view of the stream (Dataset API) when a case class models the
    * record.
    */
  def as[T: org.apache.spark.sql.Encoder]: org.apache.spark.sql.Dataset[T] = toDF.as[T]

  /** The stream's topology, rendered — the Spark analog of the reference's
    * Graphviz topology dump (kstream/builder.go:181-188, graph/graph.go):
    * here it is the actual optimized physical plan, not a picture of the
    * authored one.
    */
  def describe(): String =
    toDF.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  /** S2 To — frame the stream for a sink (the reference's terminal
    * `stream.To(topic, ...)`, k_stream.go:575-610): key/value projection,
    * optional tombstone predicate, headers, and partitioner convention
    * (None = hash-by-key default, Some = manual — producer/config.go:46-56).
    * See [[graft.io.KafkaIO.sinkFrame]]; in production the result feeds
    * `writeStream.format("kafka")` unchanged.
    */
  def to(
      keyExpr: Column, valueExpr: Column,
      tombstoneWhen: Option[Column] = None,
      headers: Option[Column] = None,
      partition: Option[Column] = None): DataFrame =
    graft.io.KafkaIO.sinkFrame(toDF, keyExpr, valueExpr, tombstoneWhen, headers,
      partition)

  /** J1/J2 JoinGlobalTable — see [[KGlobalTable.join]]. `fk` is the
    * reference's KeyMapper output (join/joiner.go:20).
    */
  def joinGlobalTable(table: KGlobalTable, fk: Column, joinType: String = "inner"): KStream =
    next(table.join(toDF, fk, joinType))

  /** J6 star join — multi-table enrichment in one call (the reference's
    * global_table_star_joiner.go is fully commented out; here it is just a
    * fold of broadcast joins, which Catalyst plans as a chain of
    * BroadcastHashJoins with no shuffle on the stream side).
    */
  def starJoin(tables: (KGlobalTable, Column)*): KStream =
    tables.foldLeft(this) { case (s, (table, fk)) => s.joinGlobalTable(table, fk) }

  /** J3 JoinStream (stream-stream) batch form: equi-join where each left
    * record pairs with at most ONE right record (the reference's buffer
    * emits the single stashed entry per key — join/side_joiner.go:54-97,
    * join/window.go:5-28). We pick the FIRST right record per key by
    * `rightOrd` (deterministic, vs the reference's arrival order).
    * The dedup is a partial-agg `min_by`, then one shuffled equi-join.
    */
  def joinStream(
      right: KStream, rightOrd: Seq[Column], joinType: String = "inner"): KStream = {
    require(keyCols.size == right.keyCols.size, "key arity mismatch")
    val dedupedRight = Upserts.firstByKey(right.toDF, right.keyCols, rightOrd)
    val cond = keyCols.zip(right.keyCols)
      .map { case (l, r) => toDF.col(l) === dedupedRight.col(r) }
      .reduce(_ && _)
    next(toDF.join(dedupedRight, cond, joinType))
  }
}

object KStream {
  /** S1 source — any DataFrame (batch parquet, Kafka readStream, …) with
    * designated key columns (builder.Stream, kstream/builder.go:197-224).
    */
  def apply(df: DataFrame, keyCols: String*): KStream =
    new KStream(df, keyCols.toSeq, false)
}

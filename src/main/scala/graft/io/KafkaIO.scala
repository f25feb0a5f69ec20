package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kafka-shaped source/sink column conventions
  * (`/root/reference/data/record.go:33-42` ↔ Spark's Kafka source schema:
  * key binary, value binary, topic, partition, offset, timestamp, headers).
  * These helpers are pure column transforms, so the same code serves
  * `spark.readStream.format("kafka")` in production and plain DataFrames in
  * tests/batch verification.
  */
object KafkaIO {

  /** S1 decode: kSource turns wire bytes into typed key/value
    * (kstream/k_source.go:51-67). `keyExpr`/`valueExpr` play the role of the
    * reference's Encoder.Decode (encoding/encoder.go:10-15) — e.g.
    * `from_json(col("value").cast("string"), schema)` for a JSON topic.
    *
    * `valueExpr` runs exactly once per record, whatever filters or branches
    * sit above the decoded frame. Left as a plain projection, Catalyst's
    * predicate pushdown would copy it into every predicate that reads a
    * decoded field, so each `branch` leg's and `filter`'s condition would
    * parse the record again, and the leg's projection once more. `value`
    * therefore passes through a one-row generator: no predicate on a
    * generator's output is pushed below it. `array(value)` is never null,
    * so every record yields exactly one row, a NULL value (a tombstone)
    * and an undecodable one included. The decoder stays in the projection
    * beneath the generator, not in its expression, which keeps the
    * generator in whole-stage codegen.
    */
  def decode(raw: DataFrame, keyExpr: Column, valueExpr: Column): DataFrame =
    raw.withColumn("key", keyExpr).withColumn("value", valueExpr)
      .withColumn("value", explode(array(col("value"))))

  /** S2 sink framing: KSink encodes key/value and applies the tombstone
    * filter — a record whose tombstone predicate fires is produced with a
    * NULL value (a Kafka delete marker), k_sink.go:195-249 (tombstoner at
    * 230-240). `headers` is an optional array<struct<key,value>> column.
    *
    * Partitioner convention (producer/producer.go:52-58, config.go:46-56):
    * the reference's producer has three modes — HashBased (default),
    * Manual, Random. Omitting `partition` is HASH mode: the frame carries
    * no `partition` column and the Kafka producer's default hash
    * partitioner routes by key (same key → same partition — the mode every
    * keyed topology relies on for co-partitioned state). Passing
    * `partition` is MANUAL mode (`sarama.NewManualPartitioner`; the
    * reference reads `message.Partition`, producer.go:137-139): the column
    * projects as an explicit int `partition` that Spark's Kafka sink and
    * [[WireLog.append]] both honor verbatim. Random mode is a partitioner
    * choice, not a frame property — pass
    * `partition = Some(`[[partitionRandom]]`(n))` to get it explicitly.
    */
  def sinkFrame(
      df: DataFrame, keyExpr: Column, valueExpr: Column,
      tombstoneWhen: Option[Column] = None,
      headers: Option[Column] = None,
      partition: Option[Column] = None): DataFrame = {
    val value = tombstoneWhen match {
      case Some(t) => when(t.eqNullSafe(true), lit(null)).otherwise(valueExpr)
      case None    => valueExpr
    }
    // headers/partition must project in the SAME select — they reference
    // source columns that the key/value projection drops
    df.select((Seq(keyExpr.as("key"), value.as("value")) ++
      headers.map(_.as("headers")) ++
      partition.map(_.cast("int").as("partition"))).toIndexedSeq: _*)
  }

  /** HashBased partitioner as an explicit column (what the broker-side
    * default computes implicitly): partition = hash(key) mod n, stable
    * and key-affine like `sarama.NewHashPartitioner` (FNV-1a mod n) —
    * same key always lands on the same partition, though the concrete
    * hash differs from sarama's (both are opaque conventions; only
    * affinity is contractual). Null keys spread by value hash — sarama
    * falls back to random for nil keys; a deterministic spread keeps the
    * sink retry-safe.
    */
  def partitionByHash(key: Column, numPartitions: Int): Column = {
    require(numPartitions > 0, s"numPartitions must be > 0, got $numPartitions")
    pmod(xxhash64(key.cast("binary")), lit(numPartitions.toLong)).cast("int")
  }

  /** Random partitioner (`sarama.NewRandomPartitioner`): an even,
    * non-key-affine spread. `rand()` re-draws on task retry exactly as the
    * reference's random partitioner re-draws on reproduce — randomness,
    * not placement, is the contract.
    */
  def partitionRandom(numPartitions: Int): Column = {
    require(numPartitions > 0, s"numPartitions must be > 0, got $numPartitions")
    floor(rand() * numPartitions).cast("int")
  }

  /** Source-side header read (`data/record.go:17-31` RecordHeaders.Read):
    * the value of the FIRST header named `name`, NULL when absent —
    * evaluated over the Kafka source's `headers` column
    * (array<struct<key,value>>). The reference's `All()` is the headers
    * column itself; this is the point accessor for filter/extract.
    */
  def headerValue(headers: Column, name: String): Column =
    // get(), not getItem(0): no match must read as NULL, not an ANSI
    // out-of-bounds error
    get(filter(headers, h => h.getField("key") === lit(name)), lit(0))
      .getField("value")

  /** True when a header named `name` is present (even with a NULL value —
    * matching the reference, where Read returns nil for both "absent" and
    * "present with nil value" but iteration distinguishes them).
    */
  def hasHeader(headers: Column, name: String): Column =
    exists(headers, h => h.getField("key") === lit(name))

  /** GlobalTable bootstrap mode (`kstream/global_table.go:20-29`): the
    * reference's `GlobalTableOffsetDefault` replays the topic from the
    * beginning; `GlobalTableOffsetLatest` skips history ("suitable for
    * topics with retention policy delete"). On Spark's Kafka source the
    * same switch is the `startingOffsets` option on the table's read —
    * pass the returned map to `.options(...)`.
    */
  def tableStartingOffsets(skipHistory: Boolean): Map[String, String] =
    Map("startingOffsets" -> (if (skipHistory) "latest" else "earliest"))

  /** S6 DLQ split: records failing validation go to a dead-letter frame
    * instead of aborting the pipeline (kstream/dlq/dlq.go:14-87). Returns
    * (ok, dead); dead rows carry the failure reason like the DLQ topic's
    * payload. NULL validation = failed (the reference DLQs on any error).
    */
  def dlqSplit(df: DataFrame, valid: Column, reason: Column): (DataFrame, DataFrame) = {
    val ok = df.filter(valid.eqNullSafe(true))
    val dead = df.filter(!valid.eqNullSafe(true)).withColumn("dlq_reason", reason)
    (ok, dead)
  }
}

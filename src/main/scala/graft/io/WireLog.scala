package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.state.Upserts

/** A replayable, file-backed log speaking the Kafka WIRE contract — every
  * frame carries exactly the reference's record shape
  * (`/root/reference/data/record.go:33-42`: `Key, Value []byte; Topic
  * string; Partition int32; Offset int64; Timestamp; Headers`), which is
  * also Spark's own Kafka source schema, so a topology built against this
  * shim moves to `spark.readStream.format("kafka")` by swapping ONE reader
  * call — every downstream column reference is identical.
  *
  * Purpose: this container has no broker and no `spark-sql-kafka` jar, so
  * the reference's core consume→process→produce loop
  * (`consumer/group_handler.go:70-113` building a `data.Record` per
  * message, `producer/producer.go:117-154` writing one back) cannot run
  * against live Kafka here. The shim makes that loop TESTABLE end-to-end:
  * [[append]] is the producer (offset assignment per topic-partition,
  * partitioner modes per `producer/config.go:46-56`), [[readStream]] the
  * consumer group (ordered per-partition replay, one appended segment per
  * micro-batch — a poll), with full-fidelity binary key/value, headers and
  * tombstones.
  *
  * Log layout: flat parquet files `seg-NNNNNN-*.parquet` under `dir`; one
  * [[append]] = one segment = one micro-batch on replay (the file source
  * delivers files oldest-first; `maxFilesPerTrigger=1` pins the
  * one-segment-per-batch equivalence). Offsets are contiguous per
  * (topic, partition) across segments — exactly a broker partition's log —
  * assigned with a per-partition `row_number` continued from the log's
  * current end offsets. Finding those scans the `offset` column of every
  * segment so far, so its cost grows with the log; only its result, one
  * row per (topic, partition), is bounded, and it never comes to the
  * driver.
  *
  * Scale note: the per-partition offset window shuffles one append's rows
  * by (topic, partition) — inherent to the contract being modeled (a Kafka
  * partition IS a sequentially-numbered log; the broker serializes the
  * same way). Appends are micro-batch-sized in the streaming loop, so the
  * window never sees more than one trigger's data. At production scale the
  * shim is replaced by the real Kafka source and the broker does this.
  */
object WireLog {

  /** `data/record.go:33-42` ↔ Spark Kafka source columns. Header key is a
    * string (Spark's Kafka convention; sarama's `[]byte` keys are UTF-8
    * header names in practice — `RecordHeaders.Read` compares them as
    * names, `data/record.go:19-27`).
    */
  val headerType: ArrayType =
    ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType))))

  /** All fields nullable — matching BOTH Spark's Kafka source (which
    * declares every column nullable) and what a parquet file scan reports,
    * so `schema === recordSchema` holds wherever the frame came from.
    * Non-nullness of topic/partition/offset is an invariant [[append]]
    * maintains, not a schema claim.
    */
  val recordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType), // null = tombstone (delete marker)
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("headers", headerType)))

  /** Produce a frame of records into the log — the
    * `producer/producer.go:117-154` side. `frame` must carry `key` and
    * `value` (binary or castable), `topic`, and optionally:
    *
    *   - `partition` — MANUAL mode (`sarama.NewManualPartitioner`,
    *     `producer/config.go:46-48`): honored verbatim (must be in
    *     [0, numPartitions)). Absent ⇒ HASH mode (the default,
    *     config.go:50-52): [[KafkaIO.partitionByHash]] of the key.
    *   - `timestamp` — record time; absent ⇒ the producer stamps
    *     `current_timestamp()` (producer.go:122 stamps `time.Now()` when
    *     the record has none).
    *   - `headers` — `array<struct<key:string, value:binary>>`; absent ⇒
    *     empty.
    *
    * Within an append, per-partition order follows `orderBy` (e.g. a
    * sequence column); required when the append has >1 row per partition
    * so offsets are well-defined (a DataFrame has no intrinsic order).
    */
  def append(
      spark: SparkSession, dir: String, frame: DataFrame,
      numPartitions: Int = 1, orderBy: Seq[Column] = Nil): Unit = {
    require(numPartitions > 0, s"numPartitions must be > 0, got $numPartitions")
    val cols = frame.columns.toSet
    require(cols.contains("key") && cols.contains("value") && cols.contains("topic"),
      s"append frame needs key/value/topic columns, got ${frame.columns.mkString(",")}")

    val withPartition =
      if (cols.contains("partition")) // manual mode: producer.go:137-139
        frame.withColumn("partition", col("partition").cast("int"))
      else frame.withColumn("partition",
        KafkaIO.partitionByHash(col("key"), numPartitions))
    val withTs =
      if (cols.contains("timestamp"))
        withPartition.withColumn("timestamp", col("timestamp").cast("timestamp"))
      else withPartition.withColumn("timestamp", current_timestamp())
    val withHeaders =
      if (cols.contains("headers")) withTs
      else withTs.withColumn("headers", array().cast(headerType))

    // end offset per (topic, partition): reads every segment's offset
    // column, yields one row per partition
    val ends = endOffsets(spark, dir)
    val ord = if (orderBy.nonEmpty) orderBy else Seq(xxhash64(col("key")))
    val w = Window.partitionBy(col("topic"), col("partition")).orderBy(ord: _*)
    val numbered = withHeaders
      .withColumn("key", col("key").cast("binary"))
      .withColumn("value", col("value").cast("binary"))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .join(broadcast(ends), Seq("topic", "partition"), "left")
      .withColumn("offset", coalesce(col("_end"), lit(-1L)) + col("_rn"))
      .select(recordSchema.fieldNames.map(col).toIndexedSeq: _*)

    val logDir = Paths.get(dir)
    Files.createDirectories(logDir)
    publishSegment(numbered, logDir, replace = false)
  }

  /** Batch read of the whole log in the full record schema (empty log ⇒
    * empty frame, same schema).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val logDir = Paths.get(dir)
    val segs = if (Files.isDirectory(logDir)) segmentFiles(logDir) else Nil
    if (segs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        recordSchema)
    else spark.read.schema(recordSchema).parquet(segs.map(_.toString): _*)
  }

  /** Streaming replay — the `consumer/group_handler.go:70-113` side: each
    * appended segment arrives as its own micro-batch (one poll), segments
    * oldest-first, and within a (topic, partition) the offsets are the
    * total order exactly as a consumer claim's `c.Messages()` channel
    * yields them in offset order.
    */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    Files.createDirectories(Paths.get(dir))
    spark.readStream.schema(recordSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/seg-*.parquet")
  }

  /** Log compaction — the semantics of a Kafka COMPACTED topic, which the
    * reference's changelog and GlobalTable machinery depend on
    * (`kstream/builder.go:382-434` auto-creates changelog/repartition
    * topics with compact cleanup policy): per (topic, partition, key),
    * only the RECORD WITH THE HIGHEST OFFSET survives, keeping its
    * original offset (compaction never renumbers — consumers resume by
    * offset into a compacted log); a surviving NULL value (tombstone)
    * deletes the key entirely (the post-retention state of
    * `delete.retention.ms`, i.e. what a fresh GlobalTable bootstrap
    * observes). The compacted log occupies one segment generation and
    * replays in one micro-batch — exactly the "restore state, then
    * stream" bootstrap split (`global_table_stream.go:64-176`).
    *
    * Plan shape: [[graft.state.Upserts.latestByKey]] over (topic,
    * partition, key), one `max_by` partial aggregation — the engine's
    * latest-by-key convention (map-side combine, no window sort), so
    * compacting a 100 TB log is one shuffle of the key space.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val log = read(spark, dir)
    val ends = endOffsets(spark, dir)
    val latest = Upserts.latestByKey(log, Seq("topic", "partition", "key"), Seq(col("offset")))
      .join(broadcast(ends), Seq("topic", "partition"), "left")
      // tombstones delete their key — EXCEPT the partition's final record,
      // which is retained (tombstone or not) so the log-end offset, and
      // with it append's offset continuity, survives compaction (the
      // broker keeps the log-end offset the same way)
      .filter(col("value").isNotNull || col("offset") === col("_end"))
      .select(recordSchema.fieldNames.map(col).toIndexedSeq: _*)
    publishSegment(latest, Paths.get(dir), replace = true)
  }

  /** Stage → move: Spark writes a directory; the log wants flat,
    * lexicographically-ordered segment files so replay order is stable.
    * `frame` is written as one `coalesce(1)` job into a staging dir under
    * `logDir`, and its part files move in, in name order, as the next
    * segment. `replace` (compaction's swap) deletes every old segment
    * once the write has succeeded and publishes the new generation as
    * segment 0. The staging dir is removed either way.
    */
  private def publishSegment(frame: DataFrame, logDir: Path,
      replace: Boolean): Unit = {
    val segNo = if (replace) 0 else segmentFiles(logDir).size
    val staging = Files.createTempDirectory(logDir, ".staging")
    try {
      frame.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val parts = Files.list(staging).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      if (replace) segmentFiles(logDir).foreach(Files.delete(_))
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.move(p, logDir.resolve(f"seg-$segNo%06d-$i%03d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
    } finally {
      Files.walk(staging).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  private def segmentFiles(logDir: Path): Seq[Path] =
    Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.matches("seg-\\d{6}-\\d{3}\\.parquet"))
      .toSeq.sortBy(_.getFileName.toString)

  /** Current end offset per (topic, partition) as `_end` — what the broker
    * knows as the log-end offset. It aggregates the `offset` column of
    * every segment in the log; only the result is one row per partition.
    */
  private def endOffsets(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir).groupBy("topic", "partition")
      .agg(max("offset").as("_end"))
}

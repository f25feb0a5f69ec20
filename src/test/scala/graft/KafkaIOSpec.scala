package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{KafkaIO, WireLog}

/** Producer/partitioner conventions and the wire-shaped log — the
  * reference's produce path (`/root/reference/producer/producer.go:117-196`,
  * partitioner modes `producer/config.go:46-56`) against [[WireLog]]'s
  * full `data/record.go:33-42` record schema.
  */
class KafkaIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_wirelog").toString

  test("hash partitioner: key-affine, stable, in range — the HashBased default") {
    val df = (1L to 200L).map(i => (s"k${i % 17}", s"v$i")).toDF("key", "value")
    val parts = df.select(col("key"),
        KafkaIO.partitionByHash(col("key"), 8).as("p"))
      .distinct().as[(String, Int)].collect()
    // in range, and ONE partition per key (affinity — the property keyed
    // topologies rely on for co-partitioned state)
    assert(parts.forall(p => p._2 >= 0 && p._2 < 8))
    assert(parts.groupBy(_._1).forall(_._2.length == 1))
    // stable across evaluations
    val again = df.select(col("key"),
        KafkaIO.partitionByHash(col("key"), 8).as("p"))
      .distinct().as[(String, Int)].collect().toSet
    assert(again === parts.toSet)
    // uses more than one partition (spread, not constant)
    assert(parts.map(_._2).distinct.length > 1)
  }

  test("manual partitioner: sinkFrame projects the explicit partition verbatim") {
    // producer.go:137-139 — manual mode reads message.Partition
    val df = Seq((1L, "a", 3), (2L, "b", 0), (3L, "c", 3))
      .toDF("k", "v", "target")
    val framed = KafkaIO.sinkFrame(df,
      keyExpr = col("k").cast("string"), valueExpr = col("v"),
      partition = Some(col("target")))
    assert(framed.columns.toSeq === Seq("key", "value", "partition"))
    val got = framed.as[(String, String, Int)].collect().toSet
    assert(got === Set(("1", "a", 3), ("2", "b", 0), ("3", "c", 3)))
    // hash default: NO partition column in the frame — the producer's
    // hash partitioner owns placement (config.go:50-52)
    val hashed = KafkaIO.sinkFrame(df, col("k").cast("string"), col("v"))
    assert(!hashed.columns.contains("partition"))
  }

  test("random partitioner: in range and spread") {
    val ps = spark.range(500)
      .select(KafkaIO.partitionRandom(4).as("p")).as[Int].collect()
    assert(ps.forall(p => p >= 0 && p < 4))
    assert(ps.distinct.length === 4, "500 draws must touch all 4 partitions")
  }

  test("decode keeps every record: a tombstone and malformed JSON decode to NULL fields") {
    val dir = tmp()
    WireLog.append(spark, dir,
      Seq(("1", Some("""{"v":1}""")), ("2", None), ("3", Some("{not json")),
        ("4", Some("""{"v":4}""")))
        .toDF("key", "value").withColumn("topic", lit("t")),
      orderBy = Seq(col("key")))
    def decoded(raw: org.apache.spark.sql.DataFrame) = KafkaIO.decode(raw,
      col("key").cast("string"),
      from_json(col("value").cast("string"), StructType.fromDDL("v INT")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("value.v"), col("value").isNull)
        .as[(String, Option[Int], Boolean)].collect().sortBy(_._1).toSeq
    // a tombstone's value is NULL; from_json reads malformed JSON as a
    // struct of NULLs
    val want = Seq(("1", Some(1), false), ("2", None, true), ("3", None, false),
      ("4", Some(4), false))

    val raw = WireLog.read(spark, dir)
    assert(decoded(raw).count() === raw.count())
    assert(rows(decoded(raw)) === want)

    val q = decoded(WireLog.readStream(spark, dir))
      .writeStream.format("memory").queryName("decode_rows_sink").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("decode_rows_sink")
    assert(streamed.count() === raw.count())
    assert(rows(streamed) === want)
  }

  test("wire log append: per-partition offsets contiguous from 0 across appends") {
    val dir = tmp()
    def rec(k: String, v: String, seq: Long) =
      (k.getBytes, v.getBytes, "orders", seq)
    // append 1: two partitions' worth of records under MANUAL placement so
    // the per-partition ledger is deterministic
    WireLog.append(spark, dir,
      Seq((Array[Byte](1), "a".getBytes, "orders", 0, 10L),
        (Array[Byte](2), "b".getBytes, "orders", 1, 20L),
        (Array[Byte](3), "c".getBytes, "orders", 0, 30L))
        .toDF("key", "value", "topic", "partition", "seq"),
      numPartitions = 2, orderBy = Seq(col("seq")))
    // append 2 continues partition 0's log from where it ended
    WireLog.append(spark, dir,
      Seq((Array[Byte](4), "d".getBytes, "orders", 0, 40L))
        .toDF("key", "value", "topic", "partition", "seq"),
      numPartitions = 2, orderBy = Seq(col("seq")))

    val log = WireLog.read(spark, dir)
    assert(log.schema === WireLog.recordSchema, "full record.go:33-42 shape")
    val offs = log.select("partition", "offset", "value")
      .as[(Int, Long, Array[Byte])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // partition 0: offsets 0,1 in seq order within append 1, then 2
    assert(offs(0).map(_._2).toSeq === Seq(0L, 1L, 2L))
    assert(offs(0).map(r => new String(r._3)).toSeq === Seq("a", "c", "d"))
    // partition 1: its own independent log
    assert(offs(1).map(_._2).toSeq === Seq(0L))
    // timestamps stamped by the producer when the record has none
    // (producer.go:122 time.Now() analog)
    assert(log.filter(col("timestamp").isNull).count() === 0)
  }

  test("wire log: multiple topics keep independent per-partition offset ledgers") {
    val dir = tmp()
    def frame(rows: Seq[(String, String, String, Int, Long)]) =
      rows.toDF("k", "v", "topic", "partition", "seq")
        .select(col("k").cast("binary").as("key"),
          col("v").cast("binary").as("value"),
          col("topic"), col("partition"), col("seq"))
    // one append interleaving two topics — a consumer group subscribed to
    // both sees each (topic, partition) as its own ordered log
    WireLog.append(spark, dir, frame(Seq(
      ("a", "1", "orders", 0, 1L), ("b", "2", "payments", 0, 2L),
      ("c", "3", "orders", 0, 3L), ("d", "4", "payments", 1, 4L))),
      numPartitions = 2, orderBy = Seq(col("seq")))
    WireLog.append(spark, dir, frame(Seq(
      ("e", "5", "payments", 0, 5L), ("f", "6", "orders", 0, 6L))),
      numPartitions = 2, orderBy = Seq(col("seq")))
    val log = WireLog.read(spark, dir)
      .select(col("topic"), col("partition"), col("offset"),
        col("value").cast("string"))
      .as[(String, Int, Long, String)].collect()
      .groupBy(r => (r._1, r._2)).view
      .mapValues(_.sortBy(_._3).map(r => (r._3, r._4)).toSeq).toMap
    // each (topic, partition) ledger is contiguous from 0, in seq order,
    // unaffected by the other topic's traffic
    assert(log(("orders", 0)) === Seq((0L, "1"), (1L, "3"), (2L, "6")))
    assert(log(("payments", 0)) === Seq((0L, "2"), (1L, "5")))
    assert(log(("payments", 1)) === Seq((0L, "4")))
  }

  test("wire log streaming replay: checkpoint restart resumes at the next segment, exactly once") {
    // the consumer-group offset-commit contract (§2.6 at-least-once →
    // Spark exactly-once): a query consuming the wire log, stopped after
    // segment 1 and restarted from its checkpoint, must process segment 2
    // WITHOUT re-emitting segment 1
    val root = tmp()
    val in = s"$root/in"
    def seg(rows: (String, String)*): Unit = WireLog.append(spark, in,
      rows.toSeq.toDF("k", "v").select(col("k").cast("binary").as("key"),
        col("v").cast("binary").as("value"), lit("t").as("topic"),
        col("k").as("seq")),
      numPartitions = 1, orderBy = Seq(col("seq")))
    seg("1" -> "a", "2" -> "b")
    def start() = WireLog.readStream(spark, in)
      .select(col("key").cast("string"), col("value").cast("string"),
        col("offset"))
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    seg("3" -> "c") // arrives while the consumer is down
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(s"$root/out")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(("1", "a", 0L), ("2", "b", 1L), ("3", "c", 2L)),
      "restart must resume after the committed segment — no loss, no replay")
  }

  test("wire log compaction: latest per key at original offsets; tombstoned keys deleted; ledger survives") {
    // the compacted-topic semantics the reference's changelog/GlobalTable
    // machinery depends on (builder.go:382-434 creates compacted topics)
    val dir = tmp()
    def seg(rows: (String, Option[String], Long)*): Unit = WireLog.append(
      spark, dir,
      rows.toSeq.toDF("k", "v", "seq").select(
        col("k").cast("binary").as("key"),
        col("v").cast("binary").as("value"),
        lit("state").as("topic"), lit(0).as("partition"), col("seq")),
      numPartitions = 1, orderBy = Seq(col("seq")))
    seg(("a", Some("a1"), 1L), ("b", Some("b1"), 2L), ("c", Some("c1"), 3L))
    seg(("a", Some("a2"), 4L), ("b", None, 5L)) // b tombstoned
    WireLog.compact(spark, dir)
    val got = WireLog.read(spark, dir)
      .select(col("key").cast("string"), col("value").cast("string"), col("offset"))
      .as[(String, Option[String], Long)].collect().sortBy(_._1)
    // latest value per key at its ORIGINAL offset; b gone entirely —
    // except b's tombstone IS the partition's final record (offset 4),
    // which is retained so the log-end offset survives
    assert(got.toSeq === Seq(
      ("a", Some("a2"), 3L), ("b", None, 4L), ("c", Some("c1"), 2L)))
    // append continuity: the next produce continues from the pre-compact
    // log end — offsets are never reused
    seg(("d", Some("d1"), 6L))
    val after = WireLog.read(spark, dir)
      .select(col("key").cast("string"), col("offset"))
      .as[(String, Long)].collect().toMap
    assert(after("d") === 5L, s"offset must continue past the compacted end: $after")
    // a GlobalTable bootstrap from the compacted log equals latest-by-key
    // of the FULL history (tombstone = no row)
    val bootstrap = WireLog.read(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toMap
    assert(bootstrap === Map("a" -> "a2", "c" -> "c1", "d" -> "d1"))
    // one segment generation: the compacted log replays as one micro-batch
    // plus one for the post-compact append
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("seg-")) === 2)
  }

  test("wire log hash mode + tombstone + headers round-trip bit-exact") {
    val dir = tmp()
    val framed = KafkaIO.sinkFrame(
      Seq((7L, "alive", false, "t-1"), (8L, "gone", true, "t-2"))
        .toDF("id", "payload", "deleted", "trace"),
      keyExpr = col("id").cast("string"),
      valueExpr = col("payload"),
      tombstoneWhen = Some(col("deleted")),
      headers = Some(array(struct(lit("trace").as("key"),
        col("trace").cast("binary").as("value")))))
    WireLog.append(spark, dir,
      framed.withColumn("topic", lit("messages")),
      numPartitions = 4, orderBy = Seq(col("key")))

    val back = WireLog.read(spark, dir)
    assert(back.schema === WireLog.recordSchema)
    val rows = back.select(col("key").cast("string"), col("value").cast("string"),
        KafkaIO.headerValue(col("headers"), "trace").cast("string"))
      .as[(String, Option[String], String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows("7") === ((Some("alive"), "t-1")))
    // the tombstone survives as a NULL value — a Kafka delete marker,
    // k_sink.go:230-240
    val gone = back.filter(col("key").cast("string") === "8")
      .select(col("value"), KafkaIO.headerValue(col("headers"), "trace").cast("string"))
      .as[(Option[Array[Byte]], String)].head()
    assert(gone._1.isEmpty && gone._2 === "t-2")
    // hash placement: both rows landed in [0, 4) and key-affinity holds on
    // a re-produce of the same keys
    val placed = back.select(col("key").cast("string"), col("partition"))
      .as[(String, Int)].collect().toMap
    assert(placed.values.forall(p => p >= 0 && p < 4))
    WireLog.append(spark, dir, framed.withColumn("topic", lit("messages")),
      numPartitions = 4, orderBy = Seq(col("key")))
    val placed2 = WireLog.read(spark, dir)
      .select(col("key").cast("string"), col("partition"))
      .as[(String, Int)].collect().groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(placed2.values.forall(_.length === 1),
      "re-producing the same key must land on the same partition")
  }
}

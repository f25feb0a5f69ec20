package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.dsl.KGlobalTable
import graft.streaming.{GlobalTableRefresh, MetricsListener, Resilience}

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("GlobalTable refreshes between micro-batches (§3.3 continuous sync)") {
    @volatile var dim = Seq((1, "v1")).toDF("k", "name")
    val collected = mutable.Buffer.empty[(Int, String)]
    val mem = MemoryStream[Int]
    val q = GlobalTableRefresh.enrichEachBatch(
      mem.toDF().toDF("fk"),
      () => KGlobalTable.fromStatic(dim, "k"),
      col("fk")) { (batch, _) =>
        collected.synchronized {
          collected ++= batch.select("fk", "name").as[(Int, String)].collect()
        }
      }.start()
    try {
      mem.addData(1)
      q.processAllAvailable()
      dim = Seq((1, "v2")).toDF("k", "name") // table advances between batches
      mem.addData(1)
      q.processAllAvailable()
    } finally q.stop()
    assert(collected.toSeq === Seq((1, "v1"), (1, "v2")))
  }

  test("KStream DSL composes unchanged on a STREAMING frame (example_1 topology)") {
    // the reference's example_1 shape — filter → branch-tag → global-table
    // join → sink frame — built with the SAME combinators the batch
    // queries use, applied to a readStream-style source. Proves the DSL
    // carries no batch-only operations.
    import graft.dsl.{KGlobalTable, KStream}
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Double)]
    val accounts = KGlobalTable.fromStatic(
      Seq((10L, "savings"), (20L, "checking")).toDF("acct", "kind"), "acct")
    val out = KStream(mem.toDF().toDF("txn_id", "acct_fk", "amount"), "txn_id")
      .filter(col("amount") > 0)
      .branchTag("size", col("amount") >= 100, col("amount") < 100)
      .joinGlobalTable(accounts, col("acct_fk"))
      .to(keyExpr = col("txn_id"), valueExpr = to_json(struct(col("kind"), col("size"))))
    assert(out.isStreaming, "topology must stay a streaming frame")
    val q = out.writeStream.format("memory").queryName("dsl_stream_sink").start()
    try {
      mem.addData((1L, 10L, 250.0), (2L, 20L, 5.0), (3L, 10L, -7.0), (4L, 99L, 50.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dsl_stream_sink")
      .select(col("key").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect().toMap
    assert(rows.keySet === Set("1", "2")) // -7 filtered, 99 has no account
    assert(rows("1").contains("\"savings\"") && rows("1").contains("\"size\":0"))
    assert(rows("2").contains("\"checking\"") && rows("2").contains("\"size\":1"))
  }

  test("example_1 banking topology end-to-end: one streaming query, checkpoint restart mid-stream") {
    // the COMPLETE example_1 shape (/root/reference/examples/example_1/
    // stream/init.go:24-89, account_credited.go:24-40, account_debited.go):
    // transaction stream → first-match branch (credited/debited) →
    // timestamp filter → global-table join #1 (account details → message,
    // key-mapped to customer id) → global-table join #2 (profile enrich) →
    // merge → tombstone-aware sink — ONE streaming query against a durable
    // sink, stopped and restarted from its checkpoint mid-stream. The
    // batch twin with a DuckDB oracle is q_example1_pipeline.
    import graft.dsl.{KGlobalTable, KStream}
    val dir = java.nio.file.Files.createTempDirectory("graft_ex1").toString
    // (txn_id, type, account_no, amount, ts_ms)
    val mem = MemoryStream[(Long, String, Long, Double, Long)]
    val accountDetails = KGlobalTable.fromStatic(
      Seq((100L, 7L, "active"), (200L, 8L, "active"), (300L, 9L, "closed"))
        .toDF("acct_no", "customer_id", "status"), "acct_no")
    val profiles = KGlobalTable.fromStatic(
      Seq((7L, "alice", "a@x.io"), (8L, "bob", "b@x.io"), (9L, "carol", "c@x.io"))
        .toDF("cust_id", "name", "email"), "cust_id")
    val cutoffMs = 1700000000000L // filterFromTimestamp's "too old" gate

    val src = KStream(
      mem.toDF().toDF("txn_id", "typ", "acct_fk", "amount", "ts_ms"), "txn_id")
    val Seq(credited, debited) = src.branch(
      col("typ") === "credit", col("typ") === "debit")
    def leg(s: KStream, verb: String): KStream = s
      .filter(col("ts_ms") >= cutoffMs)
      .joinGlobalTable(accountDetails, col("acct_fk"))
      .transformValues("text" -> concat(
        lit("Your a/c "), col("acct_fk"), lit(s" is $verb with "),
        floor(col("amount") * 100 + 0.5).cast("long"), lit(" cents")))
      .joinGlobalTable(profiles, col("customer_id"))
    val out = leg(credited, "credited").merge(leg(debited, "debited"))
      .to(
        keyExpr = col("txn_id"),
        valueExpr = concat(col("text"), lit(" ("), col("name"), lit(", "),
          col("email"), lit(")")),
        tombstoneWhen = Some(col("status") === "closed"))
    assert(out.isStreaming, "the full example_1 topology must stay one streaming frame")

    def start() = out.writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()

    // phase 1: credited + debited flow; stale and unknown-account drop
    val q1 = start()
    try {
      mem.addData(
        (1L, "credit", 100L, 2.5, cutoffMs + 1000),
        (2L, "debit", 200L, 10.0, cutoffMs + 2000),
        (3L, "credit", 100L, 99.0, cutoffMs - 1), // too old → filtered
        (4L, "credit", 999L, 5.0, cutoffMs + 3000)) // no account row → dropped
      q1.processAllAvailable()
    } finally q1.stop()

    // phase 2: restart from the checkpoint; closed account → tombstone
    val q2 = start()
    try {
      mem.addData(
        (5L, "debit", 300L, 7.0, cutoffMs + 4000), // closed → NULL value
        (6L, "credit", 200L, 1.25, cutoffMs + 5000))
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = spark.read.parquet(s"$dir/out")
      .select(col("key").cast("long"), col("value"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    // exactly once across the restart: no loss, no replay of phase 1
    assert(rows.map(_._1) === Seq(1L, 2L, 5L, 6L))
    assert(rows.toMap.apply(1L) ===
      Some("Your a/c 100 is credited with 250 cents (alice, a@x.io)"))
    assert(rows.toMap.apply(2L) ===
      Some("Your a/c 200 is debited with 1000 cents (bob, b@x.io)"))
    assert(rows.toMap.apply(5L) === None) // tombstone: Kafka delete marker
    assert(rows.toMap.apply(6L) ===
      Some("Your a/c 200 is credited with 125 cents (bob, b@x.io)"))
  }

  test("kafka wire contract end-to-end: example_1 over replayable record frames, tombstone round-trip") {
    // The reference's core I/O loop made testable without a broker:
    // consume (consumer/group_handler.go:70-113 builds a data.Record per
    // message) → decode → example_1 topology → encode → produce
    // (producer/producer.go:117-154). Every frame in and out carries the
    // FULL data/record.go:33-42 record shape via WireLog — key/value
    // binary, topic, partition, offset, timestamp, headers — with
    // per-partition ordered replay (one appended segment = one poll =
    // one micro-batch). No MemoryStream anywhere on the record path.
    import graft.dsl.{KGlobalTable, KStream}
    import graft.io.{KafkaIO, WireLog}
    val root = java.nio.file.Files.createTempDirectory("graft_wire_e2e").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"
    val cutoffMs = 1700000000000L

    def seg(txns: (Long, String, Long, Double, Long)*): Unit = WireLog.append(
      spark, inDir,
      txns.toSeq.toDF("id", "typ", "acct_fk", "amount", "ts_ms")
        .select(
          col("id").cast("string").as("key"),
          to_json(struct(col("typ"), col("acct_fk"), col("amount"), col("ts_ms")))
            .as("value"),
          lit("transactions").as("topic"),
          timestamp_millis(col("ts_ms")).as("timestamp"),
          array(struct(lit("origin").as("key"),
            lit("teller").cast("binary").as("value"))).as("headers"),
          col("id").as("seq")),
      numPartitions = 2, orderBy = Seq(col("seq")))

    // poll 1 lands BEFORE the query starts — replayed from offset 0
    seg((1L, "credit", 100L, 2.5, cutoffMs + 1000),
      (2L, "debit", 200L, 10.0, cutoffMs + 2000),
      (3L, "credit", 100L, 99.0, cutoffMs - 1), // too old → filtered
      (4L, "credit", 999L, 5.0, cutoffMs + 3000)) // no account row → dropped

    val raw = WireLog.readStream(spark, inDir)
    assert(raw.schema === WireLog.recordSchema,
      "the source must serve the full record.go:33-42 shape")
    val decoded = KafkaIO.decode(raw,
      keyExpr = col("key").cast("string").cast("long"),
      valueExpr = from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "typ STRING, acct_fk LONG, amount DOUBLE, ts_ms LONG")))
    val src = KStream(decoded.select(
      col("key").as("txn_id"), col("value.typ").as("typ"),
      col("value.acct_fk").as("acct_fk"), col("value.amount").as("amount"),
      col("value.ts_ms").as("ts_ms"),
      KafkaIO.headerValue(col("headers"), "origin").cast("string").as("origin")),
      "txn_id")

    val accountDetails = KGlobalTable.fromStatic(
      Seq((100L, 7L, "active"), (200L, 8L, "active"), (300L, 9L, "closed"))
        .toDF("acct_no", "customer_id", "status"), "acct_no")
    val profiles = KGlobalTable.fromStatic(
      Seq((7L, "alice", "a@x.io"), (8L, "bob", "b@x.io"), (9L, "carol", "c@x.io"))
        .toDF("cust_id", "name", "email"), "cust_id")
    val Seq(credited, debited) = src.branch(
      col("typ") === "credit", col("typ") === "debit")
    def leg(s: KStream, verb: String): KStream = s
      .filter(col("ts_ms") >= cutoffMs)
      .joinGlobalTable(accountDetails, col("acct_fk"))
      .transformValues("text" -> concat(
        lit("Your a/c "), col("acct_fk"), lit(s" is $verb with "),
        floor(col("amount") * 100 + 0.5).cast("long"), lit(" cents")))
      .joinGlobalTable(profiles, col("customer_id"))
    val out = leg(credited, "credited").merge(leg(debited, "debited"))
      .to(
        keyExpr = col("txn_id").cast("string"),
        valueExpr = concat(col("text"), lit(" ("), col("name"), lit(", "),
          col("email"), lit(")")),
        tombstoneWhen = Some(col("status") === "closed"),
        headers = Some(array(struct(lit("origin").as("key"),
          col("origin").cast("binary").as("value")))))
    assert(out.isStreaming, "the wire topology must stay one streaming frame")

    val q = out.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the produce side: hash partitioner (the HashBased default),
        // offsets continue the output log per partition
        WireLog.append(batch.sparkSession, outDir,
          batch.withColumn("topic", lit("messages")),
          numPartitions = 2, orderBy = Seq(col("key").cast("string")))
      }.start()
    try {
      q.processAllAvailable()
      // poll 2 arrives mid-stream: closed account → tombstone
      seg((5L, "debit", 300L, 7.0, cutoffMs + 4000),
        (6L, "credit", 200L, 1.25, cutoffMs + 5000))
      q.processAllAvailable()
    } finally q.stop()

    val produced = WireLog.read(spark, outDir)
    assert(produced.schema === WireLog.recordSchema,
      "the sink must produce the full record.go:33-42 shape")
    val rows = produced.select(col("key").cast("string").cast("long"),
        col("value").cast("string"),
        KafkaIO.headerValue(col("headers"), "origin").cast("string"))
      .as[(Long, Option[String], String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 5L, 6L))
    val byKey = rows.map(r => r._1 -> r._2).toMap
    assert(byKey(1L) === Some("Your a/c 100 is credited with 250 cents (alice, a@x.io)"))
    assert(byKey(2L) === Some("Your a/c 200 is debited with 1000 cents (bob, b@x.io)"))
    assert(byKey(5L) === None, "closed account must produce a Kafka delete marker")
    assert(byKey(6L) === Some("Your a/c 200 is credited with 125 cents (bob, b@x.io)"))
    assert(rows.forall(_._3 === "teller"),
      "headers must round-trip source→topology→sink")
    // wire-level invariants on the produced log: per-partition offsets
    // contiguous from 0 (each partition an independent ordered ledger),
    // placement in range and key-affine, producer timestamps stamped
    val ledger = produced.select("partition", "offset")
      .as[(Int, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(ledger.keys.forall(p => p >= 0 && p < 2))
    ledger.foreach { case (p, offs) =>
      assert(offs === (0L until offs.length).toSeq,
        s"partition $p offsets must be contiguous from 0, got $offs")
    }
    assert(produced.filter(col("timestamp").isNull).count() === 0)
  }

  test("example_2 topology: 3-way branch + CHAINED stream-stream joins, one query") {
    // the reference's example_2 shape (/root/reference/examples/example_2/
    // stream/a.go:18-105): one topic carrying three event types → 3-way
    // branch → per-branch filter → JoinStream(A,B) → JoinStream(AB,C).
    // The reference buffers join state in unbounded maps; the Spark form
    // bounds both joins with watermarks + time-range conditions — state
    // is evicted, which the reference cannot do (SURVEY §2.3 J3).
    import graft.dsl.KStream
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, String)]
    val src = KStream(
      mem.toDF().toDF("key", "typ", "ts_ms", "payload"), "key")
    val Seq(aBr, bBr, cBr) = src.branch(
      col("typ") === "A", col("typ") === "B", col("typ") === "C")
    def side(s: KStream, p: String) = s.toDF
      .select(col("key").as(s"${p}_key"),
        timestamp_millis(col("ts_ms")).as(s"${p}_ts"),
        col("payload").as(s"${p}_val"))
      .withWatermark(s"${p}_ts", "10 minutes")
    val a = side(aBr, "a"); val b = side(bBr, "b"); val c = side(cBr, "c")
    val ab = a.join(b,
      col("a_key") === col("b_key") &&
        col("b_ts").between(col("a_ts") - expr("INTERVAL 5 MINUTES"),
          col("a_ts") + expr("INTERVAL 5 MINUTES")))
    val abc = ab.join(c,
      col("a_key") === col("c_key") &&
        col("c_ts").between(col("a_ts") - expr("INTERVAL 5 MINUTES"),
          col("a_ts") + expr("INTERVAL 5 MINUTES")))
      .select(col("a_key").as("key"), col("a_val"), col("b_val"), col("c_val"))
    assert(abc.isStreaming, "chained join topology must stay streaming")
    val q = abc.writeStream.format("memory").queryName("abc_sink")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      mem.addData(
        ("k1", "A", t0, "a1"), ("k1", "B", t0 + 60000, "b1"),
        ("k1", "C", t0 + 120000, "c1"),          // full ABC chain
        ("k2", "A", t0, "a2"), ("k2", "B", t0 + 60000, "b2"), // AB, no C
        ("k3", "A", t0, "a3"),
        ("k3", "C", t0 + 3600000, "c3"))         // C outside the 5 min band
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("abc_sink")
      .select("key", "a_val", "b_val", "c_val")
      .as[(String, String, String, String)].collect().toSet
    assert(rows === Set(("k1", "a1", "b1", "c1")))
  }

  test("kafka wire contract: example_2 over replayable record frames, checkpoint restart across the join chain") {
    // the reference's SECOND living integration test replayed at full
    // record fidelity (/root/reference/examples/example_2/stream/
    // a.go:18-105): one topic carrying three event types → decode →
    // 3-way branch → per-branch timestamp filter → JoinStream(A,B) →
    // JoinStream(AB,C) → produce. Like the example_1 wire case, every
    // frame in and out is a WireLog record (data/record.go:33-42 shape);
    // additionally the query is STOPPED AND RESTARTED from its
    // checkpoint between the AB match and C's arrival, so the completed
    // chain proves both stream-stream join states recover.
    import graft.dsl.KStream
    import graft.io.{KafkaIO, WireLog}
    val root = java.nio.file.Files.createTempDirectory("graft_wire_ex2").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"
    val t0 = 1700000000000L // per-branch filterFromTimestamp cutoff

    def seg(evts: (String, String, Long, String)*): Unit = WireLog.append(
      spark, inDir,
      evts.toSeq.toDF("k", "typ", "ts_ms", "payload")
        .select(
          col("k").as("key"),
          to_json(struct(col("typ"), col("ts_ms"), col("payload"))).as("value"),
          lit("abc_events").as("topic"),
          timestamp_millis(col("ts_ms")).as("timestamp"),
          array(struct(lit("origin").as("key"),
            lit("ex2").cast("binary").as("value"))).as("headers"),
          concat(col("k"), col("typ")).as("seq")),
      numPartitions = 2, orderBy = Seq(col("seq")))

    val raw = WireLog.readStream(spark, inDir)
    assert(raw.schema === WireLog.recordSchema,
      "the source must serve the full record.go:33-42 shape")
    val decoded = KafkaIO.decode(raw,
      keyExpr = col("key").cast("string"),
      valueExpr = from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "typ STRING, ts_ms LONG, payload STRING")))
    val src = KStream(decoded.select(
      col("key").as("k"), col("value.typ").as("typ"),
      col("value.ts_ms").as("ts_ms"), col("value.payload").as("payload"),
      KafkaIO.headerValue(col("headers"), "origin").cast("string").as("origin")),
      "k")
    val Seq(aBr, bBr, cBr) = src.branch(
      col("typ") === "A", col("typ") === "B", col("typ") === "C")
    def side(s: KStream, p: String) = s
      .filter(col("ts_ms") >= t0) // a.go:107-129 filterFromTimestamp
      .toDF
      .select(col("k").as(s"${p}_key"),
        timestamp_millis(col("ts_ms")).as(s"${p}_ts"),
        col("payload").as(s"${p}_val"),
        col("origin").as(s"${p}_origin"))
      .withWatermark(s"${p}_ts", "10 minutes")
    val a = side(aBr, "a"); val b = side(bBr, "b"); val c = side(cBr, "c")
    val ab = a.join(b,
      col("a_key") === col("b_key") &&
        col("b_ts").between(col("a_ts") - expr("INTERVAL 5 MINUTES"),
          col("a_ts") + expr("INTERVAL 5 MINUTES")))
    val abc = ab.join(c,
      col("a_key") === col("c_key") &&
        col("c_ts").between(col("a_ts") - expr("INTERVAL 5 MINUTES"),
          col("a_ts") + expr("INTERVAL 5 MINUTES")))
    val out = abc.select(
      col("a_key").as("key"),
      to_json(struct(col("a_val"), col("b_val"), col("c_val"))).as("value"),
      lit("abc_joined").as("topic"),
      array(struct(lit("origin").as("key"),
        col("a_origin").cast("binary").as("value"))).as("headers"))
    assert(out.isStreaming, "the wire join chain must stay one streaming frame")

    def start() = out.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        WireLog.append(batch.sparkSession, outDir, batch,
          numPartitions = 2, orderBy = Seq(col("key").cast("string")))
      }.start()

    // phase 1: k1's A and B match (AB buffered in join state), k2 gets
    // only A, a stale A is filtered, k3's A waits for a C that will
    // arrive out of band
    seg(("k1", "A", t0, "a1"), ("k1", "B", t0 + 60000, "b1"),
      ("k2", "A", t0, "a2"),
      ("kx", "A", t0 - 1, "stale"), // pre-cutoff → branch filter drops
      ("k3", "A", t0, "a3"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: RESTART from the checkpoint; k1's C completes the chain
    // against recovered AB state, k2's B makes AB but never C, k3's C
    // lands outside the ±5 min band
    seg(("k1", "C", t0 + 120000, "c1"),
      ("k2", "B", t0 + 60000, "b2"),
      ("k3", "C", t0 + 3600000, "c3"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val produced = WireLog.read(spark, outDir)
    assert(produced.schema === WireLog.recordSchema,
      "the sink must produce the full record.go:33-42 shape")
    val rows = produced.select(col("key").cast("string"),
        col("value").cast("string"),
        KafkaIO.headerValue(col("headers"), "origin").cast("string"))
      .as[(String, String, String)].collect().toSeq
    // exactly one completed chain, emitted once despite the restart
    assert(rows.map(_._1) === Seq("k1"))
    assert(rows.head._2 === """{"a_val":"a1","b_val":"b1","c_val":"c1"}""")
    assert(rows.head._3 === "ex2", "headers must round-trip source→joins→sink")
    assert(produced.filter(col("timestamp").isNull).count() === 0)
    assert(produced.select("topic").distinct().as[String].collect().toSeq ===
      Seq("abc_joined"))
  }

  test("streaming sessionization: gap-based session closes once the watermark passes") {
    // the streaming twin of q_session_window: session_window merges events
    // within a 5 min gap; append mode emits a session only after the
    // watermark (max ts − 10 min) passes its end — bounded state, which
    // the reference's unbounded buffers cannot express (SURVEY §1.4)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Double)]
    val sessions = mem.toDF().toDF("user", "ts_ms", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("user"), col("n"), col("total"))
    val q = sessions.writeStream.format("memory").queryName("session_sink")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      mem.addData(("u1", t0, 1.0), ("u1", t0 + 120000, 2.0)) // one session
      q.processAllAvailable()
      // 40 min later: new session; watermark moves past the first one
      mem.addData(("u1", t0 + 2400000, 5.0))
      q.processAllAvailable()
      mem.addData(("u1", t0 + 2460000, 7.0)) // extra batch to flush emission
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("session_sink")
      .as[(String, Long, Double)].collect().toSet
    assert(rows === Set(("u1", 2L, 3.0))) // merged 2-event session, total 1+2
  }

  test("streaming sketch artifacts: per-window HLL merges to the exact distinct") {
    // the streaming form of Sketches: per-window sketch artifacts built
    // at ingest (windowed agg + watermark), rolled up later by merging —
    // distinct-over-all-windows without reprocessing the stream
    import graft.functions.Sketches
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val sketches = mem.toDF().toDF("ts_ms", "user_id")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(hll_sketch_agg(col("user_id")).as("hll"))
    val q = sketches.writeStream.format("memory").queryName("sketch_sink")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      // window 1: users 1,2,3 (2 twice); window 2: users 3,4
      mem.addData((t0, 1L), (t0 + 1000, 2L), (t0 + 2000, 2L), (t0 + 3000, 3L))
      q.processAllAvailable()
      mem.addData((t0 + 3600000, 3L), (t0 + 3601000, 4L))
      q.processAllAvailable()
      mem.addData((t0 + 7300000, 9L)) // push the watermark past both windows
      q.processAllAvailable()
    } finally q.stop()
    val parts = spark.table("sketch_sink")
    assert(parts.count() === 2, "both closed windows must emit a sketch")
    val merged = Sketches.mergeSketches(parts, Nil)
      .select(Sketches.estimate(col("hll"))).as[Long].head()
    // 4 distinct users across windows (3 appears in both); HLL is exact
    // at this cardinality
    assert(merged === 4L)
  }

  test("streaming sketch artifacts: per-window CMS cells merge to exact token counts") {
    // the heavy-hitter twin of the HLL test above: windowed CMS cell
    // artifacts at ingest, rolled up by cell-wise sum, point-queried
    // without reprocessing the stream
    import graft.functions.Sketches
    val mem = MemoryStream[(Long, String)]
    val cells = mem.toDF().toDF("ts_ms", "token")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 minutes")
      .withColumn("win", window(col("ts"), "1 hour"))
      .transform(d =>
        Sketches.cmsBuild(d, col("token"), depth = 4, width = 64, strata = Seq("win")))
    val q = cells.writeStream.format("memory").queryName("cms_sink")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      mem.addData((t0, "a"), (t0 + 1000, "a"), (t0 + 2000, "b"))
      q.processAllAvailable()
      mem.addData((t0 + 3600000, "a"), (t0 + 3601000, "c"))
      q.processAllAvailable()
      mem.addData((t0 + 7300000, "z")) // push the watermark past both windows
      q.processAllAvailable()
    } finally q.stop()
    val parts = spark.table("cms_sink")
    assert(parts.select("win").distinct().count() === 2,
      "both closed windows must emit cell artifacts")
    val merged = Sketches.cmsMerge(parts.drop("win"))
    val est = Sketches.cmsEstimate(merged, Seq("a", "b", "c").toDF("tok"),
        col("tok"), depth = 4, width = 64)
      .as[(String, Long)].collect().toMap
    // 4 distinct tokens across 64 cells x 4 lanes: collision-free here,
    // so the estimates are the exact counts (a appears in both windows)
    assert(est === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("streaming near-dup: new doc matches an earlier batch's document") {
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingDedup.nearDupCandidates(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      numHashes = 64, bands = 16, minEstJaccard = 0.5)
    val q = out.writeStream.format("memory").queryName("neardup_sink")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "an entirely different document about spark shuffles"))
      q.processAllAvailable()
      mem.addData(
        (3L, "the quick brown fox jumps over the lazy cat today"), // near-dup of 1
        (4L, "yet another unrelated text body mentioning parquet files"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("neardup_sink")
      .select("a_id", "b_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L)))
  }

  test("streaming line dedup: digest state spans batches, rebuild equals the batch operator") {
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingDedup.lineDedupAtIngest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("linededup_sink")
      .outputMode("append").start()
    try {
      mem.addData((1L, "alpha\nshared\n\nbeta"))
      q.processAllAvailable()
      // batch 2: 'shared' was seen in batch 1 → drops; 'gamma' is new
      mem.addData((2L, "shared\ngamma"), (3L, "shared"))
      q.processAllAvailable()
    } finally q.stop()
    val sink = spark.table("linededup_sink")
    // per-line keep decisions match the batch operator on the union
    // (ids arrived in ascending order, the ingest contract)
    val rebuilt = sink.filter(col("keep"))
      .groupBy("doc_id")
      .agg(concat_ws("\n",
        array_sort(collect_list(struct(col("pos"), col("line"))))
          .getField("line")).as("text_dedup"))
      .as[(Long, String)].collect().toMap
    val batch = graft.operators.Dedup.lineDedup(
      Seq((1L, "alpha\nshared\n\nbeta"), (2L, "shared\ngamma"), (3L, "shared"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "text_dedup").as[(Long, String)].collect().toMap
    assert(rebuilt.getOrElse(3L, "") === batch(3L))
    assert((1L to 3L).forall(i => rebuilt.getOrElse(i, "") === batch(i)),
      s"stream rebuild $rebuilt != batch $batch")
  }

  test("streaming cdc chunks: digest state spans batches; inventory equals the batch operator") {
    val docsAll = Seq(
      (1L, Seq.fill(40)("shared boilerplate segment one two three. ").mkString),
      (2L, "PREFIX-" + Seq.fill(40)("shared boilerplate segment one two three. ").mkString),
      (3L, "wholly unrelated content with its own byte runs and words"))
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingDedup.cdcChunksAtIngest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      windowBytes = 8, maskBits = 4)
    val q = out.writeStream.format("memory").queryName("cdc_sink")
      .outputMode("append").start()
    try {
      mem.addData(docsAll(0))
      q.processAllAvailable()
      mem.addData(docsAll(1), docsAll(2)) // doc 2 shares most chunks with 1
      q.processAllAvailable()
    } finally q.stop()
    val sink = spark.table("cdc_sink")
      .as[(Long, Long, Long, Long, String, Boolean)].collect()
    // chunk tables agree row-for-row with the batch operator
    val batchChunks = graft.operators.Multimodal.cdcChunks(
      graft.operators.Multimodal.attachBlob(
        docsAll.toDF("doc_id", "text"), "doc_id", "text", "b"),
      windowBytes = 8, maskBits = 4)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(sink.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet === batchChunks)
    // is_new marks exactly one row per distinct digest, the arrival-first
    val newOnes = sink.filter(_._6)
    assert(newOnes.map(_._5).distinct.length === newOnes.length)
    assert(newOnes.map(_._5).toSet === sink.map(_._5).toSet)
    // doc 2's shared tail chunks are recognized as known (CDC shift-invariance
    // across the stream boundary): most of doc 2 must NOT be new
    val d2 = sink.filter(_._1 == 2L)
    assert(d2.count(!_._6).toDouble / d2.length > 0.6,
      s"expected most of doc 2's chunks known, got ${d2.count(!_._6)}/${d2.length}")
  }

  test("streaming similarity: arriving vector matches an earlier near-identical one") {
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.streaming.StreamingSimilarity.matchesAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      minCosine = 0.95, tables = 8, bits = 2, dim = 4)
    val q = out.writeStream.format("memory").queryName("simmatch_sink")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, Seq(1f, 0.02f, 0f, 0f)),
        (2L, Seq(0f, 0f, 1f, 0.3f))) // unrelated direction
      q.processAllAvailable()
      mem.addData((3L, Seq(1f, 0.01f, 0f, 0f))) // near-identical to 1
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("simmatch_sink")
      .select("a_id", "b_id").distinct().as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L)))
  }

  test("streaming semdedup: first arrival admitted, later near-dups rejected per cell") {
    val cents = Seq(
      (0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f))
    ).toDF("cell", "c_emb")
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.streaming.StreamingSimilarity.semDedupAtIngest(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents, minCosine = 0.95)
    val q = out.writeStream.format("memory").queryName("semdedup_sink")
      .outputMode("append").start()
    try {
      // batch 1: 5 and 9 are near-identical in cell 0 — the smaller id of
      // the batch (5) wins, exactly as the batch operator would pick
      mem.addData(
        (9L, Seq(1f, 0.02f, 0f, 0f)),
        (5L, Seq(1f, 0.03f, 0f, 0f)),
        (2L, Seq(0f, 1f, 0f, 0.1f))) // alone in cell 1
      q.processAllAvailable()
      // batch 2: a later duplicate of the ADMITTED vector is rejected even
      // though it has a smaller id than the survivor; a novel direction in
      // cell 0 is admitted
      mem.addData(
        (1L, Seq(1f, 0.01f, 0f, 0f)),
        (8L, Seq(0.7f, 0f, 0.72f, 0f))) // cell 0, cosine ~0.7 to admitted
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("semdedup_sink")
      .as[graft.streaming.StreamingSimilarity.Admission].collect()
      .map(a => a.vec_id -> ((a.cell, a.kept))).toMap
    assert(got === Map(
      5L -> ((0, true)), 9L -> ((0, false)), 2L -> ((1, true)),
      1L -> ((0, false)), 8L -> ((0, true))))
  }

  test("withRetries retries transient failures, then succeeds") {
    var calls = 0
    val out = Resilience.withRetries(attempts = 3, intervalMs = 1) {
      calls += 1
      if (calls < 3) sys.error("transient")
      "ok"
    }
    assert(out === "ok" && calls === 3)
    intercept[RuntimeException] {
      Resilience.withRetries(attempts = 1, intervalMs = 1)(sys.error("always"))
    }
  }

  test("per-record DLQ: poison rows quarantine with the error; healthy rows commit once") {
    val mem = MemoryStream[(Long, String)]
    val committed = mutable.ArrayBuffer.empty[(Long, String)]
    val dead = mutable.ArrayBuffer.empty[(Long, String, String)]
    var wholeBatchAttempts = 0
    val harness = Resilience.foreachBatchWithQuarantine(attempts = 2, intervalMs = 1) {
      (df, _) =>
        val rows = df.select("k", "v").as[(Long, String)].collect()
        if (rows.length > 2) wholeBatchAttempts += 1
        // a poison record fails the WHOLE sub-batch — the harness must
        // still land only the poison rows in the DLQ
        if (rows.exists(_._2.startsWith("poison"))) sys.error("poison record")
        committed ++= rows
    } { (deadDf, _) =>
      dead ++= deadDf.select("k", "v", "dlq_reason")
        .as[(Long, String, String)].collect()
    }
    val q = mem.toDS().toDF("k", "v").writeStream.foreachBatch(harness).start()
    try {
      mem.addData((1L, "a"), (2L, "poison-x"), (3L, "b"), (4L, "c"), (5L, "poison-y"))
      q.processAllAvailable()
      mem.addData((6L, "d")) // healthy batch takes the zero-overhead fast path
      q.processAllAvailable()
    } finally q.stop()
    // exactly once: every healthy row committed, none duplicated or lost
    assert(committed.sorted === Seq(1L -> "a", 3L -> "b", 4L -> "c", 6L -> "d"))
    // both poison rows quarantined, each carrying the captured error
    assert(dead.map(r => (r._1, r._2)).toSet === Set(2L -> "poison-x", 5L -> "poison-y"))
    assert(dead.forall(_._3.contains("poison record")))
    // the full batch was retried (attempts = 2 ⇒ ≥ 3 full-batch tries)
    assert(wholeBatchAttempts >= 3)
  }

  test("quality gate at ingest: scrub + score + rare-token share, stateless on a stream") {
    // deployment shape of the batch quality ops: DF table trained in
    // batch, arriving docs gated/scrubbed/scored in one narrow stateless
    // pass (append mode, no state store)
    import graft.streaming.StreamingQuality
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick red fox runs past the sleepy dog"),
      (3L, "the slow brown bear naps under the old tree")).toDF("doc_id", "text")
    val dfTable = StreamingQuality.trainDfTable(train, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val out = StreamingQuality.rareTokenShareAtIngest(
      StreamingQuality.gateAtIngest(
        mem.toDF().toDF("doc_id", "text"), "text",
        minQuality = 0.1, langs = Seq("en")),
      "scrubbed", dfTable, nDocs = 3, rareDen = 2)
    assert(out.isStreaming, "the gate must stay a stateless streaming frame")
    val q = out.writeStream.format("memory").queryName("quality_sink")
      .outputMode("append").start()
    try {
      mem.addData(
        (10L, "the quick brown fox and the lazy dog mail a.user@example.org"),
        (11L, "zzz qqq xxx yyy www vvv uuu ttt sss rrr"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("quality_sink")
      .select("doc_id", "scrubbed", "keep", "n_tokens", "n_rare")
      .as[(Long, String, Boolean, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 10: English high-stopword prose — passes the gate, email masked
    assert(rows(10L)._2.endsWith("mail <EMAIL>"))
    assert(rows(10L)._3 === true)
    // doc 11: gibberish — every token unseen in the train corpus (df 0,
    // rare iff df·2 < 3) ⇒ all 10 rare
    assert(rows(11L)._4 === 10L && rows(11L)._5 === 10L)
  }

  test("gopher gate at ingest: stateless stream equals the batch bundle") {
    import graft.streaming.StreamingQuality
    val docs = Seq(
      (1L, "the quick brown fox moved with great resolve"), // clean → keep
      (2L, "the with"),                                     // too few words
      (3L, "the quick # brown fox ... with resolve"))       // symbol ratio
    val mem = MemoryStream[(Long, String)]
    val out = StreamingQuality.gopherGateAtIngest(
      mem.toDF().toDF("doc_id", "text"), "text", minWords = 3, maxWords = 100)
    assert(out.isStreaming, "the gate must stay a stateless streaming frame")
    val q = out.writeStream.format("memory").queryName("gopher_sink")
      .outputMode("append").start()
    try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("gopher_sink")
      .select("doc_id", "n_words", "word_chars", "alpha_words", "symbols",
        "stop_hits", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().sorted.toSeq
    val batch = StreamingQuality.gopherGateAtIngest(
        docs.toDF("doc_id", "text"), "text", minWords = 3, maxWords = 100)
      .select("doc_id", "n_words", "word_chars", "alpha_words", "symbols",
        "stop_hits", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().sorted.toSeq
    assert(streamed === batch, "stream and batch bundles drifted")
    assert(streamed.map(r => r._1 -> r._7).toMap === Map(1L -> true,
      2L -> false, 3L -> false))
  }

  test("percentile gate at ingest: frozen per-stratum thresholds, unseen stratum falls back") {
    // artifact split: thresholds trained in batch (Corpus.quantileThresholds),
    // stream gated against them statelessly — the deployable twin of
    // Corpus.percentileGate
    import graft.streaming.StreamingQuality
    val train = (for (s <- Seq("wiki", "crawl"); i <- 1 to 10)
      yield (s, i.toDouble)).toDF("source", "score")
    // medians: 5.5 in both strata (values 1..10)
    val th = graft.operators.Corpus.quantileThresholds(
      train, Seq("source"), col("score"), 0.5)
    val mem = MemoryStream[(Long, String, Double)]
    val out = StreamingQuality.percentileGateAtIngest(
      mem.toDF().toDF("id", "source", "score"),
      Seq("source"), col("score"), th, defaultThr = 2.0)
    assert(out.isStreaming, "the gate must stay a stateless streaming frame")
    val q = out.writeStream.format("memory").queryName("pctgate_sink")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "wiki", 7.0),   // >= 5.5 -> keep
        (2L, "wiki", 3.0),   // < 5.5 -> drop
        (3L, "crawl", 5.5),  // == threshold -> keep
        (4L, "books", 2.5),  // unseen stratum: default 2.0 -> keep
        (5L, "books", 1.0))  // unseen stratum, below default -> drop
      q.processAllAvailable()
    } finally q.stop()
    val keep = spark.table("pctgate_sink")
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(keep === Map(1L -> true, 2L -> false, 3L -> true,
      4L -> true, 5L -> false))
  }

  test("histogram artifact maintains incrementally on a stream") {
    // bucket counts are a plain sum — histogramFixed's groupBy IS the
    // streaming update, so the quantile artifact refreshes per
    // micro-batch with no history rescan (thresholds re-derive from the
    // small artifact whenever needed)
    import graft.functions.Sketches
    val vals = (1 to 400).map(_.toLong * 3 % 257)
    val batch = Sketches.histogramFixed(
        vals.toDF("v"), col("v"), lo = 0, width = 8, buckets = 64)
      .as[(Long, Long)].collect().toSet
    val mem = MemoryStream[Long]
    val out = Sketches.histogramFixed(
      mem.toDF().toDF("v"), col("v"), lo = 0, width = 8, buckets = 64)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("hist_sink")
      .outputMode("complete").start()
    try {
      mem.addData(vals.take(150): _*)
      q.processAllAvailable()
      mem.addData(vals.drop(150): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hist_sink").as[(Long, Long)].collect().toSet
    assert(streamed === batch,
      "streamed histogram after two micro-batches must equal the batch artifact")
  }

  test("interval matching at ingest: range + overlap equal the batch banded joins") {
    import graft.operators.Temporal
    import graft.streaming.StreamingTemporal
    val intervals = Seq((1L, 5L, 20L), (2L, 18L, 18L), (3L, 50L, 99L),
      (4L, 70L, 60L)).toDF("iid", "lo", "hi")
    // point probes
    val points = (0L until 60L).map(i => (i, i * 7L % 100))
    val batchPts = Temporal.rangeJoin(points.toDF("pid", "p"), intervals,
        "p", "lo", "hi", band = 16L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val memP = MemoryStream[(Long, Long)]
    val outP = StreamingTemporal.rangeMatchAtIngest(
      memP.toDF().toDF("pid", "p"), intervals, "p", "lo", "hi", band = 16L)
    assert(outP.isStreaming, "the range probe must stay a streaming frame")
    val qP = outP.select("pid", "iid").writeStream.format("memory")
      .queryName("range_ingest").outputMode("append").start()
    try {
      memP.addData(points.take(30): _*); qP.processAllAvailable()
      memP.addData(points.drop(30): _*); qP.processAllAvailable()
    } finally qP.stop()
    assert(spark.table("range_ingest").as[(Long, Long)].collect().toSet
      === batchPts)
    // arriving spans vs the frozen interval artifact
    val spans = Seq((10L, 0L, 6L), (11L, 17L, 23L), (12L, 95L, 120L),
      (13L, 30L, 40L), (14L, 60L, 55L))
    val batchSp = Temporal.intervalOverlapJoin(
        spans.toDF("sid", "s_lo", "s_hi"), intervals,
        "s_lo", "s_hi", "lo", "hi", band = 16L)
      .select("sid", "iid").as[(Long, Long)].collect().toSet
    assert(batchSp.nonEmpty && !batchSp.exists(_._1 == 14L))
    val memS = MemoryStream[(Long, Long, Long)]
    val outS = StreamingTemporal.overlapAtIngest(
      memS.toDF().toDF("sid", "s_lo", "s_hi"), intervals,
      "s_lo", "s_hi", "lo", "hi", band = 16L)
    assert(outS.isStreaming, "the overlap probe must stay a streaming frame")
    val qS = outS.select("sid", "iid").writeStream.format("memory")
      .queryName("overlap_ingest").outputMode("append").start()
    try {
      memS.addData(spans.take(2): _*); qS.processAllAvailable()
      memS.addData(spans.drop(2): _*); qS.processAllAvailable()
    } finally qS.stop()
    val streamed = spark.table("overlap_ingest").as[(Long, Long)].collect()
    assert(streamed.toSet === batchSp)
    assert(streamed.length === batchSp.size,
      "each (span, interval) pair must emit exactly once")
  }

  test("IVF centroid assignment works unchanged on a streaming frame") {
    import graft.operators.Similarity
    // the scaladoc's claim, pinned: the two 1-row packs are static
    // broadcast sides, so arriving vectors tag statelessly and equal the
    // batch assignment
    val cents = spark.range(12).select(col("id").cast("int").as("cell"),
      transform(sequence(lit(0), lit(15)), i =>
        when(i === col("id"), lit(1.0f)).otherwise(lit(0.0f))).as("c_emb"))
    val vecs = (0L until 48L).map { v =>
      (v, (0 until 16).map(i => if (i == (v % 12).toInt) 1.0f else 0.0f))
    }
    val batch = Similarity.assignToCentroidsIvf(
        vecs.toDF("vec_id", "emb"), "emb", cents, nprobe = 2)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val mem = MemoryStream[(Long, Seq[Float])]
    // force the SHARDED fine level: its stream-static per-slot joins are
    // the round-10 machinery worth pinning (the small-index map form is
    // the round-9 1-row-broadcast shape, already proven streaming)
    val out = Similarity.assignToCentroidsIvf(
      mem.toDF().toDF("vec_id", "emb"), "emb", cents, nprobe = 2,
      shardBytes = 0L)
    assert(out.isStreaming, "assignment must stay a stateless streaming frame")
    val q = out.select("vec_id", "cell").writeStream.format("memory")
      .queryName("ivf_assign_ingest").outputMode("append").start()
    try {
      mem.addData(vecs.take(20): _*); q.processAllAvailable()
      mem.addData(vecs.drop(20): _*); q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("ivf_assign_ingest").as[(Long, Int)].collect().toMap
      === batch)
  }

  test("image decode at ingest: the ImageIO per-partition decode runs unchanged on a streaming frame") {
    import graft.operators.Multimodal
    // decode is stateless per record (one codec context per partition),
    // so the SAME operator tags arriving media with no state store —
    // the decodeFeaturesStub streaming contract, now with a real codec
    val dims = Seq((1L, 4, 3), (2L, 7, 2), (3L, 5, 5))
    val batch = Multimodal.decodeImageMeta(Multimodal.encodeBmpGray(
        dims.toDF("doc_id", "w", "h"), "doc_id", "w", "h"))
      .collect().map(m => m.media_id -> ((m.width, m.height, m.luma_sum))).toMap
    val mem = MemoryStream[(Long, Int, Int)]
    val out = Multimodal.decodeImageMeta(Multimodal.encodeBmpGray(
      mem.toDF().toDF("doc_id", "w", "h"), "doc_id", "w", "h"))
    assert(out.isStreaming, "decode must stay a stateless streaming frame")
    val q = out.toDF().writeStream.format("memory").queryName("img_ingest")
      .outputMode("append").start()
    try {
      mem.addData(dims.take(2): _*); q.processAllAvailable()
      mem.addData(dims.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("img_ingest")
      .select("media_id", "width", "height", "luma_sum")
      .as[(Long, Int, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(streamed === batch)
  }

  test("in-context packing at ingest: arrivals append to the standing order through the persisted pair graph") {
    import graft.operators.Corpus
    import graft.streaming.StreamingCorpus
    // standing corpus: 8 docs, pair graph (2,5) (3,7) — persisted and
    // RELOADED (the production artifact hop), then the standing order
    // derives from the LOADED graph
    val docs = (1L to 8L).toDF("doc_id")
    val pairs = Seq((2L, 5L, 9L), (3L, 7L, 4L)).toDF("node_a", "node_b", "score")
    val root = java.nio.file.Files.createTempDirectory("graft_icp").toString
    graft.state.Artifacts.savePairGraph(pairs, s"$root/pairs")
    val order = Corpus.icpOrder(docs, "doc_id",
        graft.state.Artifacts.loadPairGraph(spark, s"$root/pairs"))
      .localCheckpoint(true)
    val basePos = 8L
    // arriving docs with their match candidates vs the standing corpus:
    // 20 matches 5 (score 6) and 3 (score 2) -> anchors to 5 (higher);
    // 21 matches 3 and 7 at EQUAL score -> old_id asc tie-break -> 3;
    // 22's only candidate (99) is absent from the standing order -> self;
    // 23 has no candidates at all -> self, sorts after anchored docs
    val cands: Seq[(Long, Option[Long], Option[Long])] = Seq(
      (20L, Some(5L), Some(6L)), (20L, Some(3L), Some(2L)),
      (21L, Some(3L), Some(4L)), (21L, Some(7L), Some(4L)),
      (22L, Some(99L), Some(8L)),
      (23L, None, None))
    def cdf(rows: Seq[(Long, Option[Long], Option[Long])]) =
      rows.toDF("doc_id", "old_id", "score")
    val batch = Corpus.icpAttach(cdf(cands), order, basePos)
      .as[(Long, Long, Long)].collect().toSet
    // anchored docs order by their anchor's standing position, then the
    // unanchored; positions append after basePos and never renumber
    val posOf = order.as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(posOf(3L) < posOf(5L) || posOf(5L) < posOf(3L)) // total order sanity
    val expectOrder = Seq(
      (if (posOf(3L) < posOf(5L)) Seq((21L, 3L), (20L, 5L))
       else Seq((20L, 5L), (21L, 3L))) :+ (22L -> 22L) :+ (23L -> 23L)
    ).flatten.zipWithIndex
      .map { case ((doc, anc), i) => (doc, anc, basePos + i + 1) }.toSet
    assert(batch === expectOrder)
    // ONE micro-batch reproduces the batch operator bit-for-bit —
    // through the foreachBatch harness and its versioned artifacts (the
    // per-batch work itself IS the distributed batch operator; only the
    // one-row ledger is sequential)
    val mem = MemoryStream[(Long, Option[Long], Option[Long])]
    val q = mem.toDF().toDF("doc_id", "old_id", "score").writeStream
      .option("checkpointLocation", s"$root/ckpt1")
      .foreachBatch(StreamingCorpus.icpAttachAtIngest(
        s"$root/state1", order, basePos))
      .start()
    try {
      mem.addData(cands: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(StreamingCorpus.standingIcpSlots(spark, s"$root/state1")
      .select("doc_id", "anchor", "icp_pos")
      .as[(Long, Long, Long)].collect().toSet === batch)
    // TWO micro-batches equal two sequential batch applications: the
    // ledger continues, issued positions never renumber (doc 21 arrives
    // in BOTH batches and is numbered afresh each time — an append log
    // has no retractions)
    val mem2 = MemoryStream[(Long, Option[Long], Option[Long])]
    val state2 = s"$root/state2"
    val q2 = mem2.toDF().toDF("doc_id", "old_id", "score").writeStream
      .option("checkpointLocation", s"$root/ckpt2")
      .foreachBatch(StreamingCorpus.icpAttachAtIngest(state2, order, basePos))
      .start()
    val (b1, b2) = (cands.take(3), cands.drop(3))
    try {
      mem2.addData(b1: _*); q2.processAllAvailable()
      mem2.addData(b2: _*); q2.processAllAvailable()
    } finally q2.stop()
    val seq1 = Corpus.icpAttach(cdf(b1), order, basePos)
      .as[(Long, Long, Long)].collect().toSet
    val after1 = basePos + b1.map(_._1).distinct.size
    val seq2 = Corpus.icpAttach(cdf(b2), order, after1)
      .as[(Long, Long, Long)].collect().toSet
    val twoBatch = StreamingCorpus.standingIcpSlots(spark, state2)
      .select("doc_id", "anchor", "icp_pos")
      .as[(Long, Long, Long)].collect().toSet
    assert(twoBatch === (seq1 ++ seq2))
    // the ledger carries ONE row per batch — the running next-position
    val ledger = graft.state.Artifacts.readLedger(spark, s"$state2/ledger")
    assert(ledger === Some(after1 + b2.map(_._1).distinct.size))
    // replay the LAST batch id (the failure-recovery path): pre-state is
    // the latest ledger BELOW the id, so the artifact re-derives the
    // same bytes and nothing advances (exactly-once via versioning)
    StreamingCorpus.ingestIcpBatch(cdf(b2), order, state2,
      batchId = 1L, basePos = basePos)
    assert(StreamingCorpus.standingIcpSlots(spark, state2)
      .select("doc_id", "anchor", "icp_pos")
      .as[(Long, Long, Long)].collect().toSet === twoBatch,
      "batch replay must not renumber or duplicate slots")
    assert(graft.state.Artifacts.readLedger(spark, s"$state2/ledger")
      === ledger, "batch replay must not advance the ledger")
  }

  test("pack append at ingest: arriving docs extend the standing token stream, offsets never renumber") {
    import graft.operators.Corpus
    import graft.streaming.StreamingCorpus
    // standing corpus packed offline to total 1000; arrivals extend it
    val basePos = 1000L
    val rows = Seq( // (doc_id, pos, n_tok) — pos sparse + shuffled, a zero-token doc
      (7L, 30L, 100L), (3L, 10L, 63L), (9L, 50L, 0L), (4L, 20L, 65L), (8L, 40L, 1L))
    def rdf(rs: Seq[(Long, Long, Long)]) = rs.toDF("doc_id", "pos", "n_tok")
    val batch = Corpus.packByOrder(rdf(rows), col("pos"), col("n_tok"),
        seqLen = 64, baseOffset = basePos)
      .select("doc_id", "global_start", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long)].collect().toSet
    // hand check: order 3,4,7,8,9 → starts 1000,1063,1128,1228,1229
    assert(batch === Set((3L, 1000L, 15L, 16L), (4L, 1063L, 16L, 17L),
      (7L, 1128L, 17L, 19L), (8L, 1228L, 19L, 19L), (9L, 1229L, 19L, 19L)))
    // ONE micro-batch ≡ the batch operator; two batches ≡ two sequential
    // batch applications with the ledger carried forward — through the
    // foreachBatch harness (per-batch work is packByOrder's distributed
    // prefix sum; the ledger is one row per batch)
    val root = java.nio.file.Files.createTempDirectory("graft_pack").toString
    for ((split, name) <- Seq(5 -> "one", 2 -> "two")) {
      val state = s"$root/state_$name"
      val mem = MemoryStream[(Long, Long, Long)]
      val q = mem.toDF().toDF("doc_id", "pos", "n_tok").writeStream
        .option("checkpointLocation", s"$root/ckpt_$name")
        .foreachBatch(StreamingCorpus.packAppendAtIngest(
          state, seqLen = 64, baseOffset = basePos))
        .start()
      try {
        mem.addData(rows.take(split): _*); q.processAllAvailable()
        if (split < rows.size) {
          mem.addData(rows.drop(split): _*); q.processAllAvailable()
        }
      } finally q.stop()
      val got = StreamingCorpus.standingPackSlots(spark, state)
        .select("doc_id", "global_start", "first_seq", "last_seq")
        .as[(Long, Long, Long, Long)].collect().toSet
      val expect =
        if (split == rows.size) batch
        else {
          val b1 = Corpus.packByOrder(rdf(rows.take(split)), col("pos"),
            col("n_tok"), seqLen = 64, baseOffset = basePos)
          val total = basePos + rows.take(split).map(_._3).sum
          val b2 = Corpus.packByOrder(rdf(rows.drop(split)), col("pos"),
            col("n_tok"), seqLen = 64, baseOffset = total)
          (b1.select("doc_id", "global_start", "first_seq", "last_seq")
              .as[(Long, Long, Long, Long)].collect() ++
            b2.select("doc_id", "global_start", "first_seq", "last_seq")
              .as[(Long, Long, Long, Long)].collect()).toSet
        }
      assert(got === expect, s"split=$split")
      // the ledger ends at the standing total regardless of batching
      assert(graft.state.Artifacts.readLedger(spark, s"$state/ledger")
        === Some(basePos + rows.map(_._3).sum), s"split=$split")
    }
    // replay the LAST batch id of the two-batch run: offsets re-derive
    // from the same pre-state, nothing renumbers or advances
    val state2 = s"$root/state_two"
    val before = StreamingCorpus.standingPackSlots(spark, state2)
      .select("doc_id", "global_start", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long)].collect().toSet
    StreamingCorpus.ingestPackBatch(rdf(rows.drop(2)), state2,
      batchId = 1L, seqLen = 64, baseOffset = basePos)
    assert(StreamingCorpus.standingPackSlots(spark, state2)
      .select("doc_id", "global_start", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long)].collect().toSet === before,
      "batch replay must not renumber offsets")
    // long-running-ingest maintenance composes with the harness: compact
    // the slice log below the replayable tip + prune the ledger, then
    // the standing rows are identical AND the last batch still replays
    // idempotently against its preserved pre-state
    graft.state.Artifacts.compactSlices(spark, s"$state2/slots", upTo = 0L,
      ddl = "doc_id BIGINT, pos BIGINT, n_tok BIGINT, global_start BIGINT, " +
        "first_seq BIGINT, last_seq BIGINT, batch BIGINT")
    graft.state.Artifacts.pruneVersions(spark, s"$state2/ledger")
    assert(StreamingCorpus.standingPackSlots(spark, state2)
      .select("doc_id", "global_start", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long)].collect().toSet === before,
      "compaction must preserve the standing pack layout")
    StreamingCorpus.ingestPackBatch(rdf(rows.drop(2)), state2,
      batchId = 1L, seqLen = 64, baseOffset = basePos)
    assert(StreamingCorpus.standingPackSlots(spark, state2)
      .select("doc_id", "global_start", "first_seq", "last_seq")
      .as[(Long, Long, Long, Long)].collect().toSet === before,
      "replay after compaction must still re-derive the same bytes")
  }

  test("compactEvery policy: compaction fires mid-stream inside the harnesses, standing rows identical, replay intact") {
    import graft.operators.Corpus
    import graft.streaming.StreamingCorpus
    import graft.state.Artifacts
    val root = java.nio.file.Files.createTempDirectory("graft_cmp_pol").toString
    val rows = Seq((3L, 10L, 63L), (4L, 20L, 65L), (7L, 30L, 100L),
      (8L, 40L, 1L), (9L, 50L, 0L))
    def rdf(rs: Seq[(Long, Long, Long)]) = rs.toDF("doc_id", "pos", "n_tok")
    // three batches through the PACK harness with compactEvery = 2:
    // compaction fires INSIDE the stream at batch 2
    val state = s"$root/pack"
    val mem = MemoryStream[(Long, Long, Long)]
    val q = mem.toDF().toDF("doc_id", "pos", "n_tok").writeStream
      .option("checkpointLocation", s"$root/ckpt_pack")
      .foreachBatch(StreamingCorpus.packAppendAtIngest(
        state, seqLen = 64, baseOffset = 1000L, compactEvery = 2))
      .start()
    try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(rows.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    // the policy fired at batch 2: slices 0..1 folded into a base, the
    // replayable tip kept live, the ledger pruned to (pre-state, latest)
    assert(Artifacts.completedVersions(spark, s"$state/slots_base", "v")
      === Seq(1L), "batches 0..1 must be folded into a v=1 base")
    assert(Artifacts.listVersions(spark, s"$state/slots", "batch").sorted
      === Seq(2L), "only the replayable tip slice stays live")
    assert(Artifacts.listVersions(spark, s"$state/ledger", "v").sorted
      === Seq(1L, 2L), "the ledger keeps latest + the replay pre-state")
    // standing rows ≡ three sequential batch applications
    val t1 = 1000L + 63L + 65L
    val t2 = t1 + 100L + 1L
    val expect = (
      Corpus.packByOrder(rdf(rows.take(2)), col("pos"), col("n_tok"), 64, baseOffset = 1000L)
        .select("doc_id", "global_start").as[(Long, Long)].collect() ++
      Corpus.packByOrder(rdf(rows.slice(2, 4)), col("pos"), col("n_tok"), 64, baseOffset = t1)
        .select("doc_id", "global_start").as[(Long, Long)].collect() ++
      Corpus.packByOrder(rdf(rows.drop(4)), col("pos"), col("n_tok"), 64, baseOffset = t2)
        .select("doc_id", "global_start").as[(Long, Long)].collect()).toSet
    def standing() = StreamingCorpus.standingPackSlots(spark, state)
      .select("doc_id", "global_start").as[(Long, Long)].collect().toSet
    assert(standing() === expect)
    // the LAST batch still replays idempotently against its preserved
    // pre-state, with compaction having fired mid-stream
    StreamingCorpus.ingestPackBatch(rdf(rows.drop(4)), state,
      batchId = 2L, seqLen = 64, baseOffset = 1000L)
    assert(standing() === expect, "replay after in-stream compaction must re-derive the same bytes")

    // the QUOTA harness: same policy over its admitted log + counts
    val qstate = s"$root/quota"
    val qmem = MemoryStream[(String, Long, Long)]
    val qq = qmem.toDF().toDF("stratum", "key", "seq").writeStream
      .option("checkpointLocation", s"$root/ckpt_quota")
      .foreachBatch(StreamingCorpus.admitQuotaAtIngest(
        qstate, "stratum", "key", "seq", quota = 2, compactEvery = 2))
      .start()
    try {
      qmem.addData(("a", 1L, 1L), ("a", 2L, 2L)); qq.processAllAvailable()
      qmem.addData(("a", 3L, 3L), ("b", 4L, 4L)); qq.processAllAvailable()
      qmem.addData(("b", 5L, 5L)); qq.processAllAvailable()
    } finally qq.stop()
    assert(Artifacts.listVersions(spark, s"$qstate/admitted", "batch").sorted
      === Seq(2L))
    assert(Artifacts.listVersions(spark, s"$qstate/counts", "v").sorted
      === Seq(1L, 2L))
    assert(StreamingCorpus.standingAdmitted(spark, qstate)
      .select("stratum", "key").as[(String, Long)].collect().toSet
      === Set(("a", 1L), ("a", 2L), ("b", 4L), ("b", 5L)),
      "quota admission must be unchanged by in-stream compaction")

    // the PAGERANK harness: edge-log fold + rank prune, ranks identical
    // to the uncompacted arm
    import graft.streaming.StreamingGraph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 2L), (2L, 1L))
    def runPr(name: String, compactEvery: Int): Set[(Long, Long)] = {
      val st = s"$root/pr_$name"
      val m = MemoryStream[(Long, Long)]
      val pq = m.toDF().toDF("src", "dst").writeStream
        .option("checkpointLocation", s"$root/ckpt_pr_$name")
        .foreachBatch(StreamingGraph.pageRankAtIngest(
          st, roundsPerBatch = 2, compactEvery = compactEvery))
        .start()
      try {
        edges.grouped(2).foreach { b => m.addData(b: _*); pq.processAllAvailable() }
      } finally pq.stop()
      StreamingGraph.standingRanks(spark, st)
        .as[(Long, Long)].collect().toSet
    }
    val plain = runPr("plain", 0)
    val compacted = runPr("cmp", 2)
    assert(compacted === plain,
      "in-stream edge-log compaction must not change the standing ranks")
    assert(Artifacts.completedVersions(spark, s"$root/pr_cmp/edges_base", "v")
      === Seq(1L))
    assert(Artifacts.listVersions(spark, s"$root/pr_cmp/ranks", "v").sorted
      === Seq(1L, 2L), "superseded rank versions must be pruned")
  }

  test("fertility report maintains incrementally on a stream") {
    // pure partial agg over a stateless per-row map — fertilityReport's
    // groupBy IS the streaming update, so the per-source tokenizer
    // coverage artifact refreshes per micro-batch with no history
    // rescan; at every micro-batch the standing totals equal the batch
    // report over all data so far (the histogram/HLL pin pattern)
    import graft.operators.Bpe
    val merges = Seq(Bpe.Merge(0, "c", "h", 0L), Bpe.Merge(1, "b", "a", 0L),
      Bpe.Merge(2, "t", "ch", 0L))
    val docs = Seq(
      (1L, "web", "the batch chest chant"), (2L, "books", "ba ba chat"),
      (3L, "web", "catch a batch now"), (4L, "books", "zebra charm batch"))
    def report(rows: Seq[(Long, String, String)]) = Bpe.fertilityReport(
        rows.toDF("doc_id", "source", "text"), "doc_id", "text", merges, "source")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val mem = MemoryStream[(Long, String, String)]
    val out = Bpe.fertilityReport(
      mem.toDF().toDF("doc_id", "source", "text"),
      "doc_id", "text", merges, "source")
    assert(out.isStreaming, "the report must stream as a standing aggregation")
    val q = out.writeStream.format("memory").queryName("fert_sink")
      .outputMode("complete").start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      assert(spark.table("fert_sink")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet ===
        report(docs.take(2)),
        "mid-stream totals must equal the batch report over data so far")
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("fert_sink")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet ===
      report(docs),
      "streamed fertility after two micro-batches must equal the batch report")
  }

  test("export sharding at ingest: one batch equals the batch shuffle; ledger continues append-stably") {
    import graft.streaming.StreamingCorpus
    // single batch == Corpus.shuffleShards bit-for-bit
    val ids = (1L to 120L)
    val batch = graft.operators.Corpus.shuffleShards(
        ids.toDF("doc_id"), col("doc_id"), seed = 7, numShards = 4)
      .select("shard", "doc_id", "seq").as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2, r._3.toLong)).toSet
    val mem1 = MemoryStream[Long]
    val out1 = StreamingCorpus.exportShardsAtIngest(
      mem1.toDF().toDF("doc_id"), "doc_id", seed = 7, numShards = 4)
    val q1 = out1.writeStream.format("memory").queryName("shard_sink1")
      .outputMode("append").start()
    try {
      mem1.addData(ids: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val streamed = spark.table("shard_sink1")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      "a single micro-batch must reproduce the batch shuffle layout")

    // two batches: batch-1 assignments unchanged, batch-2 seqs continue
    val mem2 = MemoryStream[Long]
    val out2 = StreamingCorpus.exportShardsAtIngest(
      mem2.toDF().toDF("doc_id"), "doc_id", seed = 7, numShards = 4)
    val q2 = out2.writeStream.format("memory").queryName("shard_sink2")
      .outputMode("append").start()
    try {
      mem2.addData(ids.take(60): _*)
      q2.processAllAvailable()
      val first = spark.table("shard_sink2")
        .as[(Long, Long, Long)].collect().toSet
      mem2.addData(ids.drop(60): _*)
      q2.processAllAvailable()
      val all = spark.table("shard_sink2")
        .as[(Long, Long, Long)].collect()
      assert(first.subsetOf(all.toSet),
        "late arrivals must never renumber already-emitted (shard, seq)")
      // ledger density: per shard, seqs are exactly 1..n across batches
      all.groupBy(_._1).foreach { case (shard, rows) =>
        assert(rows.map(_._3).sorted.toSeq === (1L to rows.length),
          s"shard $shard ledger not dense after two batches")
      }
      assert(all.map(_._2).toSet === ids.toSet)
    } finally q2.stop()
  }

  test("admission quota at ingest: first-come per stratum, seq-ordered within batch") {
    import graft.streaming.StreamingCorpus
    val root = java.nio.file.Files.createTempDirectory("graft_quota").toString
    val state = s"$root/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = mem.toDF().toDF("src", "id", "seq").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(StreamingCorpus.admitQuotaAtIngest(
        state, "src", "id", "seq", quota = 2))
      .start()
    try {
      // batch 1: stratum a arrives OUT of seq order — admission must
      // follow seq (20, then 30), not iterator order; b has one row
      mem.addData(("a", 3L, 30L), ("a", 1L, 20L), ("a", 7L, 40L), ("b", 9L, 5L))
      q.processAllAvailable()
      // batch 2: a is full (everything dropped); b admits one more, then
      // drops the rest
      mem.addData(("a", 2L, 10L), ("b", 8L, 6L), ("b", 6L, 7L))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = StreamingCorpus.standingAdmitted(spark, state)
      .select("stratum", "key").as[(String, Long)].collect().toSet
    assert(admitted === Set(("a", 1L), ("a", 3L), ("b", 9L), ("b", 8L)),
      "quota must admit seq-first within the batch and count across batches")
    // the standing state is a distributed per-stratum counts frame
    assert(StreamingCorpus.standingQuotaCounts(spark, state)
      .as[(String, Long)].collect().toMap === Map("a" -> 2L, "b" -> 2L))
    // replaying the LAST batch id re-admits the same rows against the
    // same pre-counts — artifacts unchanged
    StreamingCorpus.ingestQuotaBatch(
      Seq(("a", 2L, 10L), ("b", 8L, 6L), ("b", 6L, 7L)).toDF("src", "id", "seq"),
      state, batchId = 1L, "src", "id", "seq", quota = 2)
    assert(StreamingCorpus.standingAdmitted(spark, state)
      .select("stratum", "key").as[(String, Long)].collect().toSet === admitted,
      "batch replay must not re-admit or drop differently")
    assert(StreamingCorpus.standingQuotaCounts(spark, state)
      .as[(String, Long)].collect().toMap === Map("a" -> 2L, "b" -> 2L))

    // SKEWED batch: one mega-stratum carries 10k of 10_003 rows — the
    // bounded phase-one cap must yield exactly the quota smallest (seq,
    // key) rows, identical to the sequential definition (the funnel fix
    // is a shape change, never a semantics change)
    val skewState = s"$root/skew_state"
    val mega = (1L to 10000L).map(i => ("hot", i, 20000L - i)) ++
      Seq(("cold", 50000L, 1L), ("cold", 50001L, 2L), ("cold", 50002L, 3L))
    StreamingCorpus.ingestQuotaBatch(mega.toDF("src", "id", "seq"),
      skewState, batchId = 0L, "src", "id", "seq", quota = 3)
    val got = StreamingCorpus.standingAdmitted(spark, skewState)
      .select("stratum", "key").as[(String, Long)].collect().toSet
    // hot's smallest seqs are 20000-i for the LARGEST i: ids 10000, 9999, 9998
    assert(got === Set(("hot", 10000L), ("hot", 9999L), ("hot", 9998L),
      ("cold", 50000L), ("cold", 50001L), ("cold", 50002L)))
  }

  test("ingest pipeline composes: quality gate → decontaminate → chunk+pack, one query") {
    // the deployment shape: every stage is a stateless narrow projection,
    // so the WHOLE pipeline is one append-mode streaming query — no state
    // store, no watermark, checkpoint-free
    import graft.streaming.{StreamingCorpus, StreamingQuality}
    val bench = Seq((900L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val grams = StreamingQuality.benchmarkGramSet(bench, "doc_id", "text", n = 3)

    val mem = MemoryStream[(Long, String)]
    val gated = StreamingQuality.gateAtIngest(
        mem.toDF().toDF("doc_id", "text"), "text",
        minQuality = 0.0, langs = Seq("en"))
      .filter(col("keep")).drop("keep")
    val clean = StreamingQuality.decontaminateAtIngest(
        gated, "scrubbed", grams, n = 3, maxShared = 0)
      .filter(col("keep"))
    val packed = StreamingCorpus.chunkAndPackAtIngest(
      clean, "doc_id", "scrubbed",
      chunkTokens = 4, overlapTokens = 0, capacity = 8)
    assert(packed.isStreaming)
    val q = packed.select("doc_id", "chunk_no", "bin").writeStream
      .format("memory").queryName("pipe_sink").outputMode("append").start()
    try {
      mem.addData(
        1L -> "the quick brown fox jumps over the lazy dog and runs home today",
        2L -> "alpha beta gamma delta epsilon zeta",       // contaminated
        3L -> "another perfectly ordinary english document with many plain words here")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pipe_sink").as[(Long, Int, Int)].collect()
    val byDoc = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byDoc.keySet === Set(1L, 3L),
      "the contaminated doc must be dropped before chunking")
    assert(byDoc.values.forall(_ >= 2), "survivors chunk into multiple windows")
  }

  test("gram_agg maintains the covariance artifact incrementally on a stream") {
    // the second-moment matrix is associative — gram_agg's merge path IS
    // the streaming update, so the artifact refreshes per micro-batch
    // with no recompute of history
    val rows = Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0), Seq(7.0, 8.0, 9.0))
    val batch = graft.operators.Pca.gramMatrix(
        rows.toDF("v"), col("v"), dim = 3)
      .as[(Int, Int, Double)].collect().toSet

    val mem = MemoryStream[Seq[Double]]
    val out = mem.toDF().toDF("v")
      .agg(call_function("gram_agg", col("v"), lit(3)).as("g"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("gram_sink")
      .outputMode("complete").start()
    try {
      mem.addData(rows(0), rows(1))
      q.processAllAvailable()
      mem.addData(rows(2)) // second micro-batch merges into the state
      q.processAllAvailable()
    } finally q.stop()
    val tri = spark.table("gram_sink").as[Seq[Double]].collect().head
    val streamed = (for (i <- 0 until 3; j <- i until 3) yield (i, j))
      .zip(tri).map { case ((i, j), g) => (i, j, g) }.toSet
    assert(streamed === batch,
      "streamed gram after two micro-batches must equal the batch gram")
  }

  test("portable HLL registers maintain incrementally on a stream") {
    // register max is associative/idempotent — hllRegisters' groupBy-max
    // IS the streaming update, so the distinct-count artifact refreshes
    // per micro-batch with no history rescan (the incremental
    // COUNT DISTINCT shape at ingest)
    import graft.functions.Sketches
    val ids = (1 to 300).map(_.toString)
    val batch = Sketches.hllRegisters(ids.toDF("id"), col("id"), p = 8)
      .as[(Long, Int)].collect().toSet

    val mem = MemoryStream[String]
    val out = Sketches.hllRegisters(mem.toDF().toDF("id"), col("id"), p = 8)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("hll_sink")
      .outputMode("complete").start()
    try {
      mem.addData(ids.take(120): _*)
      q.processAllAvailable()
      mem.addData(ids.drop(120): _*) // merges into register state by max
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hll_sink").as[(Long, Int)].collect().toSet
    assert(streamed === batch,
      "streamed registers after two micro-batches must equal the batch registers")
  }

  test("KMV sketch maintains incrementally on a stream") {
    // kmv_agg's bounded dedup buffer merges associatively — kmvBuild's one
    // partial agg IS the streaming update, so the set-operations-capable
    // distinct sketch (and every overlap estimate derived from it)
    // refreshes per micro-batch with no history rescan, like the HLL
    // registers above
    import graft.functions.Sketches
    val ids = (1 to 300).map(i => s"user$i")
    val batch = Sketches.kmvBuild(ids.toDF("u"), Nil, col("u"), k = 64)
      .select("kmv").as[Seq[Long]].head()

    val mem = MemoryStream[String]
    val out = Sketches.kmvBuild(mem.toDF().toDF("u"), Nil, col("u"), k = 64)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("kmv_sink")
      .outputMode("complete").start()
    try {
      mem.addData(ids.take(120): _*)
      q.processAllAvailable()
      mem.addData(ids.drop(100): _*) // overlap re-offers dedup'd hashes
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("kmv_sink").as[Seq[Long]].collect().head
    assert(streamed === batch,
      "streamed KMV after two overlapping micro-batches must equal the batch sketch")
  }

  test("decontamination at ingest: overlap equals the batch contamination report") {
    import graft.streaming.StreamingQuality
    val bench = Seq(
      (100L, "the quick brown fox jumps"),
      (101L, "pack my box with liquor jugs")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a clean document with no overlap at all"),
      (2L, "the quick brown fox jumps over it"),   // shares bench grams
      (3L, "tiny"),                                 // shorter than n
      (4L, "pack my box with care pack my box with liquor")) // distinct overlap
      .toDF("doc_id", "text")
    val grams = StreamingQuality.benchmarkGramSet(bench, "doc_id", "text", n = 3)
    val batch = graft.operators.Corpus
      .contamination(docs, bench, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamingQuality.decontaminateAtIngest(
      mem.toDF().toDF("doc_id", "text"), "text", grams, n = 3, maxShared = 0)
    assert(out.isStreaming, "the gate must stay a stateless streaming frame")
    val q = out.select("doc_id", "n_shared", "keep").writeStream
      .format("memory").queryName("decon_sink").outputMode("append").start()
    try {
      mem.addData(1L -> "a clean document with no overlap at all",
        2L -> "the quick brown fox jumps over it", 3L -> "tiny",
        4L -> "pack my box with care pack my box with liquor")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("decon_sink")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed.keySet === Set(1L, 2L, 3L, 4L))
    // per-doc overlap equals the batch report (absent there = 0 shared)
    streamed.foreach { case (id, (nShared, keep)) =>
      assert(nShared === batch.getOrElse(id, 0L),
        s"doc $id: stream overlap must equal the batch contamination count")
      assert(keep === (nShared == 0L))
    }
    assert(streamed(2L)._1 > 0 && streamed(4L)._1 > 0)
  }

  test("novelty at ingest: per-micro-batch join against the persisted inventory equals the batch report") {
    import graft.streaming.StreamingDedup
    val corpus = Seq(
      (100L, "a b c d e"), (101L, "x y z w v")).toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> "a b c d",          // all seen
      2L -> "a b q r s",        // mixed
      3L -> "",                 // the [""] gram, unseen
      4L -> "totally fresh words here")
    // persist + reload the inventory — the production artifact hop; the
    // record path must hold NO full-vocabulary driver collection
    val root = java.nio.file.Files.createTempDirectory("graft_novelty").toString
    graft.state.Artifacts.saveNoveltyInventory(
      StreamingDedup.buildNoveltyInventory(corpus, "doc_id", "text", 3),
      s"$root/inv")
    val inv = graft.state.Artifacts.loadNoveltyInventory(spark, s"$root/inv")
    val batch = graft.operators.Dedup.noveltyReport(
        arrivals.toDF("doc_id", "text"), corpus, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap

    val mem = MemoryStream[(Long, String)]
    val got = collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
    val q = StreamingDedup.noveltyAtIngest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, inv,
      checkpoint = Some(s"$root/ckpt")) {
      (scored, _) =>
        scored.as[(Long, Long, Long, Long)].collect()
          .foreach(r => got(r._1) = r)
    }
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*) // second batch: order-invariance
      q.processAllAvailable()
    } finally q.stop()
    assert(got.keySet === batch.keySet)
    got.foreach { case (id, row) =>
      assert(row === batch(id), s"doc $id: stream score must equal batch")
    }
    assert(got(1L)._4 === 0L)
    assert(got(4L)._4 === 1000000L)
  }

  test("novelty at ingest, bloom form: stateless streaming frame, lower-bounds the exact report") {
    import graft.streaming.StreamingDedup
    val corpus = Seq(
      (100L, "a b c d e"), (101L, "x y z w v")).toDF("doc_id", "text")
    val arrivals = Seq(
      1L -> "a b c d", 2L -> "a b q r s", 3L -> "",
      4L -> "totally fresh words here")
    val blob = StreamingDedup.buildNoveltyBloom(
      corpus, "doc_id", "text", shingleN = 3)
    val batch = graft.operators.Dedup.noveltyReport(
        arrivals.toDF("doc_id", "text"), corpus, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup.noveltyAtIngestBloom(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, blob)
    assert(out.isStreaming, "the bloom door check must stay a stateless streaming frame")
    val q = out.writeStream.format("memory").queryName("novelty_bloom_sink")
      .outputMode("append").start()
    try {
      mem.addData(arrivals: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("novelty_bloom_sink")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (id, (_, n, unseen, ppm)) =>
      assert(n === batch(id)._2, s"doc $id: gram count is exact")
      assert(unseen <= batch(id)._3,
        s"doc $id: bloom n_unseen must lower-bound the exact count")
      assert(ppm <= batch(id)._4)
    }
    // at 10 bits/gram over this corpus no false positive fires: exact
    streamed.foreach { case (id, row) => assert(row === batch(id)) }
    // ceiling: refuse to build a blob past maxBytes instead of saturating
    val e = intercept[IllegalArgumentException] {
      StreamingDedup.buildNoveltyBloom(
        corpus, "doc_id", "text", shingleN = 3, maxBytes = 8L)
    }
    assert(e.getMessage.contains("ceiling"))
  }

  test("PPS sample at ingest: frozen total, membership equals the batch sample") {
    import graft.streaming.StreamingQuality
    val rows = (1L to 100L).map(i => (i, 10L + i % 7))
    val batchDf = rows.toDF("id", "w")
    // freeze the batch total as the artifact the stream is gated with
    val totalW = batchDf.agg(sum(col("w"))).as[Long].head()
    val batch = graft.operators.Corpus
      .samplePps(batchDf, col("id"), col("w"), expected = 25)
      .select("id", "ht_weight").as[(Long, Double)].collect().toSet

    val mem = MemoryStream[(Long, Long)]
    val out = StreamingQuality.samplePpsAtIngest(
      mem.toDF().toDF("id", "w"), col("id"), col("w"),
      expected = 25, totalWeight = totalW)
    assert(out.isStreaming, "the sample must stay a stateless streaming frame")
    val q = out.writeStream.format("memory").queryName("pps_sink")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(60): _*)
      mem.addData(rows.drop(60): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pps_sink")
      .select("id", "ht_weight").as[(Long, Double)].collect().toSet
    assert(streamed === batch,
      "ingest membership and HT weights must equal the batch sample at the same frozen total")
  }

  test("DSIR at ingest: frozen ratio artifact, weights and membership equal the batch resample") {
    import graft.streaming.StreamingQuality
    val docs = queries.Tables.t(spark, sf, "documents")
    val raw = docs.filter(col("source") =!= "src0")
    val target = docs.filter(col("source") === "src0")
    // frozen artifacts: the bucket ratio table and the raw-corpus total
    val ratio = graft.operators.Corpus.dsirRatioTable(raw, target, "doc_id", "text")
      .localCheckpoint(true)
    val batchW = graft.operators.Corpus.dsirWeights(raw, target, "doc_id", "text")
      .select("doc_id", "ds_weight").as[(Long, Long)].collect().toMap
    val totalW = batchW.values.sum
    val batchSample = graft.operators.Corpus
      .dsirResample(raw, target, "doc_id", "text", expected = 20)
      .select("doc_id", "ds_weight", "ht_weight")
      .as[(Long, Long, Double)].collect().toSet

    val rows = raw.select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val out = StreamingQuality.samplePpsAtIngest(
      StreamingQuality.dsirWeightAtIngest(
        mem.toDF().toDF("doc_id", "text"), "text", ratio),
      col("doc_id"), col("ds_weight"), expected = 20, totalWeight = totalW)
    assert(out.isStreaming, "the DSIR gate must stay a stateless streaming frame")
    val q = out.select("doc_id", "ds_weight", "ht_weight").writeStream
      .format("memory").queryName("dsir_sink").outputMode("append").start()
    try {
      mem.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
      mem.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dsir_sink")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batchSample,
      "ingest membership, ds_weight and ht_weight must equal the batch resample")
    // and the per-row weight fold equals the batch shuffle-computed weight
    // for EVERY doc, not just sampled ones
    val allW = StreamingQuality.dsirWeightAtIngest(
        raw.select("doc_id", "text"), "text", ratio)
      .select("doc_id", "ds_weight").as[(Long, Long)].collect().toMap
    assert(allW === batchW)
  }

  test("centroid assignment at ingest: arriving vectors tagged with trained cells") {
    // train offline on the seeded corpus, assign a stream against the
    // frozen centroids — the IVF ingest path
    val se = queries.SimilarityQueries.seededCorpus(spark, sf)
    val cents = graft.operators.Similarity
      .kMeansCentroids(se, "vec_id", "emb", k = 16, iters = 1)
    val vecs = se.limit(40).as[(Long, Seq[Float])].collect()

    val mem = MemoryStream[(Long, Seq[Float])]
    val out = graft.operators.Similarity.assignToCentroids(
      mem.toDF().toDF("vec_id", "emb")
        .withColumn("emb", col("emb").cast("array<float>")),
      "emb", cents)
    assert(out.isStreaming, "assignment must stay a narrow streaming projection")
    val q = out.select("vec_id", "cell").writeStream.format("memory")
      .queryName("assign_sink").outputMode("append").start()
    try {
      mem.addData(vecs.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("assign_sink").as[(Long, Int)].collect().toMap
    assert(got.size === 40)
    assert(got.forall { case (id, cell) => cell === (id % 16).toInt },
      "every arriving vector must land in its own planted cell")
  }

  test("chunk+pack at ingest: stateless on a stream, rows equal the batch form") {
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamingCorpus.chunkAndPackAtIngest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 8, overlapTokens = 2, capacity = 20)
    assert(out.isStreaming, "chunk+pack must stay a stateless streaming frame")
    val q = out.writeStream.format("memory").queryName("pack_sink")
      .outputMode("append").start()
    val data = Seq(
      10L -> (1 to 50).map(i => s"a$i").mkString(" "),
      11L -> "short doc")
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pack_sink")
      .select("doc_id", "chunk_no", "chunk_tokens", "chunk_md5", "bin")
      .as[(Long, Int, Int, String, Int)].collect().toSet
    val batch = graft.streaming.StreamingCorpus.chunkAndPackAtIngest(
        data.toDF("doc_id", "text"), "doc_id", "text",
        chunkTokens = 8, overlapTokens = 2, capacity = 20)
      .select("doc_id", "chunk_no", "chunk_tokens", "chunk_md5", "bin")
      .as[(Long, Int, Int, String, Int)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("incremental PageRank at ingest: per-batch refresh equals the composed batch recurrence, replay-idempotent") {
    // the graph family's streaming deployment: crawl edges arrive, the
    // standing rank artifact refreshes per micro-batch via warm-start
    // rounds on the merged edge log. Pinned against a BATCH replay of
    // the identical refresh schedule (exact integer equality), plus a
    // re-run of the last batch id to prove exactly-once via versioned
    // artifacts.
    import graft.operators.Graph
    import graft.streaming.StreamingGraph
    val root = java.nio.file.Files.createTempDirectory("graft_pr_ingest").toString
    val state = s"$root/state"
    val e1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val e2 = Seq((4L, 1L), (3L, 4L)) // a new page links in mid-stream

    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("src", "dst").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(StreamingGraph.pageRankAtIngest(state, roundsPerBatch = 2))
      .start()
    try {
      mem.addData(e1: _*); q.processAllAvailable()
      mem.addData(e2: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingGraph.standingRanks(spark, state)
      .as[(Long, Long)].collect().toMap
    // batch replay: 2 rounds on e1 from cold, then 2 rounds on e1∪e2
    // from that standing frame
    val cold = Seq.empty[(Long, Long)].toDF("node", "pr_rank")
    val replay = Graph.pageRankRounds((e1 ++ e2).toDF("src", "dst"),
        Graph.pageRankRounds(e1.toDF("src", "dst"), cold, 2), 2)
      .as[(Long, Long)].collect().toMap
    assert(streamed === replay)
    assert(streamed.contains(4L), "the mid-stream node must be ranked")

    // replay the LAST batch id (the failure-recovery path): the refresh
    // re-derives from the same pre-state, so the artifact is unchanged
    StreamingGraph.ingestBatch(e2.toDF("src", "dst"), state,
      batchId = 1L, rounds = 2)
    val after = StreamingGraph.standingRanks(spark, state)
      .as[(Long, Long)].collect().toMap
    assert(after === streamed, "batch replay must not advance the ranks")
  }

  test("standingRanks skips a newest ranks/v=N that has no _SUCCESS marker") {
    val state = java.nio.file.Files.createTempDirectory("graft_pr_torn").toString
    Seq((1L, 10L)).toDF("node", "pr_rank")
      .write.parquet(s"$state/ranks/v=1")
    // a refresh still writing v=2: its files are there, its marker is not
    Seq((1L, 20L)).toDF("node", "pr_rank")
      .write.parquet(s"$state/ranks/v=2")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$state/ranks/v=2/_SUCCESS"))
    assert(graft.streaming.StreamingGraph.standingRanks(spark, state)
      .as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
    // the harness's pre-state read keeps the raw listing
    assert(graft.streaming.StreamingGraph.standingRanks(spark, state, below = Some(3L))
      .as[(Long, Long)].collect().toSeq === Seq((1L, 20L)))
  }

  test("fuzzy match at ingest: streamed typo variants equal the batch operator") {
    // entity resolution at the door: frozen gram-rarity artifact trained
    // in batch, arriving names prefix-indexed against it, in-bucket exact
    // Levenshtein. Deduped stream output == batch fuzzyKeyPairs over all
    // streamed names, including a cross-batch pair, a short-pool pair
    // (zero shared bigrams), and a name unseen at training time.
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val train = Seq("kitten", "mitten", "sitting", "ab").toDF("name")
    // through the persistence hop: the production artifact path
    val rarityPath = java.nio.file.Files
      .createTempDirectory("graft_fuzzy_art").toString + "/rarity"
    graft.state.Artifacts.saveGramRarity(
      Dedup.gramRarityTable(train, "name", q = 2), rarityPath)
    val rarity = graft.state.Artifacts.loadGramRarity(spark, rarityPath)
    val mem = MemoryStream[String]
    val out = StreamingDedup.fuzzyMatchAtIngest(
      mem.toDF().toDF("name"), "name", rarity, maxDist = 2)
    val q = out.writeStream.format("memory").queryName("fuzzy_sink")
      .outputMode("append").start()
    val batch1 = Seq("kitten", "ab", "sitting", "kitten") // dup arrival
    val batch2 = Seq("sitten", "cd", "bitten", "zzzzzz")  // sitten unseen in training
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("fuzzy_sink")
      .select("name_a", "name_b", "dist")
      .as[(String, String, Int)].collect().toSet // multi-bucket emits dedup here
    val all = (batch1 ++ batch2).toDF("name")
    val batch = Dedup.fuzzyKeyPairs(all, "name", maxDist = 2)
      .as[(String, String, Int)].collect().toSet
    assert(streamed === batch)
    assert(streamed.contains(("kitten", "sitten", 1)), "cross-batch pair")
    assert(streamed.contains(("ab", "cd", 2)), "zero-shared-gram short pair")
  }

  test("jaccard match at ingest: streamed docs equal the batch self-join, " +
      "including under a head-capped rarity artifact") {
    // exact-Jaccard dedup at the door: frozen shingle-df artifact trained
    // in batch; arriving docs prefix-indexed against it, in-bucket exact
    // set intersection. Deduped stream output == batch jaccardPairs over
    // all streamed docs — cross-batch pairs included — and stays equal
    // when the artifact keeps only its most frequent half (absent grams
    // tie at df 0: any consistent total order preserves completeness).
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val rnd = new scala.util.Random(91)
    val words = Seq("red", "fish", "blue", "bird", "green", "cat", "dog")
    val base = Seq.fill(14)((0 until (5 + rnd.nextInt(8)))
      .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    val near = base.take(5).map(t =>
      (t.split(" ").drop(1) :+ "tail").mkString(" "))
    val all = (base ++ near).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val train = all.take(10).toDF("doc_id", "text") // artifact sees a SUBSET
    // through the persistence hop: the production artifact path
    val dfPath = java.nio.file.Files
      .createTempDirectory("graft_jacc_art").toString + "/df"
    graft.state.Artifacts.saveShingleDf(
      Dedup.shingleDfTable(train, "doc_id", "text", shingleN = 3), dfPath)
    val full = graft.state.Artifacts.loadShingleDf(spark, dfPath)
    val capped = { // keep the most frequent half of the artifact
      val cut = full.values.toSeq.sorted(Ordering[Long].reverse)
        .take(math.max(1, full.size / 2)).min
      full.filter(_._2 >= cut)
    }
    val batchExpect = Dedup.jaccardPairs(all.toDF("doc_id", "text"),
        "doc_id", "text", shingleN = 3, minNum = 1, minDen = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batchExpect.nonEmpty, "corpus must contain a true pair")
    for ((rarity, tag) <- Seq((full, "full"), (capped, "capped"))) {
      val mem = MemoryStream[(Long, String)]
      val out = StreamingDedup.jaccardMatchAtIngest(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", rarity,
        shingleN = 3, minNum = 1, minDen = 2)
      val sink = s"jm_sink_$tag"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      val (b1, b2) = all.splitAt(9) // near-dups of batch-1 docs arrive in batch 2
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(sink)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
        .map { m: (Long, Long, Long, Long, Long) =>
          val (n, o, c, sn, so) = m
          if (o < n) (o, n, c, so, sn) else (n, o, c, sn, so)
        }
      assert(streamed === batchExpect, s"rarity=$tag")
    }
  }

  test("cosine match at ingest: streamed docs equal the batch operator against the inventory corpus") {
    // paraphrase check at the door: frozen corpus inventory trained in
    // batch; arriving docs score statelessly against it. Streamed match
    // set == batch cosinePairsAgainst over all streamed docs, including
    // a doc with corpus-unseen grams (dilution) and a boilerplate-capped
    // gram.
    import graft.streaming.StreamingSearch
    val corpus = Seq(
      (10L, "red fish blue fish red fish"),
      (11L, "red fish blue fish green bird"),
      (12L, "green bird green bird yellow cat"),
      (13L, "filler filler filler filler filler filler"),
      (14L, "filler filler filler filler filler extra"),
      (15L, "filler filler filler filler something else"),
      (16L, "filler filler filler words beyond cap")).toDF("doc_id", "text")
    // through the persistence hop: the production artifact path
    val cosPath = java.nio.file.Files
      .createTempDirectory("graft_cos_art").toString
    graft.state.Artifacts.saveCosineInventory(
      StreamingSearch.buildCosineInventory(
        corpus, "doc_id", "text", shingleN = 2, maxDf = 3), cosPath, spark)
    val inv = graft.state.Artifacts.loadCosineInventory(spark, cosPath)
    // 'filler filler' appears in 4 corpus docs > maxDf=3: boilerplate
    assert(inv.dropped.nonEmpty, "expected a df-capped gram in the corpus")
    val mem = MemoryStream[(Long, String)]
    val out = StreamingSearch.cosineMatchAtIngest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", inv,
      minSimNum = 3, minSimDen = 10)
    val q = out.writeStream.format("memory").queryName("cos_sink")
      .outputMode("append").start()
    val batch1 = Seq((1L, "red fish blue fish"), (2L, "green bird yellow cat"))
    val batch2 = Seq((3L, "red fish plus totally novel content"),
      (4L, "nothing the corpus ever saw"),
      (5L, "filler filler filler filler extra"))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cos_sink")
      .as[(Long, Long)].collect().toSet
    val batch = graft.operators.Search.cosinePairsAgainst(
        (batch1 ++ batch2).toDF("doc_id", "text"), corpus,
        "doc_id", "text", shingleN = 2, minSimNum = 3, minSimDen = 10,
        maxDf = 3)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.exists(_._1 == 1L), "close doc must match")
    assert(!streamed.exists(_._1 == 4L), "all-unseen doc cannot match")
  }

  test("components at ingest: standing families equal the full-history closure, replay-idempotent") {
    // dedup-family maintenance: pairs arrive per batch, the standing
    // (node, canonical) labeling refreshes incrementally — and must equal
    // the batch components over ALL pairs ever seen (the star-collapse
    // theorem), including a bridge pair that MERGES two standing families
    import graft.operators.Dedup
    import graft.streaming.StreamingGraph
    val root = java.nio.file.Files.createTempDirectory("graft_cc_ingest").toString
    val state = s"$root/state"
    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)) // families {1,2,3}, {10,11}
    val b2 = Seq((3L, 10L), (20L, 21L))          // bridge merges them; new family

    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("a_id", "b_id").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(StreamingGraph.componentsAtIngest(state))
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingGraph.standingComponents(spark, state)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.resolveComponentsStar((b1 ++ b2).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(streamed === full)
    assert(streamed(11L) === 1L, "bridged families must share one canonical")

    // replaying the last batch id re-derives from the same pre-state
    StreamingGraph.ingestPairs(b2.toDF("a_id", "b_id"), state, batchId = 1L)
    assert(StreamingGraph.standingComponents(spark, state)
      .as[(Long, Long)].collect().toMap === streamed)
  }

  test("quarantine guard: sustained failure aborts the batch instead of DLQing everything") {
    // the environmental case: EVERY sub-batch fails (sink down). The
    // harness must not reroute the whole healthy batch row-by-row into
    // the DLQ — past the fraction cap it aborts with the underlying error
    val mem = MemoryStream[(Long, String)]
    val dead = mutable.ArrayBuffer.empty[Long]
    val harness = Resilience.foreachBatchWithQuarantine(
      attempts = 1, intervalMs = 1, maxQuarantineFraction = 0.25) { (_, _) =>
      sys.error("sink down")
    } { (deadDf, _) => dead ++= deadDf.select("k").as[Long].collect() }
    val q = mem.toDS().toDF("k", "v").writeStream.foreachBatch(harness).start()
    val ex = intercept[Exception] {
      mem.addData((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
        (5L, "e"), (6L, "f"), (7L, "g"), (8L, "h"))
      q.processAllAvailable()
    }
    q.stop()
    val chain = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("quarantine budget exceeded"))
    assert(dead.size <= 2, s"cap ceil(8·0.25)=2, but ${dead.size} rows reached the DLQ")
  }

  test("MetricsListener records per-batch progress") {
    val listener = new MetricsListener
    spark.streams.addListener(listener)
    val mem = MemoryStream[Int]
    val q = mem.toDF().writeStream.format("noop").start()
    try {
      mem.addData(1, 2, 3)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    // listener events are delivered asynchronously
    val deadline = System.currentTimeMillis() + 10000
    while (listener.snapshots.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(listener.snapshots.exists(_.numInputRows === 3))
  }

  test("infinigram continuations at ingest equal the batch SA tally over " +
      "the union of batches, any batching") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the cat mat"),
      (2L, "the cat sat"),
      (3L, "a dog and the cat"),
      (4L, "the cat"))
    val pats = Set("the cat", "a dog")
    val mem = MemoryStream[(Long, String)]
    val counts = graft.streaming.StreamingSearch.continuationDeltasAtIngest(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", pats, n = 2)
      .groupBy("pattern", "next_tok").count()
    val q = counts.writeStream.format("memory").queryName("cont_counts")
      .outputMode("complete").start()
    try {
      mem.addData(docs.take(1))
      q.processAllAvailable()
      mem.addData(docs.drop(1))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cont_counts")
      .as[(String, String, Long)].collect().toSet
    // batch twin: the SA-indexed operator with k past any continuation
    // fan-out returns the full tally
    val batch = graft.operators.SuffixArray.ngramContinuations(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        pats.toSeq.toDF("pattern"), "pattern", n = 2, k = 100)
      .as[(String, String, Long)].collect().toSet
    assert(got === batch)
    assert(got.contains(("the cat", "</s>", 2L)), "doc-end sentinel rows")
  }
}

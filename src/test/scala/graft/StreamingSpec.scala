package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{KRecord, StreamingState}

/** Streaming-state semantics over MemoryStream micro-batches, mirroring the
  * reference's table-sync integration test
  * (/root/reference/kstream/global_table_stream_test.go:22-442): feed
  * records in controlled batches, assert the materialized state.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var nextSink = 0
  private def sinkName(): String = { nextSink += 1; s"graft_sink_$nextSink" }

  /** Run a streaming Dataset to a memory sink, one batch per addData call. */
  private def runBatches[T](
      mem: MemoryStream[T], out: org.apache.spark.sql.Dataset[_],
      mode: OutputMode)(batches: Seq[T]*): String = {
    val name = sinkName()
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    name
  }

  test("latestByKey: state keeps newest per key; tombstone deletes (A1 streaming)") {
    val mem = MemoryStream[KRecord]
    val name = runBatches(mem, StreamingState.latestByKey(mem.toDS()), OutputMode.Update())(
      Seq(KRecord("a", 1, "a1"), KRecord("b", 1, "b1")),
      Seq(KRecord("a", 2, "a2"), KRecord("a", 0, "stale")), // stale ord ignored
      Seq(KRecord("b", 9, null)) // tombstone
    )
    val rows = spark.table(name).as[KRecord].collect()
    // last emission per key reflects final state
    val lastByKey = rows.groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.ord) }
    assert(lastByKey("a").value === "a2")
    assert(lastByKey("b").value === null) // deletion surfaced downstream
  }

  test("latestByKeyWithTTL keeps state under the TTL and arms the timeout") {
    // ProcessingTimeTimeout makes the query run no-data batches on its
    // trigger cadence, so processAllAvailable never sees quiescence; poll
    // the sink with a deadline instead.
    val mem = MemoryStream[KRecord]
    val name = sinkName()
    val q = StreamingState.latestByKeyWithTTL(mem.toDS(), java.time.Duration.ofHours(1))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      mem.addData(KRecord("a", 1, "a1"))
      mem.addData(KRecord("a", 2, "a2")) // within TTL: state alive, newest wins
      val deadline = System.currentTimeMillis() + 60000
      // batch boundaries are timing-dependent; assert the final state
      def last = spark.table(name).as[KRecord].collect()
        .sortBy(_.ord).lastOption.map(_.value)
      while (!last.contains("a2") && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(last === Some("a2"))
    } finally q.stop()
  }

  test("latestByKeyWithTTL expiry: tombstone, then a stale ord wins") {
    val mem = MemoryStream[KRecord]
    val name = sinkName()
    val q = StreamingState.latestByKeyWithTTL(mem.toDS(), java.time.Duration.ofMillis(300))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      def emitted = spark.table(name).as[KRecord].collect().map(r => r.ord -> r.value).toSet
      def await(want: (Long, String)): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (!emitted.contains(want) && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(emitted.contains(want), s"expected $want in $emitted")
      }
      mem.addData(KRecord("a", 5, "v5"))
      await(5L -> "v5")
      // idle past the TTL: the timeout evicts the key and emits a tombstone
      await(5L -> null)
      // stale ord would lose to live state; it wins ⇒ state expired
      mem.addData(KRecord("a", 1, "v1"))
      await(1L -> "v1")
    } finally q.stop()
  }

  test("versionedUpsert: strict > comparator, ties keep first-seen (A2 streaming)") {
    val mem = MemoryStream[KRecord]
    val name = runBatches(mem, StreamingState.versionedUpsert(mem.toDS()), OutputMode.Update())(
      Seq(KRecord("k", 1, "v5-first", version = 5)),
      Seq(KRecord("k", 2, "v5-second", version = 5)), // tie: rejected
      Seq(KRecord("k", 3, "v6", version = 6)) // higher: wins
    )
    val emitted = spark.table(name).as[KRecord].collect().sortBy(_.ord).map(_.value)
    assert(emitted === Seq("v5-first", "v5-first", "v6"))
  }

  test("distinctUntilChanged suppresses consecutive duplicate values") {
    val mem = MemoryStream[KRecord]
    val name = runBatches(mem, StreamingState.distinctUntilChanged(mem.toDS()),
      OutputMode.Append())(
      Seq(KRecord("a", 1, "x")),
      Seq(KRecord("a", 2, "x")), // same value: suppressed
      Seq(KRecord("a", 3, "y")), // changed: emitted
      Seq(KRecord("a", 4, "y")) // same again: suppressed
    )
    val emitted = spark.table(name).as[KRecord].collect().sortBy(_.ord)
    assert(emitted.map(_.value).toSeq === Seq("x", "y"))
  }

  test("dedupWithinWatermark drops repeated identities (A3 streaming)") {
    val mem = MemoryStream[(String, Timestamp)]
    val df = mem.toDF().toDF("uuid", "ts")
    val out = StreamingState.dedupWithinWatermark(df, Seq("uuid"), "ts", "10 minutes")
    val name = runBatches(mem, out, OutputMode.Append())(
      Seq(("u1", Timestamp.valueOf("2024-01-01 00:00:00")),
        ("u1", Timestamp.valueOf("2024-01-01 00:00:01")), // dup in-batch
        ("u2", Timestamp.valueOf("2024-01-01 00:00:02"))),
      Seq(("u1", Timestamp.valueOf("2024-01-01 00:01:00"))) // dup across batches
    )
    assert(spark.table(name).select("uuid").as[String].collect().sorted === Seq("u1", "u2"))
  }

  test("streaming document dedup: fingerprint-duplicate docs dropped across batches") {
    val mem = MemoryStream[(Long, String, Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ts")
      .withColumn("fp", graft.functions.TextAnalysis.fingerprint(col("text")))
    val out = StreamingState.dedupWithinWatermark(df, Seq("fp"), "ts", "1 hour")
    val name = runBatches(mem, out, OutputMode.Append())(
      Seq((1L, "The Quick Fox!", Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "the quick fox", Timestamp.valueOf("2024-01-01 00:00:01"))), // dup modulo case/punct
      Seq((3L, "  THE  QUICK  FOX ", Timestamp.valueOf("2024-01-01 00:10:00")), // dup again
        (4L, "something new", Timestamp.valueOf("2024-01-01 00:10:01")))
    )
    assert(spark.table(name).select("doc_id").as[Long].collect().sorted === Seq(1L, 4L))
  }

  test("tumbling window counts with watermark (the operator class the reference lacks)") {
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "kind")
    val out = StreamingState.tumblingCounts(df, "ts", "5 minutes", "10 minutes", Seq("kind"))
    val name = runBatches(mem, out, OutputMode.Update())(
      Seq((Timestamp.valueOf("2024-01-01 00:01:00"), "x"),
        (Timestamp.valueOf("2024-01-01 00:09:00"), "x"),
        (Timestamp.valueOf("2024-01-01 00:11:00"), "x"))
    )
    val counts = spark.table(name)
      .select(col("window.start").cast("string"), col("n")).as[(String, Long)]
      .collect().toMap
    assert(counts === Map("2024-01-01 00:00:00" -> 2L, "2024-01-01 00:10:00" -> 1L))
  }

  test("firstMatchJoin reproduces the reference's single-slot buffer semantics") {
    val lMem = MemoryStream[KRecord]
    val rMem = MemoryStream[KRecord]
    val out = StreamingState.firstMatchJoin(lMem.toDS(), rMem.toDS())
    val name = sinkName()
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      lMem.addData(KRecord("a", 1, "l1")) // miss -> stashed, no emit
      q.processAllAvailable()
      rMem.addData(KRecord("a", 2, "r1")) // hit -> emit, NOT stashed
      q.processAllAvailable()
      rMem.addData(KRecord("a", 3, "r2")) // stored left lingers -> emits again
      q.processAllAvailable()
      rMem.addData(KRecord("b", 4, "rb")) // miss -> stashed
      lMem.addData(KRecord("b", 5, "lb")) // hit against stashed right
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table(name).as[KRecord].collect().sortBy(_.ord).map(_.value)
    assert(emitted.toSeq === Seq("l1|r1", "l1|r2", "lb|rb"))
  }

  test("stream-stream join matches within the time bound (J3 streaming)") {
    val lMem = MemoryStream[(String, Timestamp)]
    val rMem = MemoryStream[(String, Timestamp)]
    val l = lMem.toDF().toDF("lk", "ts")
    val r = rMem.toDF().toDF("rk", "ts")
    val joined = StreamingState.streamStreamJoin(
      l, r, "lk", "rk", "ts", "10 minutes", "5 minutes")
    val name = sinkName()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      lMem.addData(("a", Timestamp.valueOf("2024-01-01 00:00:00")),
        ("b", Timestamp.valueOf("2024-01-01 00:00:00")))
      rMem.addData(("a", Timestamp.valueOf("2024-01-01 00:02:00")), // in window
        ("b", Timestamp.valueOf("2024-01-01 00:30:00"))) // outside window
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(name).select("lk").as[String].collect() === Seq("a"))
  }

  test("stream-stream LEFT OUTER emits unmatched left once a match is impossible") {
    val lMem = MemoryStream[(String, Timestamp)]
    val rMem = MemoryStream[(String, Timestamp)]
    val joined = StreamingState.streamStreamJoin(
      lMem.toDF().toDF("lk", "ts"), rMem.toDF().toDF("rk", "ts"),
      "lk", "rk", "ts", "10 seconds", "5 seconds", joinType = "left_outer")
    val name = sinkName()
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      lMem.addData(("m", Timestamp.valueOf("2024-01-01 00:00:00")), // will match
        ("u", Timestamp.valueOf("2024-01-01 00:00:00")))            // never matches
      rMem.addData(("m", Timestamp.valueOf("2024-01-01 00:00:02")))
      q.processAllAvailable()
      // push BOTH watermarks far past u's join window so the unmatched
      // left row becomes emittable, then run the extra batches
      lMem.addData(("wm", Timestamp.valueOf("2024-01-01 01:00:00")))
      rMem.addData(("wm2", Timestamp.valueOf("2024-01-01 01:00:00")))
      q.processAllAvailable()
      lMem.addData(("wm3", Timestamp.valueOf("2024-01-01 02:00:00")))
      rMem.addData(("wm4", Timestamp.valueOf("2024-01-01 02:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select("lk", "rk").as[(String, Option[String])].collect().toMap
    assert(rows("m") === Some("m"))
    assert(rows.contains("u") && rows("u") === None) // emitted with null right
  }
}

package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingStateV2

/** The transformWithState (Spark 4 arbitrary-state API) forms, run on the
  * RocksDB state store provider they require.
  */
class StreamingStateV2Spec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocks[T](body: => T): T = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("snapshotEvery (punctuate): timer emits one snapshot per dirty key, then goes quiet") {
    import graft.streaming.StreamingStateV2.Snapshot
    val mem = MemoryStream[(String, Long, String)]
    withRocks {
      val q = StreamingStateV2.snapshotEvery(
          mem.toDS(), java.time.Duration.ofMillis(300))
        .writeStream.format("memory").queryName("graft_tws_snap")
        .outputMode(OutputMode.Append()).start()
      try {
        def snaps = spark.table("graft_tws_snap").as[Snapshot].collect().toSeq
        // three updates to k1 in one batch, before the timer fires →
        // ONE snapshot carrying the highest-seq value and the update count
        // (one addData call = one microbatch, so the counter can't be
        // split by an early timer); "latest" is decided by the seq field,
        // not row order, so the assertion is retry-deterministic
        mem.addData(("k1", 1L, "v1"), ("k1", 2L, "v2"), ("k1", 3L, "v3"), ("k2", 1L, "w1"))
        val d1 = System.currentTimeMillis() + 60000
        while (snaps.size < 2 && System.currentTimeMillis() < d1)
          Thread.sleep(100)
        val byKey = snaps.groupBy(_.key)
        assert(byKey("k1") === Seq(Snapshot("k1", "v3", 3)))
        assert(byKey("k2") === Seq(Snapshot("k2", "w1", 1)))
        // clean keys register no further timers: no new snapshots arrive
        Thread.sleep(1200)
        assert(snaps.size === 2, s"clean keys must stay quiet, got $snaps")
        // a new update re-arms the timer for that key only
        mem.addData(("k1", 4L, "v4"))
        val d2 = System.currentTimeMillis() + 60000
        while (snaps.size < 3 && System.currentTimeMillis() < d2)
          Thread.sleep(100)
        assert(snaps.count(_.key == "k1") === 2)
        assert(snaps.filter(_.key == "k1").map(_.value).toSet === Set("v3", "v4"))
      } finally q.stop()
    }
  }

  test("asOfEnrich: events see the table value as of their own timestamp") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val mem = MemoryStream[AsOfInput]
    val out = withRocks {
      val q = StreamingStateV2.asOfEnrich(mem.toDS())
        .writeStream.format("memory").queryName("graft_tws_asof")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(
          AsOfInput("k", 10, "v10", isTable = true),
          AsOfInput("k", 20, "v20", isTable = true))
        q.processAllAvailable()
        mem.addData(
          AsOfInput("k", 15, "e15", isTable = false), // between versions ⇒ v10
          AsOfInput("k", 25, "e25", isTable = false), // after both ⇒ v20
          AsOfInput("k", 5, "e5", isTable = false))   // before any ⇒ none
        q.processAllAvailable()
        // a later version must not rewrite history for later events
        mem.addData(AsOfInput("k", 30, "v30", isTable = true))
        mem.addData(AsOfInput("k", 22, "e22", isTable = false)) // still v20
        q.processAllAvailable()
      } finally q.stop()
      spark.table("graft_tws_asof").as[AsOfMatch].collect()
        .map(m => m.ts -> m.asOf).toMap
    }
    assert(out === Map(15L -> Some("v10"), 25L -> Some("v20"),
      5L -> None, 22L -> Some("v20")))
  }

  test("asOfEnrich: same-ts table upsert in the same batch applies before the event") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val mem = MemoryStream[AsOfInput]
    val out = withRocks {
      val q = StreamingStateV2.asOfEnrich(mem.toDS())
        .writeStream.format("memory").queryName("graft_tws_asof_tie")
        .outputMode(OutputMode.Append()).start()
      try {
        // event listed FIRST so iterator order alone would miss the
        // version; the (ts, table-before-event) sort must fix it
        mem.addData(
          AsOfInput("k", 10, "e10", isTable = false),
          AsOfInput("k", 10, "v10", isTable = true))
        q.processAllAvailable()
      } finally q.stop()
      spark.table("graft_tws_asof_tie").as[AsOfMatch].collect()
        .map(m => m.ts -> m.asOf).toMap
    }
    // matches the cross-batch rule: a version at ts T is visible to an
    // event at ts T (the probe is version.ts <= event.ts)
    assert(out === Map(10L -> Some("v10")))
  }

  test("asOfEnrich caps retained versions per key") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val mem = MemoryStream[AsOfInput]
    val out = withRocks {
      val q = StreamingStateV2.asOfEnrich(mem.toDS(), retainVersions = 1)
        .writeStream.format("memory").queryName("graft_tws_asof_cap")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(
          AsOfInput("k", 10, "v10", isTable = true),
          AsOfInput("k", 20, "v20", isTable = true))
        q.processAllAvailable()
        mem.addData(AsOfInput("k", 15, "e15", isTable = false)) // v10 evicted
        q.processAllAvailable()
      } finally q.stop()
      spark.table("graft_tws_asof_cap").as[AsOfMatch].collect()
        .map(m => m.ts -> m.asOf).toMap
    }
    assert(out === Map(15L -> None))
  }

  test("asOfEnrich MapState survives a checkpointed restart") {
    import graft.streaming.StreamingStateV2.{AsOfInput, AsOfMatch}
    val dir = java.nio.file.Files.createTempDirectory("graft_tws_ckpt").toString
    val mem = MemoryStream[AsOfInput]
    def start() = StreamingStateV2.asOfEnrich(mem.toDS())
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append()).start()
    withRocks {
      // phase 1: load version history, then stop
      val q1 = start()
      try {
        mem.addData(AsOfInput("k", 10, "v10", isTable = true))
        q1.processAllAvailable()
      } finally q1.stop()
      // phase 2: restart from the checkpoint; an event must still see the
      // pre-restart version
      val q2 = start()
      try {
        mem.addData(AsOfInput("k", 15, "e15", isTable = false))
        q2.processAllAvailable()
      } finally q2.stop()
    }
    val out = spark.read.parquet(s"$dir/out").as[AsOfMatch].collect()
    assert(out.map(m => m.ts -> m.asOf).toMap === Map(15L -> Some("v10")))
  }
}

package graft

import org.apache.spark.sql.GlobalTableJoins
import org.apache.spark.sql.functions._

import graft.dsl.{KGlobalTable, KStream}

/** Global-table join semantics — the reference's three oracle cases from
  * /root/reference/kstream/processors/join/global_table_joiner_test.go:
  * 70-168 (inner hit, inner miss ⇒ record dropped, left miss ⇒ nil right),
  * with the same primary_key/foreign_key fixture shape (:15-42).
  */
class JoinSpec extends SparkSpec {
  import spark.implicits._

  private def leftRecords = Seq((100, 1), (200, 2), (300, 9))
    .toDF("primary_key", "foreign_key")
  private def rightRecords = Seq((1, "one"), (2, "two"), (3, "three"))
    .toDF("fk", "name")

  test("inner join: hit enriches, miss drops the record (J1)") {
    val table = KGlobalTable.fromStatic(rightRecords, "fk")
    val out = KStream(leftRecords, "primary_key")
      .joinGlobalTable(table, col("foreign_key"))
      .toDF.select("primary_key", "name").as[(Int, String)].collect().toMap
    assert(out === Map(100 -> "one", 200 -> "two")) // 300 dropped: fk 9 missing
  }

  test("left join: miss keeps the record with NULL right side (J2)") {
    val table = KGlobalTable.fromStatic(rightRecords, "fk")
    val out = KStream(leftRecords, "primary_key")
      .joinGlobalTable(table, col("foreign_key"), "left")
      .toDF.select("primary_key", "name").as[(Int, Option[String])].collect().toMap
    assert(out === Map(100 -> Some("one"), 200 -> Some("two"), 300 -> None))
  }

  test("global table from changelog: latest wins, tombstone deletes (A1)") {
    val changelog = Seq(
      (1, 1L, Some("v1")), (1, 3L, Some("v3")), (1, 2L, Some("v2")),
      (2, 1L, Some("x")), (2, 2L, None), // newest is a tombstone ⇒ deleted
      (3, 1L, None), (3, 2L, Some("y")) // tombstone then value ⇒ alive
    ).toDF("k", "off", "v")
    val table = KGlobalTable.fromChangelog(changelog, "k", Seq(col("off")),
      tombstoneCol = Some("v"))
    val snap = table.all.select("k", "v").as[(Int, String)].collect().toMap
    assert(snap === Map(1 -> "v3", 3 -> "y"))
  }

  test("stream-stream join pairs each left with the FIRST right per key (J3)") {
    val left = Seq((10, "l1"), (20, "l2"), (30, "l3")).toDF("k", "lv")
    val right = Seq((10, 1L, "rA"), (10, 2L, "rB"), (20, 5L, "rC"))
      .toDF("rk", "off", "rv")
    val out = KStream(left, "k")
      .joinStream(KStream(right, "rk"), Seq(col("off")))
      .toDF.select("k", "rv").as[(Int, String)].collect().toMap
    // k=10 joins only the first (off=1) right record; k=30 has no match
    assert(out === Map(10 -> "rA", 20 -> "rC"))
  }

  test("as-of join picks the latest right row at or before the left time") {
    val quotes = Seq( // (symbol, time, price)
      ("A", 1L, 10.0), ("A", 5L, 11.0), ("A", 9L, 12.0),
      ("B", 4L, 50.0)
    ).toDF("q_sym", "q_t", "price")
    val trades = Seq( // (trade id, symbol, time)
      (100, "A", 5L), // exactly at a quote: inclusive
      (101, "A", 8L), // between quotes: takes t=5
      (102, "B", 2L), // before any quote
      (103, "B", 99L)
    ).toDF("trade_id", "sym", "t")

    val inner = graft.operators.Temporal.asOfJoin(
        trades, quotes, col("sym"), col("q_sym"), col("t"), col("q_t"),
        leftId = Seq("trade_id"))
      .select("trade_id", "price").as[(Int, Double)].collect().toMap
    assert(inner === Map(100 -> 11.0, 101 -> 11.0, 103 -> 50.0)) // 102 dropped

    val left = graft.operators.Temporal.asOfJoin(
        trades, quotes, col("sym"), col("q_sym"), col("t"), col("q_t"),
        leftId = Seq("trade_id"), joinType = "left")
      .select("trade_id", "price").as[(Int, Option[Double])].collect().toMap
    assert(left(102) === None)

    val banded = graft.operators.Temporal.asOfJoin(
        trades, quotes, col("sym"), col("q_sym"), col("t"), col("q_t"),
        leftId = Seq("trade_id"), tolerance = Some(lit(10L)))
      .select("trade_id", "price").as[(Int, Double)].collect().toMap
    assert(!banded.contains(103)) // quote at t=4 is older than 99-10
  }

  test("point lookup and range scan over the table (A4)") {
    val table = KGlobalTable.fromStatic(rightRecords, "fk")
    assert(table.get(2).select("name").as[String].collect() === Seq("two"))
    assert(table.range(1, 2).count() === 2)
  }

  test("range join equals the naive BETWEEN join, at any band width") {
    import graft.operators.Temporal
    // points 0..99; intervals of assorted widths incl. point-width and
    // an inverted one (matches nothing)
    val probe = (0L until 100L).map(i => (i, i * 7L % 100)).toDF("pid", "p")
    val ivs = Seq(
      (1L, 5L, 20L), (2L, 18L, 18L), (3L, 50L, 99L), (4L, 70L, 60L),
      (5L, 0L, 3L), (6L, 15L, 45L))
      .toDF("iid", "lo", "hi")
    val naive = probe.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty && !naive.exists(_._2 == 4L))
    for (band <- Seq(1L, 7L, 32L, 1000L)) {
      val banded = Temporal.rangeJoin(probe, ivs, "p", "lo", "hi", band)
        .select("pid", "iid").as[(Long, Long)].collect()
      assert(banded.toSet === naive, s"band=$band diverges from naive")
      assert(banded.length === naive.size, s"band=$band duplicated matches")
    }
  }

  test("range join left keeps unmatched probes with null interval side") {
    import graft.operators.Temporal
    val probe = Seq((1L, 10L), (2L, 500L)).toDF("pid", "p")
    val ivs = Seq((1L, 5L, 20L)).toDF("iid", "lo", "hi")
    val out = Temporal.rangeJoin(probe, ivs, "p", "lo", "hi", band = 16L,
        joinType = "left")
      .select("pid", "iid").as[(Long, Option[Long])].collect().toMap
    assert(out === Map(1L -> Some(1L), 2L -> None))
  }

  test("interval overlap join equals the naive overlap join, exactly once, at any band width") {
    import graft.operators.Temporal
    // assorted widths, touching endpoints (inclusive), containment,
    // identical intervals, negative coordinates (floor-division band
    // arithmetic), and an inverted interval that matches nothing
    val as = Seq(
      (1L, 0L, 10L), (2L, 10L, 10L), (3L, 25L, 90L), (4L, -35L, -5L),
      (5L, 40L, 30L), (6L, 7L, 8L))
      .toDF("aid", "a_lo", "a_hi")
    val bs = Seq(
      (10L, 5L, 7L), (11L, 10L, 24L), (12L, 60L, 61L), (13L, -100L, -36L),
      (14L, -6L, 2L), (15L, 25L, 90L), (16L, 31L, 39L))
      .toDF("bid", "b_lo", "b_hi")
    // the operator's contract: a degenerate (hi < lo) interval is EMPTY
    // and matches nothing — the bare overlap formula alone would still
    // pass (40,30)×(25,90), so the naive baseline filters them too
    val naive = as.filter(col("a_hi") >= col("a_lo"))
      .join(bs.filter(col("b_hi") >= col("b_lo")),
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty && !naive.exists(_._1 == 5L),
      "inverted interval must match nothing")
    assert(naive.contains((2L, 11L)), "touching endpoints must match")
    assert(naive.contains((4L, 14L)), "negative-coordinate overlap must match")
    for (band <- Seq(1L, 7L, 32L, 1000L)) {
      val banded = Temporal.intervalOverlapJoin(
          as, bs, "a_lo", "a_hi", "b_lo", "b_hi", band)
        .select("aid", "bid").as[(Long, Long)].collect()
      assert(banded.toSet === naive, s"band=$band diverges from naive")
      assert(banded.length === naive.size, s"band=$band duplicated matches")
    }
  }

  test("joinGlobalTable equals the plain join row for row, inner and left") {
    // a wide parquet dim whose BIGINT key 3 repeats and one key is NULL; the
    // table keeps two of its columns, and the stream's INT fk casts to BIGINT
    val dir = java.nio.file.Files.createTempDirectory("graft_gt_dim").toString
    Seq[(Option[Long], String, String)](
      (Some(1L), "one", "w"), (Some(2L), "two", "w"), (Some(3L), "three-a", "w"),
      (Some(3L), "three-b", "w"), (None, "no key", "w"))
      .toDF("k", "name", "wide").write.mode("overwrite").parquet(dir)
    val snapshot = spark.read.parquet(dir).select("k", "name")
    val table = KGlobalTable.fromStatic(snapshot, "k")
    // a NULL fk, an unmatched fk (9), two records on the duplicated key
    val events = Seq((1, Some(1)), (2, Some(2)), (3, None), (4, Some(9)), (5, Some(3)), (6, Some(3)))
      .toDF("id", "fk")
    eachAqe { aqe =>
      for (jt <- Seq("inner", "left")) {
        val viaTable = KStream(events, "id").joinGlobalTable(table, col("fk"), jt).toDF
        val plain = events.join(snapshot, events("fk") === snapshot("k"), jt)
        assert(sortedRows(viaTable) === sortedRows(plain), s"$jt join, AQE $aqe")
        assert(viaTable.columns.toSeq === Seq("id", "fk", "k", "name"))
      }
    }
    val inner = KStream(events, "id").joinGlobalTable(table, col("fk")).toDF.select("id", "name")
    assert(sortedRows(inner) === Seq(
      "[1,one]", "[2,two]", "[5,three-a]", "[5,three-b]", "[6,three-a]", "[6,three-b]"))
  }

  test("starJoin over two global tables equals the plain two-join chain") {
    val orders = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    val cust = spark.read.parquet(s"$sf/customer.parquet").select("c_custkey", "c_nationkey")
    val nation = spark.read.parquet(s"$sf/nation.parquet").select("n_nationkey", "n_name")
    eachAqe { aqe =>
      val viaTables = KStream(orders, "o_orderkey").starJoin(
        KGlobalTable.fromStatic(cust, "c_custkey") -> col("o_custkey"),
        KGlobalTable.fromStatic(nation, "n_nationkey") -> col("c_nationkey")).toDF
      val plain = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
      val got = sortedRows(viaTables)
      assert(got.nonEmpty)
      assert(got === sortedRows(plain), s"AQE $aqe")
    }
  }

  test("installing the global-table strategy twice leaves one instance") {
    GlobalTableJoins.install(spark)
    GlobalTableJoins.install(spark)
    GraftExtensions.ensure(spark)
    assert(spark.experimental.extraStrategies.count(_ eq GlobalTableJoins) === 1)
  }
}

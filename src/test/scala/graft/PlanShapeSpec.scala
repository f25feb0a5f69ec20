package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.dsl.{KGlobalTable, KStream}
import graft.io.{KafkaIO, WireLog}
import graft.plans.PlanChecks._

/** Scale properties asserted at the plan level: these are the shapes the
  * queries were designed to have (SURVEY §4.3, README); a change that
  * silently loses a pushdown, un-broadcasts a dim, or adds a shuffle
  * fails here, not in a 100 TB run.
  */
class PlanShapeSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q1: filter pushed to the scan, pruned read schema, one agg shuffle") {
    val df = q("q1_pricing_summary")
    assert(pushedFilters(df).exists(_.contains("l_shipdate")))
    val schema = readSchemas(df).head
    assert(!schema.contains("l_comment") && !schema.contains("l_partkey"),
      s"scan reads more than needed: $schema")
    assert(countShuffles(df) === 1)
  }

  /** The one scale-killer class: an explicit broadcast() hint is honored by
    * Spark unconditionally, so a hint on a customer/orders/lineitem-derived
    * side that is sub-second at sf0.1 is a driver OOM at 100 TB. These
    * queries must never carry one — bounded dims (region/nation/1-row
    * aggs) may hint; everything sf-scaled is left to threshold + AQE.
    */
  test("q5/q7/q8/q10/q18/topN: no forced broadcast of an sf-scaled side") {
    for (name <- Seq("q5_region_revenue", "q7_volume_shipping", "q8_market_share",
        "q10_returned_revenue", "q18_large_orders", "q_topn_per_group")) {
      val hinted = broadcastHintedLeaves(q(name))
      val bad = hinted.filter(p =>
        Seq("customer", "orders", "lineitem").exists(p.contains))
      assert(bad.isEmpty, s"$name force-broadcasts sf-scaled side(s): $bad")
    }
  }

  test("q5: bounded dims still hash-join; no cartesian fallback") {
    val df = q("q5_region_revenue")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    // region/nation sides stay broadcast even with no forced fact hints
    assert(countNodes(df, "BroadcastHashJoin") >= 2)
  }

  test("q3: top-k runs as TakeOrdered, not a global sort") {
    val df = q("q3_top_orders")
    assert(hasNode(df, "TakeOrderedAndProject"))
    assert(countNodes(df, "Sort") === 0)
  }

  test("q6: no joins, no shuffle except the final single-row aggregate") {
    val df = q("q6_forecast_revenue")
    assert(countNodes(df, "Join") === 0)
    assert(pushedFilters(df).exists(_.contains("l_shipdate")))
  }

  test("knn: no window operator; bounded topk aggregate with partial merge") {
    val df = q("q_knn_bruteforce")
    assert(countNodes(df, "Window") === 0)
    assert(mentions(df, "topk_agg"))
    assert(hasNode(df, "ObjectHashAggregate"))
  }

  test("hard negatives: anchors broadcast, corpus unshuffled, bounded topk — no window") {
    val df = q("q_hard_negatives")
    assert(countNodes(df, "Window") === 0)
    assert(mentions(df, "topk_agg"))
    // the label-mismatch predicate rides the broadcast join; the corpus
    // side must stream with no exchange before the bounded aggregation
    assert(hasNode(df, "BroadcastNestedLoopJoin") || hasNode(df, "BroadcastHashJoin"))
  }

  test("collocations: narrow pair transform, vocab joins, top-k as TakeOrdered") {
    val df = q("q_collocations")
    assert(hasNode(df, "TakeOrderedAndProject"), "top-k regressed to a global sort")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("global-table join keeps the table side broadcast (J1)") {
    val df = q("q_join_global_inner")
    assert(hasNode(df, "BroadcastHashJoin"))
    assert(countShuffles(df) === 0) // stream side flows without shuffling
  }

  test("as-of join ships the sorted form: one key shuffle, ordered scan, NO pair join") {
    // unbounded look-back ⇒ asOfJoinSorted: union + per-key running
    // last(), never the L×V range-join intermediate (measured 10.5× at a
    // 10× scale-up on q_join_ktable before the switch — SCALING.md)
    val df = q("q_asof_join")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Join") === 0, "sorted as-of must not materialize L×V pairs")
    assert(countNodes(df, "Window") === 1) // the one deliberate ordered scan
    assert(countShuffles(df) === 1, "one hash partition on the key")
  }

  test("latest-by-key is a partial-agg max_by, not a window sort (A1)") {
    val df = q("q_latest_by_key")
    assert(countNodes(df, "Window") === 0)
    assert(mentions(df, "max_by"))
  }

  test("q4: EXISTS runs as a semi-join with the date filter pushed down") {
    val df = q("q4_priority_late")
    assert(mentions(df, "LeftSemi"))
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(pushedFilters(df).exists(_.contains("o_orderdate")))
  }

  test("q19: disjunctive legs pushed to BOTH scans, join stays broadcast") {
    val df = q("q19_disjunctive")
    assert(hasNode(df, "BroadcastHashJoin"))
    // each side's OR-of-ANDs reaches its parquet scan
    assert(pushedFilters(df).exists(f => f.contains("l_quantity") && f.contains("Or")))
    assert(pushedFilters(df).exists(f => f.contains("p_brand") && f.contains("Or")))
  }

  test("banded as-of join is an equi-join on (key, band), never a nested loop") {
    val df = q("q_asof_banded")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
    assert(mentions(df, "max_by"))
  }

  test("simhash pairs: signatures aggregate once, pair join is equi on (band, block)") {
    val df = q("q_simhash_pairs")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("image dHash: one pruned scan, narrow MapPartitions chain, zero shuffles") {
    // encode→ImageIO-decode→9×8 box fold is per-row work; fixed 8-byte
    // signatures out, payloads never shuffle
    val df = q("q_image_dhash")
    assert(countShuffles(df) === 0, s"dhash must stay narrow:\n${formatted(df)}")
    assert(countNodes(df, "Scan parquet") === 1)
    assert(!readSchemas(df).head.contains("text"),
      "dhash reads only doc_id, never the text payload")
    assert(countNodes(df, "MapPartitions") === 2) // encode + dhash
  }

  test("image near-dup pairs: candidate join is equi on (band, block) over 8-byte signatures") {
    // the decode half is truncated behind the signatures' localCheckpoint;
    // the visible pair plan must be the banded equi-join — no nested
    // loop, no cartesian, no window sort, payloads long gone
    val df = q("q_image_neardup")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("audio fingerprint: one pruned scan, narrow MapPartitions chain, zero shuffles") {
    // encode→decode→65-window energy fold is per-row work; fixed 8-byte
    // signatures out, payloads never shuffle
    val df = q("q_audio_fingerprint")
    assert(countShuffles(df) === 0, s"fingerprint must stay narrow:\n${formatted(df)}")
    assert(countNodes(df, "Scan parquet") === 1)
    assert(!readSchemas(df).head.contains("text"))
    assert(countNodes(df, "MapPartitions") === 2) // encode + fingerprint
  }

  test("audio near-dup pairs: banded equi-join over 8-byte signatures, no brute force") {
    val df = q("q_audio_neardup")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("top-N per group uses the bounded aggregate, not a window sort") {
    val df = q("q_topn_per_group")
    assert(countNodes(df, "Window") === 0)
    assert(mentions(df, "topk_agg"))
    assert(hasNode(df, "BroadcastHashJoin"))
  }

  test("chunk dedup: one explode pass, one agg shuffle, no join") {
    val df = q("q_chunk_dedup")
    assert(countNodes(df, "Join") === 0)
    assert(hasNode(df, "Generate")) // the chunk explode
    assert(countShuffles(df) === 1)
  }

  test("hash sampling pushes nothing to the driver and stays a narrow filter") {
    val df = q("q_sample_hash")
    assert(countNodes(df, "Join") === 0)
    assert(countShuffles(df) === 0)
  }

  test("rollup expands grouping sets before ONE partial-agg shuffle") {
    val df = q("q_rollup_pricing")
    assert(hasNode(df, "Expand"))
    assert(countShuffles(df) === 1)
  }

  test("quantiles: one aggregate (single percentile buffer), one shuffle") {
    val df = q("q_quantiles")
    assert(countShuffles(df) === 1)
    assert(countNodes(df, "Sort") === 0) // buffered percentile, no global sort
  }

  test("q7: bounded nation dims broadcast; fact joins never nested-loop") {
    val df = q("q7_volume_shipping")
    assert(countNodes(df, "BroadcastHashJoin") >= 2)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
  }

  test("q9: only the lineitem-orders fact join shuffles; dims broadcast") {
    val df = q("q9_product_profit")
    assert(countNodes(df, "BroadcastHashJoin") >= 2)
    assert(pushedFilters(df).exists(_.contains("p_name")))
  }

  test("q16: denylist is a broadcast anti-join, part filter pushed down") {
    val df = q("q16_part_supplier_variety")
    assert(mentions(df, "LeftAnti"))
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(pushedFilters(df).exists(_.contains("p_brand")))
  }

  test("q20: nested INs run as broadcast semi-joins with the date pushed down") {
    val df = q("q20_part_promotion")
    assert(mentions(df, "LeftSemi"))
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(pushedFilters(df).exists(_.contains("l_shipdate")))
  }

  test("q22: scalar threshold broadcast, anti-join for idleness, no NL join") {
    val df = q("q22_idle_customers")
    assert(mentions(df, "LeftAnti"))
    assert(countNodes(df, "CartesianProduct") === 0)
    // recent-orders date filter reaches the orders scan
    assert(pushedFilters(df).exists(_.contains("o_orderdate")))
  }

  test("cube expands grouping sets before ONE partial-agg shuffle") {
    val df = q("q_cube_pricing")
    assert(hasNode(df, "Expand"))
    assert(countShuffles(df) === 1)
  }

  test("q8: bounded dims broadcast, part filter pushed; no nested loop") {
    val df = q("q8_market_share")
    assert(countNodes(df, "BroadcastHashJoin") >= 3)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(pushedFilters(df).exists(_.contains("p_type")))
  }

  test("q13: histogram is a left-outer join plus two agg shuffles, no NL join") {
    val df = q("q13_order_count_distribution")
    assert(mentions(df, "LeftOuter"))
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countShuffles(df) >= 2)
  }

  test("q17: correlated avg runs as broadcast probes, brand filter pushed down") {
    val df = q("q17_small_quantity_revenue")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(hasNode(df, "BroadcastHashJoin"))
    assert(pushedFilters(df).exists(_.contains("p_brand")))
  }

  test("q21: single fact join; post-join gates add no shuffle") {
    val df = q("q21_sole_late_supplier")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    // supplier attaches by broadcast, never a shuffled fact-dim join
    assert(countNodes(df, "BroadcastHashJoin") >= 1)
    // the single-pass design: lineitem⋈orders shuffles both inputs once;
    // BOTH downstream groupBys reuse the join's hash partitioning on
    // l_orderkey, so only the final s_name agg adds a third exchange —
    // a fourth shuffle means a gate fell out of the join's distribution
    assert(countShuffles(df) <= 3,
      "post-join aggregates must reuse the join partitioning")
  }

  test("bm25: token explode runs once (materialized), top-k as TakeOrdered") {
    val df = q("q_bm25_topk")
    // the per-doc agg is localCheckpointed before the global-stats row and
    // the scorer consume it, so the final plan reads the materialized
    // frame — the token explode cannot appear (= run) more than once
    assert(countNodes(df, "Generate") <= 1)
    assert(hasNode(df, "TakeOrderedAndProject"))
    assert(countNodes(df, "SortMergeJoin") === 0)
  }

  test("gram matrix: one-buffer aggregate, no per-entry explode before the agg") {
    val df = q("q_embed_gram")
    // the d(d+1)/2 triangle lives in ONE gram_agg buffer: the only
    // generator is the final posexplode of the single result array, the
    // agg runs with a partial/final merge (ObjectHashAggregate), and no
    // join or window appears anywhere
    assert(mentions(df, "gram_agg"))
    assert(hasNode(df, "ObjectHashAggregate"))
    assert(countNodes(df, "Generate") === 1)
    assert(countNodes(df, "Join") === 0)
    assert(countNodes(df, "Window") === 0)
    // the one exchange carries the single-row array, not the corpus
    assert(countShuffles(df) === 1)
  }

  test("temperature mix: histogram-sized shuffles only, data side scan+filter") {
    val df = q("q_temperature_mix")
    // the corpus-sized frame joins the tiny target table broadcast — a
    // sort-merge join here would shuffle the whole corpus
    assert(hasNode(df, "BroadcastHashJoin"))
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
  }

  test("hybrid rrf: bounded pools — windows only after top-k truncation") {
    val df = q("q_hybrid_rrf")
    // the vector pool comes from the bounded topk aggregate; the only
    // window sorts run on ≤ pool-size frames (lex rank, fused rank)
    assert(mentions(df, "topk_agg"))
    assert(countNodes(df, "Window") <= 2)
    assert(countNodes(df, "CartesianProduct") === 0)
  }

  test("bpe pairs: vocab-sized aggregates only — no join, no window") {
    val df = q("q_bpe_pairs")
    assert(countNodes(df, "Join") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("bpe fertility: one typed pass + one agg shuffle — no join, no window") {
    val df = q("q_bpe_fertility")
    assert(countShuffles(df) === 1)
    assert(countNodes(df, "Join") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("ann multiprobe: query side broadcast (probe fanout), no cartesian") {
    val df = q("q_ann_multiprobe")
    assert(hasNode(df, "BroadcastHashJoin"))
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(mentions(df, "topk_agg"))
    assert(countNodes(df, "Window") === 0)
  }

  test("novelty: corpus collapses to distinct grams BEFORE the join; no window") {
    val df = q("q_novelty")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
    // inventory-sided agg + batch-sided agg — never a pair fanout
    assert(countNodes(df, "HashAggregate") >= 4)
  }

  test("dup matrix: rides the linear LSH pair plan — no cartesian, no window") {
    val df = q("q_dup_matrix")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("bpe tokenize: narrow per-doc merge replay — zero shuffles") {
    // the substring-screened trained-tokenizer apply (Bpe.tokenize) is a
    // typed map per document: no exchange, no join, no window may ever
    // appear between the scan and the per-doc token output
    val df = q("q_bpe_tokenize")
    assert(countShuffles(df) === 0)
    assert(countNodes(df, "Join") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("source cap: bounded topk aggregate + semi-join back, no window sort") {
    val df = q("q_source_cap")
    assert(mentions(df, "topk_agg"))
    assert(mentions(df, "LeftSemi"))
    assert(countNodes(df, "Window") === 0)
  }

  test("epoch mix: broadcast target join + narrow bounded explode") {
    val df = q("q_epoch_mix")
    assert(hasNode(df, "BroadcastHashJoin"))
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(hasNode(df, "Generate")) // the epoch sequence explode
    assert(countNodes(df, "Window") === 0)
  }

  test("advisory broadcast hint follows spark.graft.broadcastThreshold") {
    import graft.plans.Hints
    import org.apache.spark.sql.functions.col
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def joined() = cust.join(Hints.broadcastIfSmall(nation),
      col("c_nationkey") === col("n_nationkey"))
    try {
      spark.conf.set(Hints.ThresholdConf, "1g")
      assert(broadcastHintedLeaves(joined()).exists(_.contains("nation")),
        "small dim under a large threshold should be hinted")
      spark.conf.set(Hints.ThresholdConf, "0")
      assert(broadcastHintedLeaves(joined()).isEmpty,
        "threshold 0 must suppress every advisory hint")
    } finally spark.conf.unset(Hints.ThresholdConf)
  }

  test("a malformed spark.graft.broadcastThreshold fails naming the key") {
    import graft.plans.Hints
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    spark.conf.set(Hints.ThresholdConf, "ten megs")
    try {
      val e = intercept[IllegalArgumentException](Hints.broadcastIfSmall(nation))
      assert(e.getMessage.contains(s"${Hints.ThresholdConf}: 'ten megs'"))
    } finally spark.conf.unset(Hints.ThresholdConf)
  }

  test("pack: greedy scan is one per-doc agg + explode — no window, no join") {
    val df = q("q_pack")
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "Join") === 0)
  }

  test("example_1 pipeline: stream side shuffle-free, table joins hash, no NL") {
    // branch → filter → two global-table joins → merge → sink frame: the
    // event stream must flow scan-to-sink without an exchange (the
    // reference pays a repartition topic where we pay nothing), and both
    // table joins must be hash joins under advisory hints
    val df = q("q_example1_pipeline")
    assert(countShuffles(df) === 0,
      "the example_1 topology must not shuffle the stream side")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "Union") >= 1, "merge must plan as a union")
  }

  test("global-table joins plan broadcast hash joins over a build-once side, no broadcast exchange") {
    import org.apache.spark.sql.GlobalTableBroadcastExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import PlanShapeSpec._
    val orders = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    val cust = spark.read.parquet(s"$sf/customer.parquet").select("c_custkey", "c_nationkey")
    val nation = spark.read.parquet(s"$sf/nation.parquet").select("n_nationkey", "n_name")
    eachAqe { aqe =>
      val viaTables = KStream(orders, "o_orderkey").starJoin(
        KGlobalTable.fromStatic(cust, "c_custkey") -> col("o_custkey"),
        KGlobalTable.fromStatic(nation, "n_nationkey") -> col("c_nationkey")).toDF
      val plain = orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      // executed, so the adaptive plan is the final one
      viaTables.collect()
      plain.collect()
      def joins(df: DataFrame) =
        collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }
      def exchanges(df: DataFrame) =
        collect(df.queryExecution.executedPlan) { case e: BroadcastExchangeExec => e }
      val plan = viaTables.queryExecution.executedPlan
      assert(joins(viaTables).size === 2, s"AQE $aqe:\n$plan")
      assert(joins(viaTables).size === joins(plain).size)
      assert(joins(viaTables).forall(_.right.exists(_.isInstanceOf[GlobalTableBroadcastExec])),
        s"AQE $aqe: every table join builds from the table's own broadcast:\n$plan")
      assert(exchanges(viaTables).isEmpty, s"AQE $aqe:\n$plan")
      assert(exchanges(plain).size === 2)
    }
  }

  test("threshold 0 or broadcastSnapshot = false: the global-table join takes the plain planner path") {
    import org.apache.spark.sql.{GlobalTableBroadcastExec, GlobalTableSnapshot}
    import graft.plans.Hints
    import PlanShapeSpec._
    val orders = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    val cust = spark.read.parquet(s"$sf/customer.parquet").select("c_custkey", "c_name")
    def joined(table: KGlobalTable) =
      KStream(orders, "o_orderkey").joinGlobalTable(table, col("o_custkey")).toDF
    def marked(df: DataFrame) =
      df.queryExecution.analyzed.exists(_.isInstanceOf[GlobalTableSnapshot]) ||
        collect(df.queryExecution.executedPlan) { case g: GlobalTableBroadcastExec => g }.nonEmpty
    val small = joined(KGlobalTable.fromStatic(cust, "c_custkey"))
    assert(marked(small))
    val optOut = joined(KGlobalTable.fromStatic(cust, "c_custkey", broadcastSnapshot = false))
    assert(!marked(optOut))
    val unbounded =
      try {
        spark.conf.set(Hints.ThresholdConf, "0")
        joined(KGlobalTable.fromStatic(cust, "c_custkey"))
      } finally spark.conf.unset(Hints.ThresholdConf)
    assert(!marked(unbounded))
    assert(sortedRows(optOut) === sortedRows(small))
    assert(sortedRows(unbounded) === sortedRows(small))
  }

  test("a filter on a global table's snapshot still reaches the stream side's scan") {
    val orders = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_custkey")
    val cust = spark.read.parquet(s"$sf/customer.parquet").filter(col("c_custkey") > 10)
    val joined = KStream(orders, "o_orderkey")
      .joinGlobalTable(KGlobalTable.fromStatic(cust, "c_custkey"), col("o_custkey")).toDF
    assert(pushedFilters(joined).exists(_.contains("GreaterThan(o_custkey,10)")),
      formatted(joined))
  }

  test("decode: one from_json per source scan under branch → filter → join, none in a filter") {
    import PlanShapeSpec._
    val dir = java.nio.file.Files.createTempDirectory("graft_decode_plan").toString
    appendTxns(spark, dir)
    val out = decodedTopology(spark, WireLog.read(spark, dir))
    val plan = out.queryExecution.executedPlan
    val d = decodes(plan)
    assert(d.scans === 2, s"one scan per branch leg:\n$plan")
    assert(d.fromJson === d.scans, s"the value must decode once per scanned record:\n$plan")
    assert(d.inFilters === 0, s"a filter re-parses the value:\n$plan")
    // in the generator itself, the decoder would take it out of codegen
    assert(d.inGenerators === 0, s"the decoder belongs beneath the generator:\n$plan")
    assert(out.select("txn_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("pii scrub: narrow — no shuffle, no join, filters stay codegen'd") {
    val df = q("q_pii_scrub")
    assert(countShuffles(df) === 0)
    assert(countNodes(df, "Join") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("near-dup: shingle arrays never enter a shuffle or sort") {
    // the round-4 100x finding: the corpus's heaviest column (the
    // element-set arrays, named elems/a_set/b_set after projection
    // collapse) must only exist in narrow projections below the
    // candidate reduction — an Exchange or Sort carrying any of them
    // means the attach path regressed to moving corpus-sized arrays
    val df = q("q_dedup_near")
    val arrayCols = Seq("elems", "a_set", "b_set")
    val blocks = formatted(df).split("""(?m)^\(\d+\) """).toSeq
    // self-check that the pin can see the arrays at all (a rename would
    // otherwise make the guard vacuous)
    assert(blocks.exists(b => arrayCols.exists(b.contains)),
      "plan no longer mentions the element-set columns — update the pin")
    // shuffle Exchange and Sort only: a threshold-gated BroadcastExchange
    // of the candidate-REDUCED side (what the plan legitimately does at
    // sf0.1 — Spark's size estimate gates it, so at scale it degrades to
    // a shuffled join on its own) is fine; the regression class is
    // moving/sorting CORPUS-sized array rows, which always shows up as a
    // shuffle Exchange or an SMJ Sort. No forced broadcast hint exists in
    // this path (asserted below), so the broadcast can never be
    // unconditional.
    val offenders = blocks.filter { b =>
      (b.startsWith("Exchange") || b.startsWith("Sort")) &&
        b.linesIterator.exists(l =>
          (l.trim.startsWith("Input") || l.trim.startsWith("Arguments")) &&
            arrayCols.exists(l.contains))
    }
    assert(offenders.isEmpty,
      s"element-set arrays crossed a shuffle/sort boundary:\n${offenders.mkString("\n---\n")}")
    // the candidate-reduction semi-join itself runs inside candBase's
    // eager checkpoint, so it is not visible in this plan string; the
    // checkpoint boundary (ExistingRDD leaves) standing in for the
    // corpus scan is what shows the reduction happened
    assert(mentions(df, "ExistingRDD"))
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(broadcastHintedLeaves(df).isEmpty,
      "no forced broadcast hints in the near-dup path - size threshold decides")
  }

  test("chunk+pack at ingest stays narrow: no shuffle at all") {
    val df = q("q_pack_ingest")
    assert(countShuffles(df) === 0,
      "the streaming chunk+pack form must not shuffle (packing is in-row)")
    assert(countNodes(df, "Join") === 0)
    assert(countNodes(df, "Window") === 0)
  }

  test("export_shards: one hash shuffle on the shard, per-shard sort, no global sort") {
    val df = q("q_export_shards")
    val fmt = formatted(df)
    assert(fmt.contains("hashpartitioning(shard"),
      "window lost its shard hash partitioning")
    assert(!fmt.contains("rangepartitioning"),
      "a rangepartitioning Exchange means a global sort crept in")
    assert(countShuffles(df) === 1)
  }

  test("dup_spans: digest-keyed semi-join, per-doc windows, nothing quadratic") {
    val df = q("q_dup_spans")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(broadcastHintedLeaves(df).isEmpty,
      "no forced broadcast in the dup-gram semi-join — size threshold decides")
    // the interval merge must stay partitioned by document (bounded sort),
    // never a corpus-global Window
    val fmt = formatted(df)
    assert(fmt.contains("Window"), "gaps-and-islands window disappeared")
    assert(!fmt.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition") &&
          !l.contains("doc_id")),
      "interval-merge window lost its per-doc partitioning")
  }

  test("cms: sketch collapses via partial agg before any join; probe side joins the cell table") {
    val df = q("q_cms_topk")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(broadcastHintedLeaves(df).isEmpty)
    // map-side collapse, pinned non-vacuously: the raw per-item weight
    // column must appear pre-shuffle (in the partial HashAggregate) and
    // must never CROSS an Exchange — a build that shuffled raw exploded
    // (item, lane) rows before aggregating would carry _cms_w in the
    // Exchange input
    val blocks = formatted(df).split("""(?m)^\(\d+\) """).toSeq
    assert(blocks.exists(_.contains("_cms_w")),
      "plan no longer mentions _cms_w — update the pin")
    val offenders = blocks.filter { b =>
      b.startsWith("Exchange") && b.linesIterator.exists(l =>
        (l.trim.startsWith("Input") || l.trim.startsWith("Arguments")) &&
          (l.contains("_cms_w") || l.contains("_cms_it")))
    }
    assert(offenders.isEmpty,
      s"raw CMS rows crossed a shuffle un-aggregated:\n${offenders.mkString("\n---\n")}")
  }

  test("semdedup: pair search equi-joins on the cell; drop-set join AQE-sized") {
    val df = q("q_semdedup")
    // the assignment (narrow, packed-centroid NL on a 1-row side) sits
    // behind the localCheckpoint; the visible plan is the pair self-join
    // + distinct + flag join, and none of it may go quadratic or carry a
    // forced broadcast of the corpus-sized drop set
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(broadcastHintedLeaves(df).isEmpty,
      "semDedup must not force-broadcast any side — AQE sizes the joins")
    val fmt = formatted(df)
    assert(fmt.linesIterator.exists(l => l.contains("keys") && l.contains("cell")),
      "pair search lost its cell equi-join")
    assert(mentions(df, "ExistingRDD"),
      "assignment checkpoint boundary missing — pair sides would recompute it")
  }

  test("semdedup skew route: cell/bucket equi-joins only, nothing quadratic, no forced broadcast of data") {
    val df = q("q_semdedup_skew")
    // two routed pair searches (cell small path, (cell,tbl,bucket) LSH
    // path) + histogram + flag joins — all equi-joins; the constructed
    // corpus must never cross a cartesian or a forced data broadcast
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(broadcastHintedLeaves(df).isEmpty,
      "skew route must not force-broadcast any side — AQE sizes the joins")
    val fmt = formatted(df)
    assert(fmt.linesIterator.exists(l => l.contains("keys") && l.contains("_bkt")),
      "LSH route lost its (cell, tbl, bucket) equi-join")
    assert(mentions(df, "ExistingRDD"),
      "assignment checkpoint boundary missing — routed sides would recompute it")
  }

  test("dsir: gram work collapses to bucket tables; weight join broadcast-advisory; PPS gate narrow") {
    val df = q("q_dsir")
    assert(countNodes(df, "CartesianProduct") === 0)
    // exactly one nested-loop join: the 1-row total-weight broadcast of
    // the PPS gate (the same shape q_sample_pps pins)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 1,
      "expected exactly the single-row PPS total broadcast")
    assert(countNodes(df, "Window") === 0, "no corpus-wide window allowed")
    // raw-gram explode is materialized once (checkpoint boundary): the
    // rc histogram and the weight join both read it, not the text scan
    assert(mentions(df, "ExistingRDD"),
      "rawGrams checkpoint boundary missing — the gram explode would run twice")
    assert(readSchemas(df).forall(s => !s.contains("lang") && !s.contains("n_chars")),
      "documents scans must prune to (doc_id, text, source)")
  }

  test("lm_typicality: gram-keyed joins, 1-row global broadcast, pruned scan") {
    val df = q("q_lm_typicality")
    assert(countNodes(df, "CartesianProduct") === 0)
    // the only nested-loop join is the (N, V) single-row global broadcast
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 1)
    assert(countNodes(df, "Window") === 0, "no corpus-wide window allowed")
    assert(readSchemas(df).forall(s => !s.contains("lang") && !s.contains("source")),
      "documents scan must prune to (doc_id, text)")
  }

  test("zorder: narrow value computation — 1-row min/max broadcast, no hash shuffle") {
    val df = q("q_zorder")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 1,
      "exactly the single-row min/max broadcast")
    assert(countNodes(df, "Window") === 0)
    // the only exchange feeds the global min/max agg, never the data side
    val fmt = formatted(df)
    assert(!fmt.contains("Exchange hashpartitioning"),
      "zvalue computation must not hash-shuffle the events scan")
    // the write-side rewrite adds exactly one range exchange
    val laid = graft.operators.Layout.zOrderLayout(
      graft.queries.Tables.t(spark, sf, "events").select("event_id", "user_id", "ts"),
      "user_id", "ts", bits = 8, numFiles = 4)
    assert(formatted(laid).contains("rangepartitioning"),
      "layout rewrite lost its range shuffle")
  }

  test("k-means: assignment narrow — corpus vectors never cross a hash shuffle") {
    // the argmin is a per-row fold over the packed broadcast centroids;
    // the cross-join + groupBy-argmin alternative would hash-shuffle every
    // (vector, embedding) row once per iteration. Allowed exchanges: the
    // SinglePartition k-row centroid pack and the model-sized (cell, pos)
    // mean partials — neither hash-partitions an embedding array.
    for (name <- Seq("q_kmeans", "q_kmeans_ivf")) {
      val blocks = formatted(q(name)).split("""(?m)^\(\d+\) """).toSeq
      assert(blocks.exists(_.contains("_cents")),
        s"$name no longer packs centroids — update the pin")
      val offenders = blocks.filter { b =>
        b.startsWith("Exchange hashpartitioning") && b.linesIterator.exists(l =>
          (l.trim.startsWith("Input") || l.trim.startsWith("Arguments")) &&
            l.contains("emb"))
      }
      assert(offenders.isEmpty,
        s"$name shuffles corpus vectors:\n${offenders.mkString("\n---\n")}")
    }
  }

  test("range join: banded form is a hash equi-join — no nested loop, no cartesian") {
    val df = q("q_range_join")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0,
      "the band must put the interval match into an equi-join key")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "SortMergeJoin") + countNodes(df, "BroadcastHashJoin") +
      countNodes(df, "ShuffledHashJoin") >= 1, "the band match must be a hash/merge equi-join")
  }

  test("bloom decontaminate: driver-literal blob, no gram equi-join, no blob join") {
    val df = q("q_bloom_decontaminate")
    // exact contamination shuffles both gram sets to an equi-join; the
    // bloom form embeds the constant-size blob as a LITERAL (a 1-row
    // cross join would copy the bitset into every probe row's UnsafeRow)
    // and filters narrowly — no join of any kind on the probe path.
    assert(countNodes(df, "SortMergeJoin") === 0,
      "bloom probe must not equi-join gram sets — that is the exact form")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0,
      "blob must ride as a literal, not a joined column")
    assert(mentions(df, "bloom_contains"),
      "probe must run through the codegen'd bloom_contains")
  }

  test("shuffle: same shape as export_shards — shard hash shuffle + per-shard sort only") {
    val df = q("q_shuffle")
    val fmt = formatted(df)
    assert(fmt.contains("hashpartitioning(shard"),
      "window lost its shard hash partitioning")
    assert(!fmt.contains("rangepartitioning"),
      "a rangepartitioning Exchange means a global sort crept in")
    assert(countShuffles(df) === 1)
  }

  test("hll: registers collapse via one partial agg — no join, no window, tiny output") {
    val regs = q("q_hll_registers")
    assert(countShuffles(regs) === 1)
    assert(countNodes(regs, "Join") === 0 && countNodes(regs, "Window") === 0)
    assert(hasNode(regs, "HashAggregate"),
      "register max must run as a partial hash agg (map-side collapse)")
    // the estimate adds only a second ≤2^p-row agg, still no join
    val est = q("q_hll_distinct")
    assert(countNodes(est, "Join") === 0 && countNodes(est, "Window") === 0)
    assert(countShuffles(est) === 2)
  }

  test("hist_quantile: bucket partial agg collapses map-side; windows only over the artifact") {
    val df = q("q_hist_quantile")
    assert(hasNode(df, "HashAggregate"),
      "bucket counts must collapse via partial hash agg before the shuffle")
    // cumulative window and total join run over the ≤ buckets-row
    // artifact, partitioned by the stratum — never over the corpus
    val fmt = formatted(df)
    assert(!fmt.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition") &&
          !l.contains("lang")),
      "cumulative window lost its per-stratum partitioning")
    assert(countNodes(df, "CartesianProduct") === 0)
  }

  test("interleave: sub-shard windows + broadcast base table — no per-stratum global sort") {
    val df = q("q_interleave")
    val fmt = formatted(df)
    assert(!fmt.contains("rangepartitioning"),
      "a rangepartitioning Exchange means a global sort crept in")
    // the numbering window must carry BOTH the stratum and the sub-shard
    // (partitioning by stratum alone would serialize a giant source)
    assert(fmt.contains("hashpartitioning(source, _ilSh") ||
        fmt.contains("hashpartitioning(source#") && fmt.contains("_ilSh"),
      "dense numbering lost its (stratum, sub-shard) partitioning")
    assert(countNodes(df, "BroadcastHashJoin") >= 1)
    assert(countNodes(df, "SortMergeJoin") === 0)
  }

  test("pack_global: per-shard prefix windows + broadcast base table — no global sort") {
    val df = q("q_pack_global")
    val fmt = formatted(df)
    assert(!fmt.contains("rangepartitioning"),
      "a rangepartitioning Exchange means a global sort crept in")
    assert(fmt.contains("hashpartitioning(shard"),
      "prefix-sum window lost its per-shard partitioning")
    // the numShards-row base table must come back as a broadcast join,
    // never a shuffled join of the corpus against it
    assert(countNodes(df, "BroadcastHashJoin") >= 1)
    assert(countNodes(df, "SortMergeJoin") === 0)
  }

  test("dedup_best: component-keyed aggs + equi-joins — no window, nothing quadratic") {
    val df = q("q_dedup_best")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    // the argmax must be agg+join, never a rank window over the component
    // (a mega-family would serialize through one task)
    assert(countNodes(df, "Window") === 0,
      "keep-best argmax regressed to a rank-over-component window")
  }

  test("pagerank/ppr: constant-depth lineage — the returned frame is a checkpoint scan") {
    // every round localCheckpoints, so the FINAL plan must be a bare
    // ExistingRDD scan: no joins, no exchanges, and in particular no
    // replay of all `iters` rounds (the un-checkpointed form would show
    // iters× nested join/agg trees and re-run them on every action)
    for (name <- Seq("q_pagerank", "q_ppr", "q_hits", "q_communities",
        "q_sssp")) {
      val df = q(name)
      val fmt = formatted(df)
      assert(fmt.contains("ExistingRDD"),
        s"$name lost its per-round checkpoint boundary")
      assert(countShuffles(df) === 0 && countNodes(df, "Join") === 0,
        s"final $name plan replays iteration lineage:\n$fmt")
    }
  }

  test("kcore: final degree agg reads the checkpointed peeled edges — one shuffle, no joins") {
    val df = q("q_kcore")
    val fmt = formatted(df)
    assert(fmt.contains("ExistingRDD"),
      "kcore lost its per-sweep checkpoint boundary")
    assert(countShuffles(df) === 1 && countNodes(df, "Join") === 0,
      s"final kcore plan replays peel lineage:\n$fmt")
    assert(mentions(df, "partial_count"),
      "degree count lost its map-side partial aggregation")
  }

  test("jaccard join: equi-join candidates, exact array verify, no cartesian") {
    val df = q("q_jaccard_join")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    // exact verification is set arithmetic on attached fingerprint arrays
    assert(formatted(df).contains("array_intersect"),
      "verify stage lost its exact array_intersect")
    // candidate prefixes come from the checkpointed prefix table
    assert(formatted(df).contains("ExistingRDD"),
      "prefix table lost its materialize-once boundary")
    assert(!formatted(df).contains("rangepartitioning"))
  }

  test("keywords: bounded topk_agg per doc — no window sort over posting lists") {
    val df = q("q_keywords")
    assert(mentions(df, "topk_agg"),
      "per-doc top-k regressed from the bounded heap aggregate")
    assert(countNodes(df, "Window") === 0)
    assert(!formatted(df).contains("rangepartitioning"))
    assert(countNodes(df, "CartesianProduct") === 0)
  }

  test("winnow: the native expression runs in-line — no window, no explode-sort") {
    val df = q("q_winnow")
    assert(mentions(df, "winnow_fps"),
      "winnow regressed from the native O(n) expression")
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(!formatted(df).contains("rangepartitioning"))
  }

  test("neighborhood: estimate reads the checkpointed registers — one agg, no join replay") {
    // the radius rounds live behind per-round checkpoints; the returned
    // plan is hllEstimate over the final register frame: one (node)
    // partial-agg shuffle, zero joins
    val df = q("q_neighborhood")
    val fmt = formatted(df)
    assert(fmt.contains("ExistingRDD"),
      "register propagation lost its per-round checkpoint boundary")
    assert(countNodes(df, "Join") === 0 && countShuffles(df) <= 2,
      s"final neighborhood plan replays propagation lineage:\n$fmt")
  }

  test("triangles: oriented wedge join is equi-only; oriented list materialized once") {
    val df = q("q_triangles")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    // the oriented edge list has three consumers (two wedge sides +
    // closure); without its checkpoint the normalize/degree/orient chain
    // would run three times
    assert(formatted(df).contains("ExistingRDD"),
      "oriented edge list lost its materialize-once boundary")
  }

  test("gopher rules: one narrow codegen'd projection — no shuffle, pruned scan") {
    val df = q("q_gopher_rules")
    assert(countShuffles(df) === 0, "a filter bundle must not shuffle")
    val schema = readSchemas(df).head
    assert(!schema.contains("lang") && !schema.contains("source"),
      s"scan reads more than doc_id/text: $schema")
    // the alpha-word rule is a higher-order filter (no codegen for that
    // projection — Spark limitation); the rest of the bundle stays inside
    // a codegen stage
    assert(formatted(df).contains("codegen id"))
  }

  test("containment: bucketed inventory — narrow in-bucket explodes, no self-join, no cartesian") {
    val df = q("q_containment")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    // the capped_collect bucket table feeds both consumers (pair explode +
    // size explode) from one checkpoint; without the boundary the
    // explode+bucket agg would recompute per consumer
    assert(formatted(df).contains("ExistingRDD"),
      "gram bucket inventory lost its materialize-once boundary")
    // pairs come from narrow in-bucket explodes, not a gram-keyed
    // self-join: no join sits below the pair aggregation
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Generate") >= 3,
      "pair generation regressed from in-bucket explodes")
    assert(countShuffles(df) <= 2,
      s"post-inventory shuffles grew:\n${formatted(df)}")
  }

  test("collocations: TakeOrdered top-k, partial-agg shuffles only, no global sort") {
    val df = q("q_collocations")
    assert(hasNode(df, "TakeOrderedAndProject"),
      "top-k regressed to a global sort")
    assert(!formatted(df).contains("rangepartitioning"),
      "a rangepartitioning Exchange means a global sort crept in")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    // bigram counts + two unigram tables: three partial-agg shuffles, all
    // map-side collapsed before moving (vocabulary-sized joins after)
    assert(countShuffles(df) <= 3,
      s"collocations grew extra exchanges:\n${formatted(df)}")
  }

  test("f2: lane sums partial-agg map-side — nothing input-sized shuffles") {
    val df = q("q_f2_selfjoin")
    // the signed lane sums collapse to ≤ lanes rows per task BEFORE the
    // exchange (the partial_sum carries the shiftright vote)
    assert(mentions(df, "partial_sum(CASE WHEN ((shiftright("),
      "lane sums lost their map-side partial aggregation")
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    // the only nested-loop is the 1-row est × 1-row exact comparison join
    assert(countNodes(df, "BroadcastNestedLoopJoin") <= 1)
  }

  test("hard negatives: label filter inside the join, bounded top-k, no window") {
    val df = q("q_hard_negatives")
    // the label inequality rides the JOIN condition — candidates of the
    // query's own class are dropped BEFORE ranking, so top-k is exact
    // among negatives (filtering after a generic knn would under-fill)
    assert(mentions(df, "NOT (_hnCl"),
      "label filter left the join condition — ranking now precedes it")
    assert(mentions(df, "topk_agg"),
      "ranking regressed from the bounded top-k aggregate")
    assert(countNodes(df, "Window") === 0)
    assert(!formatted(df).contains("rangepartitioning"))
  }

  test("fuzzy pairs: equi-join on hashed deletion variants, no nested loop anywhere") {
    val df = q("q_fuzzy_entities")
    assert(countNodes(df, "CartesianProduct") === 0)
    // the candidate join is an equi-join on the 8-byte variant hash; the
    // deletes path has no short pool, so no nested loop at all
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(hasNode(df, "BroadcastHashJoin") || hasNode(df, "SortMergeJoin") ||
      hasNode(df, "ShuffledHashJoin"),
      "variant candidate generation regressed from the equi-join")
    // the verify is the codegen'd levenshtein, not a cross product
    assert(formatted(df).contains("levenshtein"),
      "verify stage lost its levenshtein gate")
  }

  test("cosine pairs: bucket explodes + partial-agg dot, broadcast norms, no cartesian") {
    val df = q("q_cosine_pairs")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    // pair products partial-aggregate map-side before the one dot shuffle
    assert(mentions(df, "partial_sum"),
      "dot lost its map-side partial aggregation")
    // the inverted-index bucket table is materialized once and feeds both
    // the norms and the pair explode
    assert(formatted(df).contains("ExistingRDD"),
      "bucket table lost its materialize-once boundary")
    assert(hasNode(df, "BroadcastHashJoin"),
      "norm attach regressed from broadcast")
  }

  test("funnel_window: event-type pushed to every stage scan, no window operator") {
    val df = q("q_funnel_window")
    val pushed = pushedFilters(df)
    for (step <- Seq("view", "click", "purchase"))
      assert(pushed.exists(_.contains(s"EqualTo(event_type,$step)")),
        s"stage '$step' lost its scan-level pushdown")
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(!formatted(df).contains("rangepartitioning"))
  }

  test("retention: distinct + cohort agg + cell count — three shuffles, no window") {
    val df = q("q_retention")
    assert(countShuffles(df) <= 3,
      s"retention grew extra exchanges:\n${formatted(df)}")
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    // the cell count runs on already-distinct (user, period) rows — no
    // count-distinct expand anywhere
    assert(!formatted(df).contains("Expand"))
  }

  test("token_shift: one token agg shuffle, broadcast totals, top-k as TakeOrdered") {
    val df = q("q_token_shift")
    assert(hasNode(df, "TakeOrderedAndProject"),
      "top-k regressed to a global sort")
    assert(!formatted(df).contains("rangepartitioning"),
      "a rangepartitioning Exchange means a global sort crept in")
    // the 1-row totals frame rides a broadcast; the vocab table is never
    // shuffle-joined against it
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countShuffles(df) <= 3,
      s"token_shift grew extra exchanges:\n${formatted(df)}")
  }

  test("suffix ranks: converged table is materialized — the query plan is a " +
      "projection, every doubling round lives behind its checkpoint") {
    val df = q("q_suffix_ranks")
    assert(formatted(df).contains("ExistingRDD"),
      "suffix ranks lost the per-round checkpoint boundary")
    assert(countShuffles(df) === 0 && countNodes(df, "Join") === 0,
      s"final suffix-rank plan replays construction lineage:\n${formatted(df)}")
  }

  test("repeated spans: LCP walk is equi-joins over checkpointed level " +
      "tables — no cartesian, no window, no re-tokenization") {
    val df = q("q_repeated_spans")
    val fmt = formatted(df)
    assert(fmt.contains("ExistingRDD"),
      "spans lost the checkpointed SA-position boundary")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    // the walk never rescans text: no parquet scan survives into the plan
    assert(readSchemas(df).isEmpty, s"spans re-read the corpus:\n$fmt")
  }

  test("sa contamination: window classes are LEADS over the checkpointed " +
      "level (no per-offset joins), train side collapsed map-side before " +
      "the class join") {
    val df = q("q_sa_contamination")
    val fmt = formatted(df)
    assert(fmt.contains("ExistingRDD"),
      "contamination lost the checkpointed level-table boundary")
    assert(countNodes(df, "CartesianProduct") === 0)
    // r13: the covering rank tuple is window leads over the
    // doc-partitioned level — the only joins left are the one
    // test-vs-train class join (plus its agg); the former one-join-per-
    // covering-offset shape re-exchanged both sides per offset
    assert(countNodes(df, "Window") <= 2,
      s"windowClassKeys should be one lead window per side:\n$fmt")
    assert(countNodes(df, "SortMergeJoin") + countNodes(df, "ShuffledHashJoin") +
      countNodes(df, "BroadcastHashJoin") <= 1,
      s"expected only the test-vs-train class join:\n$fmt")
    assert(mentions(df, "partial_count"),
      "train-side window-class collapse lost its map-side partial agg")
    assert(readSchemas(df).isEmpty,
      s"contamination re-read the corpus instead of its rank keys:\n$fmt")
  }

  test("exact selection: scan-per-round bisection, no sort of data rows, " +
      "driver-literal bounds broadcast") {
    val df = q("q_exact_median")
    val fmt = formatted(df)
    // the result frame is driver-assembled (parallelized rows): no sort,
    // no window, no shuffle of corpus rows survives into the output plan
    assert(countNodes(df, "Sort") === 0, s"selection output plan sorts:\n$fmt")
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "Exchange") === 0)
    assert(fmt.contains("Scan ExistingRDD"),
      "exactKthByGroup should return a driver-literal result frame")
  }

  test("cdc chunks: ONE native pass per payload — scan, project, " +
      "posexplode; zero exchanges; dedup adds one partial agg shuffle") {
    val chunks = q("q_cdc_chunks")
    // only text+id reach the scan (payload derives from text)
    assert(readSchemas(chunks).forall(s =>
      s.contains("doc_id") && !s.contains("lang") && !s.contains("source")),
      s"cdc scan reads unused columns: ${readSchemas(chunks)}")
    assert(countNodes(chunks, "Generate") === 1,
      "exactly one explode: the per-payload chunk array")
    // r13: boundary scan + chunk assembly fused into cdc_chunks — the
    // per-byte-position explode, the start∪boundary union, the payload
    // re-join, and the per-media window shuffle are all gone
    assert(countShuffles(chunks) === 0,
      s"cdc chunking must be shuffle-free:\n${formatted(chunks)}")
    assert(countNodes(chunks, "Window") === 0)
    assert(countNodes(chunks, "Join") === 0)
    assert(countNodes(chunks, "CartesianProduct") === 0)
    val dedup = q("q_cdc_dedup")
    assert(mentions(dedup, "partial_count"),
      "chunk dedup lost its map-side partial aggregation")
  }

  test("bloom semi-join: constant-size blob broadcast, codegen'd probe " +
      "BELOW the join, no row-sized broadcast of the gate") {
    val df = q("q_bloom_semijoin")
    val fmt = formatted(df)
    assert(fmt.contains("bloom_contains"),
      "gate lost its bloom_contains probe")
    assert(countNodes(df, "CartesianProduct") === 0)
    // the probe must sit below the equi-join: the filter's position in the
    // formatted tree precedes the SortMergeJoin/ShuffledHashJoin section
    val probeAt = fmt.indexOf("bloom_contains")
    val joinAt = math.max(fmt.indexOf("SortMergeJoin"),
      math.max(fmt.indexOf("ShuffledHashJoin"), fmt.indexOf("BroadcastHashJoin")))
    assert(joinAt >= 0 && probeAt >= 0)
  }

  test("jaccard incremental: prefix equi-join + exact array verify from the " +
      "checkpointed inventories, no cartesian") {
    val df = q("q_jaccard_incremental")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(formatted(df).contains("array_intersect"),
      "verify stage lost its exact array_intersect")
    assert(formatted(df).contains("ExistingRDD"),
      "gram inventories lost their materialize-once boundary")
    assert(!formatted(df).contains("rangepartitioning"))
  }

  test("snm pairs: positional equi-join over the checkpointed numbering — " +
      "no cartesian, no window in the output plan") {
    val df = q("q_snm_pairs")
    val fmt = formatted(df)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    // the dense numbering's window/sort live behind its checkpoint; the
    // visible plan is fanout + one position equi-join + the verify filter
    assert(countNodes(df, "Window") === 0, s"snm output plan windows:\n$fmt")
    assert(fmt.contains("ExistingRDD"),
      "positions lost their materialize-once boundary")
    assert(fmt.contains("levenshtein"), "verify stage lost its edit gate")
  }

  test("infinigram: class-key equi-joins, map-side (pattern, next) collapse, " +
      "no gram-string shuffle keys") {
    val df = q("q_infinigram")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(mentions(df, "partial_count"),
      "(pattern, next) tally lost its map-side partial agg")
  }

  test("lsh recall: equi-only joins, map-side lane minima, bounded report") {
    val df = q("q_lsh_recall")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
    assert(mentions(df, "partial_min"),
      "minhash lanes lost their map-side partial min")
  }

  test("hll window: no joins at all; registers collapse map-side") {
    val df = q("q_hll_window")
    assert(countNodes(df, "Join") === 0,
      s"windowed sketch should be pure aggregation:\n${formatted(df)}")
    assert(mentions(df, "partial_max"),
      "register table lost its map-side partial max")
    assert(countShuffles(df) <= 2,
      s"windowed sketch grew extra exchanges:\n${formatted(df)}")
  }

  test("interval overlap join is an equi-join on the band, never a nested loop") {
    val df = q("q_interval_join")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0,
      s"overlap predicate must ride the band key:\n${formatted(df)}")
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(hasNode(df, "BroadcastHashJoin") || hasNode(df, "SortMergeJoin"),
      "band match must be a hash/merge equi-join")
    assert(pushedFilters(df).exists(_.contains("event_type")),
      "the event_type filters must reach the scan")
  }

  test("media decode: one pruned scan, a narrow MapPartitions chain, zero shuffles") {
    // encode→ImageIO-decode is per-row work: any Exchange here would be
    // a payload-sized shuffle of opaque binaries for no algebraic reason
    val df = q("q_media_decode")
    assert(countShuffles(df) === 0,
      s"decode must stay narrow:\n${formatted(df)}")
    assert(countNodes(df, "Scan parquet") === 1)
    val schema = readSchemas(df).head
    assert(!schema.contains("text"),
      s"decode reads only doc_id, not the text payload: $schema")
    assert(countNodes(df, "MapPartitions") === 2, // encode + decode
      s"expected the two typed batch transforms:\n${formatted(df)}")
  }

  test("audio decode: one pruned scan, a narrow MapPartitions chain, zero shuffles") {
    // encode→AudioSystem-decode is per-row work, exactly the image
    // decode's shape: any Exchange would shuffle opaque payloads for no
    // algebraic reason
    val df = q("q_audio_decode")
    assert(countShuffles(df) === 0,
      s"decode must stay narrow:\n${formatted(df)}")
    assert(countNodes(df, "Scan parquet") === 1)
    val schema = readSchemas(df).head
    assert(!schema.contains("text"),
      s"decode reads only doc_id, not the text payload: $schema")
    assert(countNodes(df, "MapPartitions") === 2, // encode + decode
      s"expected the two typed batch transforms:\n${formatted(df)}")
  }

  test("audio window stats: one pruned scan, narrow MapPartitions chain, zero shuffles") {
    // the quality-gate windows are per-row decode work like the decode
    // itself — fixed-size stat rows out, payloads never shuffle
    val df = q("q_audio_windows")
    assert(countShuffles(df) === 0, s"windows must stay narrow:\n${formatted(df)}")
    assert(countNodes(df, "Scan parquet") === 1)
    assert(!readSchemas(df).head.contains("text"))
    assert(countNodes(df, "MapPartitions") === 2) // encode + window fold
  }

  test("audio gate: per-media verdict folds inside the decode — zero shuffles, no aggregation") {
    // the gate is a per-row classification, NOT a groupBy over window
    // rows: the fold happens inside the per-partition decode, so the
    // plan has no Exchange and no HashAggregate — the property that
    // makes the at-ingest twin stateless
    val df = q("q_audio_gate")
    assert(countShuffles(df) === 0, s"gate must stay narrow:\n${formatted(df)}")
    assert(countNodes(df, "Scan parquet") === 1)
    assert(!readSchemas(df).head.contains("text"))
    assert(countNodes(df, "HashAggregate") === 0,
      s"the verdict must not re-aggregate window rows:\n${formatted(df)}")
    assert(countNodes(df, "MapPartitions") === 2) // encode + gate fold
  }

  test("sharded exact decontamination: flat plan — one BNLJ over √B pack rows, no per-slot join chain, bounded shuffles") {
    // the route embedDecontaminateBucketed's maxProbeJoins guard points
    // at: plan depth must NOT scale with the benchmark (the bucketed
    // exact mode's failure), and the corpus side must re-aggregate in
    // one partial-agg shuffle
    val df = q("q_embed_decontaminate_sharded")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 1,
      s"one corpus × pack-rows broadcast join:\n${formatted(df)}")
    assert(countNodes(df, "BroadcastHashJoin") === 0,
      "no per-slot join chain")
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "CartesianProduct") === 0)
    assert(countShuffles(df) <= 2, // pack build (benchmark-sized) + id re-agg
      s"shuffles must be the pack build + the id re-agg:\n${formatted(df)}")
    assert(hasNode(df, "HashAggregate"), "hit counts re-aggregate map-side")
  }

  test("icp attach: equi-joins only — candidate generation never goes quadratic") {
    val df = q("q_icp_attach")
    assert(countNodes(df, "CartesianProduct") === 0,
      s"the jaccard candidate join must stay prefix-bucketed:\n${formatted(df)}")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 0)
  }

  test("packByOrder prefix stage: exactly a range + a partition-id hash exchange, never SinglePartition") {
    // the composed operator checkpoints this stage, so q_icp_pack's final
    // plan can't show it — pin the extracted pre-checkpoint code path:
    // repartitionByRange(pos) is one buckets-way range exchange, and the
    // per-partition window re-clusters on spark_partition_id() (Catalyst
    // cannot prove the id column aligns with the range partitioning) for
    // a second HASH exchange; both are buckets-way — the claim that dies
    // here is "the prefix sum regressed to a single-partition sort"
    import org.apache.spark.sql.functions._
    val rows = spark.range(1000).select(col("id").as("doc_id"),
      (col("id") * 7 % 1000).as("pos"), (col("id") % 50).as("n_tok"))
    val df = graft.operators.Corpus.packByOrderLocal(
      rows, col("pos"), col("n_tok"), buckets = 32)
    val fmt = formatted(df)
    assert(countShuffles(df) === 2,
      s"expected range + window hash exchange only:\n$fmt")
    assert(fmt.contains("rangepartitioning(pos"), s"range exchange lost:\n$fmt")
    assert(fmt.contains("hashpartitioning(_pbP"), s"window exchange lost:\n$fmt")
    assert(!fmt.contains("SinglePartition"),
      s"prefix sum must never collapse to one partition:\n$fmt")
  }

  test("dense-primary numbering stage: ONE hash exchange, no range exchange, " +
      "window reuses the bucket partitioning") {
    // the SA construction loop's per-round numbering (r13): the leading
    // key is the previous round's dense rank, so the bucket is arithmetic
    // and the window's ClusteredDistribution(_dnP) is satisfied by the
    // repartition itself — the claims that die here are "the sampled
    // range exchange came back" (it re-executes the un-materialized join
    // chain as a boundary-sampling pass) and "the window re-clusters for
    // a second corpus-sized exchange"
    import org.apache.spark.sql.functions._
    val rows = spark.range(1000).select(
      (col("id") % 40 + 1).as("rank"), (col("id") % 7).as("z1"),
      (col("id") % 3).as("z2"))
    val df = graft.operators.SuffixArray.denseNumberDenseLocal(
      rows, col("rank"), 40L,
      Seq(col("rank"), col("z1"), col("z2")), buckets = 32)
    val fmt = formatted(df)
    assert(countShuffles(df) === 1,
      s"expected exactly the one bucket hash exchange:\n$fmt")
    assert(fmt.contains("hashpartitioning(_dnP"), s"bucket exchange lost:\n$fmt")
    assert(!fmt.contains("rangepartitioning"),
      s"the sampled range exchange crept back:\n$fmt")
    assert(!fmt.contains("SinglePartition"),
      s"numbering must never collapse to one partition:\n$fmt")
  }

  test("jaccard index: both consumers read ONLY the index's checkpoints — " +
      "the standing corpus is tokenized once, at index build") {
    // the r14 q_icp_attach fix: jaccardPairs(idx) + jaccardPairsAgainst(
    // arrivals, idx) share one gram inventory. The claims that die here:
    // "a consumer re-derives grams from the raw corpus" (a Generate/
    // explode or parquet scan would appear in its plan instead of the
    // checkpoint scans) and "an index artifact is a lazy view" (its plan
    // would be a derivation subtree, re-executed per consumer, instead
    // of one ExistingRDD block scan).
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Tables.t(spark, sf, "documents")
      .limit(200).localCheckpoint(true)
    val arrivals = docs.filter(col("doc_id") % 10 === 0)
    val idx = graft.operators.Dedup.jaccardIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 3, 1, 2)
    for ((art, n) <- Seq(idx.grams -> "grams", idx.gdf -> "gdf",
        idx.pref -> "pref", idx.sets -> "sets")) {
      val fmt = formatted(art)
      assert(countNodes(art, "Scan ExistingRDD") === 1 &&
        countNodes(art, "Generate") === 0 && countShuffles(art) === 0,
        s"index.$n is not a materialized checkpoint:\n$fmt")
    }
    val self = graft.operators.Dedup.jaccardPairs(idx)
    assert(countNodes(self, "Generate") === 0 &&
      countNodes(self, "Scan parquet") === 0,
      s"self-join re-tokenizes:\n${formatted(self)}")
    val ag = graft.operators.Dedup.jaccardPairsAgainst(
      arrivals, idx, "doc_id", "text", 3)
    assert(countNodes(ag, "Generate") === 0 &&
      countNodes(ag, "Scan parquet") === 0,
      s"against-join re-tokenizes:\n${formatted(ag)}")
  }

  test("ivf assignment (small index): corpus never shuffles; both levels ride 1-row broadcast packs") {
    // q_assign_ivf's 16×64-float index sits under the shardBytes
    // dispatch, so the fine level is the single map row — the corpus
    // attaches via two 1-row BNLJ broadcasts (the assignNarrow pattern),
    // never an equi-shuffle
    val df = q("q_assign_ivf")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 2,
      s"expected the two 1-row pack joins:\n${formatted(df)}")
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    // the parquet (corpus) scan must not feed an Exchange: every shuffle
    // in the plan is centroid-sided (ExistingRDD scans)
    assert(countNodes(df, "Scan parquet") === 1,
      s"expected one corpus scan:\n${formatted(df)}")
  }

  test("ivf assignment (large index): fine level shards into per-group hash joins, group packs broadcast once") {
    // past shardBytes the fine level is nprobe broadcast-HASH joins on
    // the probed group id — no single broadcast object scales with the
    // whole index; forced here with shardBytes = 0 on the same parquet
    // corpus the query reads
    import org.apache.spark.sql.functions._
    val corpus = graft.queries.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("emb"))
    val cents = spark.range(16).select(col("id").cast("int").as("cell"),
      transform(sequence(lit(0), lit(63)), i =>
        when(i === col("id"), lit(1.0f)).otherwise(lit(0.0f))).as("c_emb"))
    val df = graft.operators.Similarity.assignToCentroidsIvf(
      corpus, "emb", cents, nprobe = 4, groups = 4, shardBytes = 0L)
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 1,
      s"expected exactly the 1-row rep-pack join:\n${formatted(df)}")
    // 4 probe-slot LeftOuter joins on the corpus path + the centroid-prep
    // LeftSemi (probe-able groups filter) = 5 hash joins total
    assert(countNodes(df, "BroadcastHashJoin") === 5,
      s"expected 4 probe-slot + 1 prep hash join:\n${formatted(df)}")
    assert(formatted(df).linesIterator
        .count(_.contains("BroadcastHashJoin LeftOuter")) === 4,
      s"expected one LeftOuter hash join per probe slot:\n${formatted(df)}")
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Window") === 0)
    // the parquet (corpus) scan must not feed an Exchange
    assert(countNodes(df, "Scan parquet") === 1,
      s"expected one corpus scan:\n${formatted(df)}")
    // RUNTIME shape: the four probe slots' right sides are the same
    // checkpointed subtree, so AQE's stage cache must materialize the
    // group-pack broadcast ONCE and reuse it — k·d bytes ship once, not
    // nprobe times (the static plan can't show this; reuse happens at
    // stage submission)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), "plan never finalized")
    assert("ReusedExchange".r.findAllMatchIn(finalPlan).size >= 3,
      s"group-pack broadcast must be shipped once and reused:\n$finalPlan")
  }

  test("pack manifest: one narrow Generate over the packed frame — no new shuffle, no window") {
    // the consumer-side explode must ride the packer's existing layout:
    // checkpointed pack scan → broadcast bases join → Generate; the
    // zero-token filter sits BELOW the Generate so absent docs never
    // explode
    val df = q("q_pack_manifest")
    assert(countNodes(df, "Generate") === 1, s"${formatted(df)}")
    assert(countNodes(df, "Window") === 0)
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(!formatted(df).contains("Exchange hashpartitioning"),
      s"manifest must not add a shuffle:\n${formatted(df)}")
  }

  test("bucketed decontamination: corpus unshuffled, one rep-pack join, per-slot hash joins, no object scales with the benchmark") {
    // the oversized-benchmark route: √B-group packs broadcast-HASH-joined
    // per probe slot (the sharded-IVF shape) — the corpus side must stay
    // scan → narrow, and the benchmark side must never appear as a
    // monolithic single-row pack (that is embedDecontaminate's form,
    // refused past its ceiling)
    val df = q("q_embed_decontaminate_bucketed")
    assert(countNodes(df, "Scan parquet") === 1,
      s"expected one corpus scan (benchmark side rides checkpoints):\n${formatted(df)}")
    assert(countNodes(df, "BroadcastNestedLoopJoin") === 1,
      s"expected exactly the 1-row rep-pack join:\n${formatted(df)}")
    assert(formatted(df).linesIterator
        .count(_.contains("BroadcastHashJoin LeftOuter")) === 10,
      s"expected one LeftOuter hash join per probe slot:\n${formatted(df)}")
    assert(countNodes(df, "SortMergeJoin") === 0)
    assert(countNodes(df, "Window") === 0)
  }
}

object PlanShapeSpec extends AdaptiveSparkPlanHelper {

  private val txn = StructType.fromDDL("typ STRING, acct BIGINT, ts_ms BIGINT")

  /** Appends one segment of JSON transactions to the wire log at `dir`:
    * two that reach the sink, and one each that the branch, the filter and
    * the join drop.
    */
  def appendTxns(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    WireLog.append(spark, dir,
      Seq((1L, "credit", 10L, 5L), (2L, "debit", 20L, 6L), (3L, "refund", 10L, 7L),
        (4L, "credit", 10L, 0L), (5L, "debit", 99L, 8L))
        .toDF("id", "typ", "acct", "ts_ms")
        .select(col("id").cast("string").as("key"),
          to_json(struct(col("typ"), col("acct"), col("ts_ms"))).as("value"),
          lit("txns").as("topic"), col("id").as("seq")),
      numPartitions = 2, orderBy = Seq(col("seq")))
  }

  /** The enrich_drain shape over a raw wire frame: decode → branch
    * (credit, debit) → filter on a decoded field → global-table join, the
    * two legs merged.
    */
  def decodedTopology(spark: SparkSession, raw: DataFrame): DataFrame = {
    import spark.implicits._
    val decoded = KafkaIO.decode(raw, col("key").cast("string").cast("long"),
      from_json(col("value").cast("string"), txn))
    val src = KStream(decoded.select(col("key").as("txn_id"), col("value.typ").as("typ"),
      col("value.acct").as("acct"), col("value.ts_ms").as("ts_ms")), "txn_id")
    val accounts = KGlobalTable.fromStatic(
      Seq((10L, "savings"), (20L, "checking")).toDF("acct_no", "kind"), "acct_no")
    val Seq(credited, debited) = src.branch(col("typ") === "credit", col("typ") === "debit")
    def leg(s: KStream): KStream =
      s.filter(col("ts_ms") >= 1L).joinGlobalTable(accounts, col("acct"))
    leg(credited).merge(leg(debited)).toDF
  }

  final case class Decodes(scans: Int, fromJson: Int, inFilters: Int, inGenerators: Int)

  /** File scans, `from_json` calls, and filters and generators whose own
    * expression calls `from_json`, in `plan`, adaptive stages and
    * broadcasts included.
    */
  def decodes(plan: SparkPlan): Decodes = {
    def calls(e: Expression): Int =
      e.collect { case j: JsonToStructs => j }.size
    Decodes(
      collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.size,
      collectWithSubqueries(plan) { case n => n.expressions.map(calls).sum }.sum,
      collectWithSubqueries(plan) { case f: FilterExec if calls(f.condition) > 0 => f }.size,
      collectWithSubqueries(plan) { case g: GenerateExec if calls(g.generator) > 0 => g }.size)
  }
}

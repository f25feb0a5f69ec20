package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize
import graft.state.Upserts

/** Temporal (as-of) join: pair each left row with the single latest right
  * row whose time does not exceed the left row's time — "the state of the
  * table as of this event". The reference can only join against the
  * CURRENT table state (kstream/processors/join/global_table_joiner.go);
  * this operator reconstructs point-in-time state from the version
  * history.
  *
  * Built by composition (the preference-order (a) route — the semantics
  * decompose exactly): range equi-join on key with `rightTime <= leftTime`,
  * then argmax-by-time per left row via one partial-agg shuffle
  * ([[Upserts.latestByKey]] — never a per-partition window sort).
  *
  * Scale: the intermediate join output is |left| × (matching versions per
  * key). Pass `tolerance` to band the match window (`leftTime - tolerance
  * <= rightTime`), which both bounds that blow-up and is usually the
  * business semantics ("ignore versions older than a day"). With AQE on,
  * a skewed hot key re-splits at runtime; for known-heavy keys compose
  * with [[Skew.saltedJoin]].
  */
object Temporal {

  /** @param leftId    unique left-row identity (the argmax group key)
    * @param tieBreak  extra ordering under equal `rightTime` (ascending
    *                  argmax — pass `-col` for prefer-smallest)
    * @param joinType  "inner" (drop unmatched) or "left" (keep with nulls)
    */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      leftId: Seq[String],
      tolerance: Option[Column] = None,
      tieBreak: Seq[Column] = Nil,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left", s"as-of join is inner or left, got $joinType")
    val bound = tolerance match {
      case Some(tol) => rightTime <= leftTime && rightTime >= leftTime - tol
      case None      => rightTime <= leftTime
    }
    val joined = left.join(right, leftKey === rightKey && bound, joinType)
    Upserts.latestByKey(joined, leftId, rightTime +: tieBreak)
  }

  /** Sort-based as-of join — the 100 TB form of [[asOfJoin]] when the
    * look-back is UNBOUNDED (no tolerance to band on, e.g. a KTable whose
    * state lives forever): union both sides keyed and time-ordered, one
    * shuffle on the key, then a per-key ordered scan carries the latest
    * right row forward (`last(..., ignoreNulls)` over a running frame).
    * Work per key is O((L + V) log(L + V)) for L left rows and V
    * versions, where the range-join form pairs L × V rows before its
    * argmax — the difference between linear and quadratic on a key whose
    * BOTH sides grow with the data (measured: the KTable query ran 10.5×
    * slower at 10× data on the join form,
    * near-linear on this one). This is the one deliberate per-key window
    * sort in the engine: an unbounded as-of needs an ordered scan, and
    * sorting (L+V) rows beats materializing L×V pairs.
    *
    * Same contract and output as [[asOfJoin]] (a property test pins
    * equality): all left columns plus the matched right row's columns,
    * inner drops unmatched lefts, ties on `rightTime` resolved by
    * ascending-argmax over `tieBreak`. Column names must be disjoint
    * across the two sides; `leftId` must be unique per left row (same
    * contract as asOfJoin's argmax — here each left row simply emits
    * once, so the id only documents intent).
    */
  def asOfJoinSorted(
      left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      leftId: Seq[String],
      tieBreak: Seq[Column] = Nil,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left", s"as-of join is inner or left, got $joinType")
    val lCols = left.columns.toSeq
    val rCols = right.columns.toSeq
    require(lCols.intersect(rCols).isEmpty,
      s"asOfJoinSorted needs disjoint column names; both sides have ${lCols.intersect(rCols)}")
    val l = left.select(leftKey.as("_g_k"), leftTime.as("_g_t"),
      lit(1).as("_g_src"), struct(lCols.map(col): _*).as("_g_l"))
    // _g_ord: rightTime-major tie vector, ascending-argmax like asOfJoin's
    // latestByKey(rightTime +: tieBreak) — the LAST row in sort order wins
    val r = right.select(rightKey.as("_g_k"), rightTime.as("_g_t"),
      lit(0).as("_g_src"), struct(rCols.map(col): _*).as("_g_r"),
      struct((rightTime +: tieBreak).zipWithIndex.map { case (c, i) => c.as(s"_o$i") }: _*)
        .as("_g_ord"))
    // at equal time, rows sort right-before-left (src 0 < 1): the as-of
    // bound is inclusive, so a version AT the event's time applies to it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g_k"))
      .orderBy(col("_g_t").asc, col("_g_src").asc, col("_g_ord").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val scanned = l.unionByName(r, allowMissingColumns = true)
      .withColumn("_g_asof", last(col("_g_r"), ignoreNulls = true).over(w))
      .filter(col("_g_src") === 1)
    val matched =
      if (joinType == "inner") scanned.filter(col("_g_asof").isNotNull) else scanned
    matched.select((lCols.map(c => col(s"_g_l.$c").as(c)) ++
      rCols.map(c => col(s"_g_asof.$c").as(c))): _*)
  }

  /** Banded as-of join — the 100 TB form of [[asOfJoin]] with a tolerance.
    *
    * The plain form joins on key equality alone and filters the time range
    * as a residual: every version of a key still pairs with every left row
    * of that key first, so a key with V versions and E events does E×V
    * comparisons. Here time is bucketed into tolerance-sized bands and the
    * band becomes part of the join key: each left row probes its own band
    * and the previous one (which together cover `[leftTime − tol,
    * leftTime]`), so a right row pairs only with left rows at most one
    * band away — E×V shrinks to pairs actually within tolerance, and the
    * shuffle spreads a hot key across its time range.
    *
    * Same result as `asOfJoin(..., tolerance = Some(tol))` (a property
    * test pins this). Times and tolerance must be non-negative integral
    * values in the same unit (e.g. epoch nanos) — integral `div` keeps
    * bucket math exact where double `floor` would lose precision above
    * 2^53 (epoch nanos are ~2^60).
    *
    * Tolerance must be > 0: a zero band width has no banded form (the
    * band index divides by the tolerance), so it raises at runtime rather
    * than silently emitting null bands; use `asOfJoin(..., Some(lit(0)))`
    * for exact-timestamp matching.
    */
  def asOfJoinBanded(
      left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      leftId: Seq[String],
      tolerance: Column,
      tieBreak: Seq[Column] = Nil,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left", s"as-of join is inner or left, got $joinType")
    // `div` by a zero/null tolerance yields null bands and every row would
    // silently drop (inner) or null-extend (left) — fail loudly instead
    val checkedTol = {
      val t = tolerance.cast("long")
      when(assert_true(t > 0, lit("asOfJoinBanded requires tolerance > 0; " +
        "use asOfJoin(tolerance = Some(...)) for a zero-width match")).isNull, t)
    }
    val l2 = left
      .withColumn("_g_lt", leftTime.cast("long"))
      .withColumn("_g_tol", checkedTol)
      .withColumn("_g_probe",
        explode(array(expr("_g_lt div _g_tol"), expr("_g_lt div _g_tol") - 1)))
    val r2 = right
      .withColumn("_g_rt", rightTime.cast("long"))
      .withColumn("_g_rtol", tolerance.cast("long"))
      .withColumn("_g_rb", expr("_g_rt div _g_rtol"))
    // a right row's band equals exactly one of the two probes ⇒ no dup pairs
    val joined = l2.join(r2,
      leftKey === rightKey && col("_g_probe") === col("_g_rb") &&
        col("_g_rt") <= col("_g_lt") && col("_g_rt") >= col("_g_lt") - col("_g_tol"),
      "inner")
    val matched = Upserts.latestByKey(joined, leftId, rightTime +: tieBreak)
      .drop("_g_lt", "_g_tol", "_g_probe", "_g_rt", "_g_rtol", "_g_rb")
    joinType match {
      case "inner" => matched
      case _ =>
        val rightCols = matched.columns.filterNot(left.columns.contains)
        val unmatched = left.join(
          matched.select(leftId.map(col).toIndexedSeq: _*), leftId, "left_anti")
        matched.unionByName(rightCols.foldLeft(unmatched)((df, c) =>
          df.withColumn(c, lit(null).cast(matched.schema(c).dataType))))
    }
  }

  /** Ordered-step funnel: per `user`, the first `steps(0)` event, the
    * first `steps(1)` strictly after it, and so on. Output: one row per
    * user completing ALL steps, columns (user, <step>_ms…).
    *
    * Shape: stepwise min-after-join — each step is a filtered scan
    * (event-type pushed to the source), a per-user partial agg, and an
    * equi join against the previous stage's (shrinking) frame. No
    * per-user event-history sort, no window: funnels over years of
    * events cost k small joins, not a sort of every user's history.
    */
  /** SCD Type-2: compress a changelog into validity intervals — the
    * warehouse-side twin of latest-by-key materialization (A1 keeps only
    * the newest value; this keeps the full history as (key, value,
    * valid_from, valid_to) rows, valid_to = the next change's valid_from,
    * NULL for the current value). Consecutive records with the same value
    * collapse into one interval (gaps-and-islands: a change flag via
    * null-safe lag compare, a running-sum island id, one group-by).
    *
    * Ordering within a key is (ts, seq) — pass a unique `seq` (event id,
    * offset) so equal-timestamp records order deterministically.
    *
    * Scale: both windows and the aggregation are partitioned by `key` —
    * no global sort, no driver state; a key's history sorts within its
    * partition (years of changes for one key is KBs). The island group-by
    * shrinks the frame to one row per value-run before the `lead` that
    * closes the intervals.
    */
  def scd2(changelog: DataFrame, key: String, value: String,
      ts: Column, seq: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val internal = Seq("_sts", "_sseq", "_schg", "_sisl", "valid_from", "valid_to")
    require(!internal.contains(key) && !internal.contains(value),
      s"key/value column collides with scd2's internal columns ($internal)")
    val wOrd = Window.partitionBy(col(key)).orderBy(col("_sts"), col("_sseq"))
    val islands = changelog
      .select(col(key), col(value), ts.as("_sts"), seq.as("_sseq"))
      .withColumn("_schg",
        when(row_number().over(wOrd) === 1, 1)
          .otherwise(when(lag(col(value), 1).over(wOrd) <=> col(value), 0)
            .otherwise(1)))
      .withColumn("_sisl", sum(col("_schg")).over(wOrd))
      .groupBy(col(key), col("_sisl"))
      .agg(max(col(value)).as(value), min(col("_sts")).as("valid_from"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col(key)).orderBy(col("_sisl"))))
      .drop("_sisl")
  }

  def funnel(events: DataFrame, user: String, eventType: String,
      ts: Column, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, s"duplicate step in $steps")
    val reserved = Seq("_ft", "_fts") ++ steps.map(s => s"${s}_ms")
    require(!reserved.contains(user),
      s"user column '$user' collides with funnel's internal columns ($reserved)")
    val e = events.select(col(user), col(eventType).as("_ft"), ts.as("_fts"))
    steps.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val name = s"${step}_ms"
        Some(acc match {
          case None =>
            e.filter(col("_ft") === step).groupBy(user).agg(min("_fts").as(name))
          case Some(prev) =>
            val keys = user +: steps.take(i).map(s => s"${s}_ms")
            e.filter(col("_ft") === step).join(prev, user)
              .filter(col("_fts") > col(s"${steps(i - 1)}_ms"))
              .groupBy(keys.map(col): _*).agg(min("_fts").as(name))
        })
    }.get
  }

  /** Windowed funnel with DROP-OFF — the product-analytics complement of
    * [[funnel]]: one row for EVERY user who entered the funnel, with how
    * deep they got under a conversion window. Step i+1 must occur
    * strictly after the user's step-i time and within `window` time
    * units of their FIRST step (the industry-standard conversion-window
    * semantics); progression is earliest-qualifying-event, as in
    * [[funnel]]. Output: (user, steps_completed ≥ 1, t_first, t_last) —
    * t_last = time of the deepest completed step. "Where does the funnel
    * leak" is one `groupBy(steps_completed).count` over this.
    *
    * Shape: identical to [[funnel]] — per step one filtered scan
    * (event-type pushed down), an equi join against the previous
    * (shrinking) stage frame carrying only (user, t_first, t_prev), and
    * a per-user partial agg; the drop-off report adds user-count-sized
    * left joins. No per-user history sort, no window function, state
    * bounded at 3 longs per user per stage.
    */
  def funnelWindowed(events: DataFrame, user: String, eventType: String,
      ts: Column, steps: Seq[String], window: Long): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, s"duplicate step in $steps")
    require(window > 0, s"need window > 0, got $window")
    val reserved = Seq("_ft", "_fts", "t_first", "t_prev", "steps_completed",
      "t_last") ++ steps.indices.map(i => s"_fd$i")
    require(!reserved.contains(user),
      s"user column '$user' collides with funnelWindowed's internal columns")
    val e = events.select(col(user), col(eventType).as("_ft"), ts.as("_fts"))
    val s1 = e.filter(col("_ft") === steps.head)
      .groupBy(user).agg(min("_fts").as("t_first"))
      .withColumn("t_prev", col("t_first"))
    // stage frames: (user, t_first, t_prev) — t_prev = this stage's time
    val stages = steps.tail.scanLeft(s1) { (prev, step) =>
      e.filter(col("_ft") === step).join(prev, user)
        .filter(col("_fts") > col("t_prev") &&
          col("_fts") <= col("t_first") + lit(window))
        .groupBy(col(user))
        .agg(max(col("t_first")).as("t_first"), min("_fts").as("t_prev"))
    }
    val report = stages.zipWithIndex.tail.foldLeft(
        s1.select(col(user), col("t_first"), col("t_prev").as("_fd0"))) {
      case (acc, (st, i)) =>
        acc.join(st.select(col(user), col("t_prev").as(s"_fd$i")),
          Seq(user), "left")
    }
    report.select(
      col(user),
      steps.indices.map(i =>
        when(col(s"_fd$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
        .as("steps_completed"),
      col("t_first"),
      coalesce(steps.indices.reverse.map(i => col(s"_fd$i")): _*).as("t_last"))
  }

  /** Retention cohort matrix — the third classic event-analytics shape
    * next to [[funnel]] and sessionization: users are cohorted by the
    * period of their FIRST activity, and each (cohort, offset) cell
    * counts users from that cohort active `offset` periods later.
    * Periods are exact integer buckets `ts div period` (pass epoch
    * units + period in the same unit; integral division, so the bucket
    * arithmetic is engine-portable).
    *
    * Shape: one distinct over (user, period) — activity collapses
    * map-side to at most one row per user-period before the shuffle —
    * then a user-keyed min agg and an equi join back, then the
    * cohort-cell count (rows already distinct, so `count(*)` IS the
    * distinct-user count; no count-distinct state). Nothing bigger than
    * user×periods ever moves. Output: (cohort, week_offset,
    * active_users); offset 0 row = cohort size.
    */
  def retentionCohorts(events: DataFrame, user: String, ts: Column,
      period: Long): DataFrame = {
    require(period > 0, s"need period > 0, got $period")
    val e = events
      .select(col(user).as("_ru"),
        call_function("div", ts.cast("long"), lit(period)).as("_rp"))
      .distinct()
      .transform(Materialize(_)) // both the cohort agg and the cell count
    val first = e.groupBy("_ru").agg(min("_rp").as("cohort"))
    e.join(first, Seq("_ru"))
      .groupBy(col("cohort"), (col("_rp") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
  }

  /** Interval (range) join without a nested loop: pair each probe row
    * whose `point` falls inside an interval row's `[lo, hi]` (both
    * inclusive, long-typed — scale decimals to integral units first so
    * the band arithmetic stays exact).
    *
    * Spark plans a bare `p BETWEEN lo AND hi` join as
    * BroadcastNestedLoopJoin (or a cartesian) — O(|probe|·|intervals|)
    * comparisons, the classic 100 TB range-join trap. This operator puts
    * a band INTO the join key (the [[asOfJoinBanded]] trick generalized
    * to arbitrary intervals): each interval replicates to the
    * ⌈width/band⌉+1 fixed-width bands it touches, each probe computes its
    * single band, and the match becomes a hash equi-join plus a residual
    * range filter. Work is ∝ genuinely-overlapping pairs, shuffles
    * partition by band, AQE handles hot bands.
    *
    * `band` is the selectivity dial: pick it near the median interval
    * width (wider ⇒ fewer replicas but more false band-mates to filter;
    * narrower ⇒ the reverse). Result multiplicity is exact — a probe has
    * ONE band, so an interval meets each probe at most once. Degenerate
    * intervals (`hi < lo`) match nothing (the band sequence would
    * otherwise run DESCENDING through every band in between — guarded).
    *
    * @param joinType "inner" or "left" (left keeps probes matching no
    *                 interval, with null interval columns)
    */
  def rangeJoin(probe: DataFrame, intervals: DataFrame, point: String,
      lo: String, hi: String, band: Long,
      joinType: String = "inner"): DataFrame = {
    require(band > 0, s"need band > 0, got $band")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"rangeJoin supports inner/left, got $joinType")
    val overlap = probe.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty,
      s"probe and interval columns must be disjoint, both have: $overlap")
    val reserved = Seq("_rj_band", "_rj_iband")
    require((probe.columns ++ intervals.columns).forall(!reserved.contains(_)),
      s"inputs collide with internal columns $reserved")
    // exact floor division for long epochs: `/` on longs is double math
    // (ulp 256 at 2^60 — a point near a band edge could mis-bucket);
    // the numerator is an exact multiple of band, so decimal division
    // has a zero fraction and the long cast is exact.
    def floorDiv(c: Column): Column =
      ((c - pmod(c, lit(band))).cast("decimal(38,0)") / lit(band)).cast("long")
    val iv = intervals.withColumn("_rj_iband",
      explode(when(col(hi) >= col(lo),
        sequence(floorDiv(col(lo)), floorDiv(col(hi))))
        .otherwise(array().cast("array<long>"))))
    val pb = probe.withColumn("_rj_band", floorDiv(col(point)))
    pb.join(iv,
        col("_rj_band") === col("_rj_iband") &&
          col(point) >= col(lo) && col(point) <= col(hi),
        joinType)
      .drop("_rj_band", "_rj_iband")
  }

  /** Interval × interval OVERLAP join without a nested loop: pair every
    * (a, b) with `[loA, hiA] ∩ [loB, hiB] ≠ ∅` (inclusive longs — the
    * session×incident / span×span question [[rangeJoin]] answers only
    * for points). Same banding economy, generalized to two replicated
    * sides: each interval fans out to the ⌈width/band⌉+1 bands it
    * touches and the match is a hash equi-join on the band plus the
    * residual overlap filter — never a BroadcastNestedLoopJoin.
    *
    * Exactly-once without a distinct pass: two overlapping intervals
    * share EVERY band in `[max(lo), min(hi)]`, so the pair is claimed
    * only at its FIRST shared band (`band == floor(max(loA, loB))`) —
    * a filter, not a dedup shuffle; the output never carries the
    * duplicate fanout downstream. Degenerate intervals (hi < lo) match
    * nothing, as in [[rangeJoin]]. Both inputs must have disjoint
    * column sets; `band` is the same selectivity dial (≈ the median
    * interval width).
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
      loA: String, hiA: String, loB: String, hiB: String,
      band: Long): DataFrame = {
    require(band > 0, s"need band > 0, got $band")
    val overlap = a.columns.toSet.intersect(b.columns.toSet)
    require(overlap.isEmpty,
      s"input columns must be disjoint, both have: $overlap")
    val reserved = Seq("_ij_aband", "_ij_bband")
    require((a.columns ++ b.columns).forall(!reserved.contains(_)),
      s"inputs collide with internal columns $reserved")
    def floorDiv(c: Column): Column =
      ((c - pmod(c, lit(band))).cast("decimal(38,0)") / lit(band)).cast("long")
    def banded(df: DataFrame, lo: String, hi: String, as: String) =
      df.withColumn(as,
        explode(when(col(hi) >= col(lo),
          sequence(floorDiv(col(lo)), floorDiv(col(hi))))
          .otherwise(array().cast("array<long>"))))
    banded(a, loA, hiA, "_ij_aband")
      .join(banded(b, loB, hiB, "_ij_bband"),
        col("_ij_aband") === col("_ij_bband") &&
          col(loA) <= col(hiB) && col(loB) <= col(hiA) &&
          col("_ij_aband") === floorDiv(greatest(col(loA), col(loB))))
      .drop("_ij_aband", "_ij_bband")
  }
}

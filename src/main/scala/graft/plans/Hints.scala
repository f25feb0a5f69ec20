package graft.plans

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, call_function, expr, lit, pmod, xxhash64}

import graft.GraftConf

/** Join-hint policy. An explicit `broadcast()` hint is honored by Spark
  * unconditionally — no threshold check, no AQE demotion — so a forced hint
  * on a scale-factor-sized side is a driver-OOM at 100 TB, not a speedup.
  * Raw `broadcast()` is therefore reserved for frames that are bounded by
  * construction (region = 5 rows, nation = 25, single-row global
  * aggregates, top-k pools); everything sf-scaled goes through
  * [[broadcastIfSmall]], which attaches the hint only while the optimizer's
  * size estimate fits under a configurable threshold and otherwise leaves
  * the strategy to Spark's planner + AQE (which can still broadcast at
  * runtime from *actual* sizes, or pick a shuffled join that survives any
  * scale).
  */
object Hints {

  /** Upper bound (byte string, e.g. "10MB") for an advisory broadcast hint.
    * Defaults to the session's `spark.sql.autoBroadcastJoinThreshold`;
    * set to 0 or -1 to disable all advisory hints.
    */
  val ThresholdConf = "spark.graft.broadcastThreshold"

  private def thresholdBytes(df: DataFrame): Long = {
    def bytes(raw: String): Long =
      if (raw.startsWith("-")) 0L else JavaUtils.byteStringAsBytes(raw)
    def read(key: String) = GraftConf.get(df.sparkSession, key)(bytes)
    read(ThresholdConf)
      .orElse(read("spark.sql.autoBroadcastJoinThreshold"))
      .getOrElse(bytes("10MB"))
  }

  /** A single-partition Window partition key for frames that are BOUNDED
    * BY CONSTRUCTION (k centroids, a top-k pool): evaluates to 0 on every
    * row, so the window still sees one total-ordered partition, but the
    * spec is non-empty and WindowExec stops warning "No Partition
    * Defined" about a sort that is deliberately global. Deliberately
    * non-foldable — Catalyst's EliminateWindowPartitions drops a foldable
    * partition key (a plain lit(0) reverts to the empty spec), while an
    * attribute-dependent expression survives; one hash per row is noise
    * on constant-size frames. Do NOT use on data-sized frames — the
    * single partition is then a real bottleneck and the warning would
    * have been correct.
    */
  def onePartition(anchor: Column): Column = pmod(xxhash64(anchor), lit(1L))

  /** Advisory broadcast: hint only while the optimizer's size estimate for
    * `df` (file sizes for scans — conservative: filters don't shrink it,
    * joins inflate it) fits under [[ThresholdConf]]. Past the threshold the
    * frame is returned unhinted, so the planner/AQE choose a strategy from
    * real sizes — the graceful degradation a forced hint forecloses.
    */
  def broadcastIfSmall(df: DataFrame): DataFrame =
    if (fitsBroadcast(df)) broadcast(df) else df

  /** Whether [[broadcastIfSmall]] hints `df`. */
  def fitsBroadcast(df: DataFrame): Boolean = {
    val limit = thresholdBytes(df)
    limit > 0 && df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(limit)
  }

  /** Bloom-gated equi-join: collapse the build side's join keys to ONE
    * `numBits/8`-byte bitset (`bloom_agg`, a constant-size broadcast
    * regardless of build-side row count), probe-filter the stream side
    * with the codegen'd `bloom_contains` BEFORE the join, then join.
    * The explicit form of Spark's InjectRuntimeFilter — usable where
    * the optimizer's version doesn't fire (checkpoint boundaries,
    * non-shuffle builds) and tunable. False positives only pass extra
    * rows that the join itself drops; false negatives are impossible —
    * so the gated join EQUALS the plain join, row for row. At scale the
    * gate is the difference between shuffling the whole fact table and
    * shuffling the fraction that can actually match. Restricted to
    * inner/left_semi: gating the stream side is only sound when
    * unmatched stream rows contribute nothing.
    */
  def bloomGatedJoin(stream: DataFrame, build: DataFrame,
      streamKey: Column, buildKey: Column, joinType: String,
      numBits: Int = -1, k: Int = 5): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi",
      s"bloom gate drops provably-unmatched stream rows — only inner/" +
        s"left_semi keep their semantics, got $joinType")
    // auto-size to ~10 bits/key (fp ≈ 1% at k=5): a fixed-size filter
    // SATURATES when the build side outgrows it — the gate then passes
    // everything and only its own cost remains. The sizing count is one
    // cheap agg against the savings of not shuffling the stream side.
    val bits =
      if (numBits > 0) numBits
      else {
        val n = build.select(buildKey).count()
        val want = math.min(math.max(10L * math.max(n, 1L), 1L << 20), 1L << 27)
        (((want + 63) / 64) * 64).toInt
      }
    // the blob is evaluated ONCE on the driver (bounded: ≤ 2^27 bits =
    // 16 MB) and embedded as a literal, NOT attached as a joined column —
    // a 1-row cross join copies the whole bitset into every stream row's
    // UnsafeRow (measured 15.1 s → literal form 1.4 s on a 600k-row
    // stream at numBits = 2^20), while the literal rides the generated
    // class once and the probe stays a narrow scan-stage filter.
    val blob = build
      .select(buildKey.cast("string").as("_bgK"))
      .agg(expr(s"bloom_agg(_bgK, $bits, $k)"))
      .head.getAs[Array[Byte]](0)
    stream
      .filter(call_function("bloom_contains",
        lit(blob), streamKey.cast("string")))
      .join(build, streamKey === buildKey, joinType)
  }
}

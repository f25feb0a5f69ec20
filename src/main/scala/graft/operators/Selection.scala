package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Exact distributed order statistics by iterative histogram bisection —
  * the selection problem ("the exact k-th smallest per group") WITHOUT a
  * sort, the classic MPP refinement of Blum et al. selection: each round
  * scans the data once, counts rows (or sums weights) into ≤ `buckets`
  * fixed-width integer buckets per still-unresolved group, and the
  * driver narrows each group's [lo, hi] value window to the single
  * bucket containing its target rank. Rounds = ⌈log_buckets(value
  * range)⌉ — 2 for document-length-sized domains, ≤ 6 for a full 64-bit
  * range — and the per-round shuffle is (group, bucket) partial-agg
  * rows, never data rows, so the op is scan-bandwidth at any corpus
  * size where a global or per-group sort would shuffle everything.
  *
  * Contrast [[graft.functions.Sketches.histogramThreshold]], which
  * answers at BUCKET granularity in one pass (approximate); this
  * operator refines to the exact element. Mirrors the reference's
  * store-side aggregation role (`store/store.go:175-218` range scans
  * feed caller-side stats); the exact-rank semantics are what a
  * training-data pipeline needs for p50/p99 length cutoffs that must be
  * reproducible across engines.
  *
  * Driver state: one (lo, hi, k) triple per group and round — group
  * cardinality must be driver-small (languages, sources, shards; NOT
  * per-user). That bound is the same one the k-means/PCA driver loops
  * already declare.
  */
object Selection {

  /** Exact q-th (= `num`/`den`) order statistic per group over an
    * integral column: for each group of `strata`, the smallest value v
    * such that count(rows ≤ v) ≥ k, where k = ⌈n·num/den⌉ (num=1, den=2
    * gives the lower median). NULL values are excluded. Output:
    * strata ++ (n, k, kth), one row per group.
    */
  def exactKthByGroup(df: DataFrame, strata: Seq[String], value: Column,
      num: Int, den: Int, buckets: Int = 4096): DataFrame =
    kthCore(df, strata, value, lit(1L), num, den, buckets, "n")

  /** Weighted exact selection: the smallest value v such that the SUM of
    * `weight` over rows with value ≤ v reaches ⌈W·num/den⌉ (W = the
    * group's total weight) — e.g. value = doc length, weight = doc bytes
    * gives "the length below which half the corpus bytes sit", the
    * data-card cut a row-count median misstates under skewed lengths.
    * Weights must be non-negative; NULL values or weights are excluded;
    * all-zero-weight groups have no order statistic and are omitted.
    * Output: strata ++ (w, k, kth).
    */
  def exactWeightedKthByGroup(df: DataFrame, strata: Seq[String],
      value: Column, weight: Column, num: Int, den: Int,
      buckets: Int = 4096): DataFrame =
    kthCore(df, strata, value, weight, num, den, buckets, "w")

  private def kthCore(df: DataFrame, strata: Seq[String], value: Column,
      weight: Column, num: Int, den: Int, buckets: Int,
      totalCol: String): DataFrame = {
    require(num >= 1 && den >= num,
      s"need 1 <= num <= den for a valid rank fraction, got $num/$den")
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    val spark = df.sparkSession
    val gcols = strata.map(col)
    val v = value.cast("long")
    val wgt = weight.cast("long")
    // one pass: per-group extent + total weight; ranks are decided from it
    val base = df.filter(v.isNotNull && wgt.isNotNull)
      .select(gcols ++ Seq(v.as("_selV"), wgt.as("_selG")): _*)
      .transform(Materialize(_)) // scanned once per refinement round
    val ext = base.groupBy(gcols: _*)
      .agg(min(col("_selV")).as("_selLo"), max(col("_selV")).as("_selHi"),
        sum(col("_selG")).as("_selN"))
      .collect()
    // driver state: group key values -> (lo, hi, remaining rank k, total)
    final case class St(key: Seq[Any], lo: Long, hi: Long, k: Long, n: Long)
    var active = ext.toSeq.flatMap { r =>
      val key = strata.indices.map(r.get)
      val n = r.getLong(strata.size + 2)
      val k = (n * num + den - 1) / den // ceil(n*num/den), n*num fits: n<2^60/den
      if (n <= 0) None // all-zero-weight group: no order statistic
      else Some(St(key, r.getLong(strata.size), r.getLong(strata.size + 1), k, n))
    }
    val resolved = Seq.newBuilder[(Seq[Any], Long, Long, Long)] // key, n, kOrig, kth
    val kOrig = active.map(s => s.key -> s.k).toMap
    // separator-joined group key for the driver map; \u0001 prevents
    // ("ab","c") vs ("a","bc") collisions
    def keyCol: Column = concat_ws("\u0001", gcols.map(_.cast("string")): _*)
    def keyOf(key: Seq[Any]): String = key.map(String.valueOf).mkString("\u0001")
    while (active.nonEmpty) {
      val (done, open) = active.partition(s => s.lo == s.hi)
      resolved ++= done.map(s => (s.key, s.n, kOrig(s.key), s.lo))
      active = open
      if (active.nonEmpty) {
        // fixed-width integer bucketing inside each group's open window.
        // Width and bounds are computed in BigInt on the driver and the
        // bucket index in DECIMAL(38,0) on the executors: a full 64-bit
        // domain (lo near Long.MinValue, hi near Long.MaxValue) overflows
        // both `hi - lo` and `v - lo` in long arithmetic — the scaladoc
        // promises 64-bit exactness, so the window math must carry the
        // 65-bit span. Width ≤ 2^64/buckets + 1 still fits a long for
        // buckets ≥ 4; `div` (not /) because long / long in Spark is a
        // double divide that loses exactness past 2^53.
        def width(s: St): Long =
          ((BigInt(s.hi) - BigInt(s.lo)) / buckets + 1).toLong
        val bnd = spark.createDataFrame(active.map(s =>
            (keyOf(s.key), s.lo, s.hi, width(s))))
          .toDF("_selK", "_selLo", "_selHi", "_selW")
        val counts = base.withColumn("_selK", keyCol)
          .join(broadcast(bnd), "_selK")
          .filter(col("_selV").between(col("_selLo"), col("_selHi")))
          .withColumn("_selB", expr(
            "CAST((CAST(_selV AS DECIMAL(38,0)) - CAST(_selLo AS DECIMAL(38,0))) div _selW AS BIGINT)"))
          .groupBy("_selK", "_selB").agg(sum(col("_selG")).as("_selC"))
          .collect()
          .groupBy(_.getString(0))
          .map { case (kk, rows) =>
            kk -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
          }
        active = active.map { s =>
          val w = width(s)
          var k = s.k
          // walk buckets in order until the one holding rank k
          val hist = counts.getOrElse(keyOf(s.key), Array.empty[(Long, Long)])
          var i = 0
          var b = -1L
          while (b < 0 && i < hist.length) {
            if (k <= hist(i)._2) b = hist(i)._1 else { k -= hist(i)._2; i += 1 }
          }
          require(b >= 0, s"rank ${s.k} not found in window of ${s.key}")
          val lo = (BigInt(s.lo) + BigInt(b) * w).toLong
          val hi = ((BigInt(lo) + (w - 1)) min BigInt(s.hi)).toLong
          St(s.key, lo, hi, k, s.n)
        }
      }
    }
    val out = resolved.result()
    val schemaCols = strata :+ totalCol :+ "k" :+ "kth"
    val rows = out.map { case (key, n, k, kth) =>
      org.apache.spark.sql.Row.fromSeq(key ++ Seq(n, k, kth))
    }
    val proto = df.select(gcols: _*).schema
    val schema = org.apache.spark.sql.types.StructType(
      proto.fields ++ Seq(totalCol, "k", "kth").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
      .toDF(schemaCols: _*)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic 10× scale-up dataset builder (SCALING.md "measured" section):
  * replicates the FACT tables `copies`× with shifted keys into `outDir`,
  * copying the dimension tables through unchanged — real deployments grow
  * in facts (events, documents, vectors, transactions), not reference
  * data. The result is a directory Bench/Verify can point at directly
  * (`SPARK_GRAFT_SF_DIR=<outDir>`), so the same query code is timed at 1×
  * and N× and the ratio exposes any superlinear plan.
  *
  * Replicated document text is re-tokenized with a per-copy suffix so
  * copies are NOT near-duplicates of each other: the scale-up means
  * "N× more unique documents" and expected output cardinalities stay
  * ~linear. (Replicating text verbatim would instead plant N-deep exact-
  * duplicate clusters — a valid robustness test, but pair output grows
  * quadratically in N and the timing would measure output explosion, not
  * scaling.) Per-copy token distributions, document lengths, and
  * repetition structure are preserved.
  *
  * Key shifts use a fixed stride of 1e6 — above every sf0.1 key range —
  * so intra-fact references (l_orderkey ↔ o_orderkey) stay consistent per
  * copy while dim foreign keys (custkey, partkey, suppkey, user_id)
  * remain in the unreplicated dimension range.
  */
object ScaleCheck {

  private val Stride = 1000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/scale10"
    val copies = if (args.length > 2) args(2).toInt else 10
    // "fixed-axis" (default) keeps every copy on the ORIGINAL event time
    // axis — the adversarial density case, where N× data packs N× events
    // into each incident window and matched-pair output grows ~N².
    // "extend-axis" shifts each copy's `ts` past the previous copy's
    // span: a real corpus that grows 100× grows its TIME AXIS with it
    // (more days of traffic, not denser seconds), so window densities
    // are preserved and output grows linearly — the density-preserving
    // twin SCALING.md's range-join demonstration measures.
    val mode = if (args.length > 3) args(3) else "fixed-axis"
    require(mode == "fixed-axis" || mode == "extend-axis",
      s"mode must be fixed-axis | extend-axis, got $mode")
    // SPARK_GRAFT_TABLES=events,orders restricts output (probe aid)
    val tablesWanted = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").toSet)
    def wanted(n: String): Boolean = tablesWanted.forall(_.contains(n))
    val spark = Session.local()

    def t(name: String): DataFrame = queries.Tables.t(spark, srcDir, name)
    def write(name: String, df: DataFrame): Unit = if (wanted(name)) {
      df.repartition(Session.cpus)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scale] $name -> $outDir (${spark.read.parquet(s"$outDir/$name.parquet").count()} rows)")
    }

    // dims: straight copies
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(n, t(n)))

    val cp = spark.range(copies).select(col("id").as("_copy"))
    def replicate(df: DataFrame, shiftCols: Seq[String], extra: DataFrame => DataFrame = identity): DataFrame = {
      val rep = df.crossJoin(broadcast(cp))
      val shifted = shiftCols.foldLeft(rep) { (d, c) =>
        d.withColumn(c, col(c) + col("_copy") * Stride)
      }
      extra(shifted).drop("_copy")
    }

    write("orders", replicate(t("orders"), Seq("o_orderkey")))
    write("lineitem", replicate(t("lineitem"), Seq("l_orderkey")))
    val eventsDf =
      if (mode == "extend-axis" && wanted("events")) {
        // per-copy time-axis stride: the source span plus slack beyond
        // the widest bench window (600 s), so no incident window ever
        // crosses copies; ts is long nanos (nanosAsLong read)
        val mm = t("events").agg(min(col("ts")), max(col("ts"))).head
        require(!mm.isNullAt(0) && !mm.isNullAt(1),
          s"extend-axis needs a non-empty events table at $srcDir — " +
            "min/max(ts) came back null")
        val Seq(lo, hi) = mm.toSeq.map(_.asInstanceOf[Long])
        val axisStride = (hi - lo) + 2L * 600L * 1000000000L
        replicate(t("events"), Seq("event_id"),
          d => d.withColumn("ts", col("ts") + col("_copy") * axisStride))
      } else replicate(t("events"), Seq("event_id"))
    write("events", eventsDf)
    // per-copy deterministic sign flips decorrelate the copies (expected
    // cross-copy cosine ~0) while preserving norms and the per-component
    // distribution, so the scale-up means "N× more unique vectors" — a
    // verbatim copy would plant N-deep near-dup clusters and the sweep
    // would time quadratic pair output, not scaling (the same reasoning
    // as the document token salt below; copy 0 stays the original)
    write("embeddings", replicate(t("embeddings"), Seq("vec_id"), d =>
      d.withColumn("embedding",
        when(col("_copy") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => x * when(pmod(xxhash64(col("_copy"), i), lit(2)) === 0, lit(-1.0f))
              .otherwise(lit(1.0f)))))))
    write("documents", replicate(t("documents"), Seq("doc_id"), d =>
      d.withColumn("text",
        when(col("_copy") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), "\\s+"),
            tok => concat(tok, lit("_"), col("_copy"))))))))

    spark.stop()
  }
}

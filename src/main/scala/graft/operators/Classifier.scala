package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Hashed-linear document classifier — the model-based quality-filter leg
  * of a pretraining pipeline (the fastText-style filters behind CCNet /
  * DCLM / FineWeb-Edu style corpus curation), next to the heuristic gates
  * in [[graft.functions.TextAnalysis]] and [[Corpus.percentileGate]].
  *
  * Features are hashed bag-of-words: token → bucket via the portable
  * 60-bit md5 hash ([[Dedup.portableHash64]]) mod `numBuckets`, so the
  * feature map needs no vocabulary dictionary, never shuffles, and is
  * identical in every engine (the DuckDB oracle replays it exactly).
  * Weights are INTEGERS (quantized, as deployed linear filters are): a
  * document's margin is exact long arithmetic — bit-identical across
  * engines, partitionings, and retries.
  *
  * Scale shape: scoring is a NARROW per-row expression (weights ride
  * along as a literal array; one hash per token occurrence) — no shuffle,
  * no state, stream-safe at ingest. Training is a driver-sequenced loop
  * like the k-means / BPE trainers: each epoch is one partial-agg shuffle
  * over misclassified docs' tokens, and only the ≤ `numBuckets` per-bucket
  * update rows reach the driver (bucket count is a model constant, not a
  * data size).
  */
object Classifier {

  /** Feature bucket of one token: pmod(portableHash64(tok), numBuckets).
    * The hash is non-negative by construction (15 hex digits < 2^60), so
    * `%` and `pmod` agree — the oracle uses plain `%`.
    */
  def bucket(tok: Column, numBuckets: Int): Column = {
    require(numBuckets > 0, s"need numBuckets > 0, got $numBuckets")
    pmod(Dedup.portableHash64(tok), lit(numBuckets.toLong)).cast("int")
  }

  private def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Score every document with a hashed linear model: adds
    * `out` = bias + Σ over token occurrences of weights(bucket(token)).
    * Empty documents score exactly `bias`. Narrow — works unchanged on a
    * streaming frame (no retraction risk: a row's score never changes).
    */
  def scoreLinear(docs: DataFrame, text: String,
      weights: Array[Long], bias: Long = 0L,
      out: String = "margin"): DataFrame = {
    require(!docs.columns.contains(out),
      s"input already has a '$out' column — the score would shadow it")
    val wLit = typedlit(weights)
    docs.withColumn(out,
      lit(bias) + aggregate(
        transform(tokens(col(text)), t =>
          element_at(wLit, bucket(t, weights.length) + 1)),
        lit(0L), (acc, v) => acc + v))
  }

  /** Batch perceptron training on (+1 / −1)-labeled documents: per epoch,
    * score with the current weights, gather the misclassified docs
    * (margin · label ≤ 0), and add label-weighted token-occurrence counts
    * per bucket to the weights. Deterministic (no learning-rate float, no
    * row order dependence — updates are commutative integer sums) and
    * guaranteed to converge on linearly separable data.
    *
    * `labelCol` must evaluate to +1 or −1 (long). Returns (weights, bias).
    */
  def trainPerceptron(docs: DataFrame, text: String, labelCol: Column,
      numBuckets: Int, epochs: Int): (Array[Long], Long) = {
    require(epochs >= 1, s"need epochs >= 1, got $epochs")
    val w = Array.fill(numBuckets)(0L)
    var bias = 0L
    // tokenize + bucket once; each epoch re-filters by the new margin
    val featured = docs
      .select(labelCol.cast("long").as("_cls_y"), tokens(col(text)).as("_cls_toks"))
      .select(col("_cls_y"),
        transform(col("_cls_toks"), t => bucket(t, numBuckets)).as("_cls_b"))
      .transform(Materialize(_))
    try {
      var epoch = 0
      var converged = false
      while (epoch < epochs && !converged) {
        val wLit = typedlit(w)
        val margin = lit(bias) + aggregate(
          transform(col("_cls_b"), b => element_at(wLit, b + 1)),
          lit(0L), (acc, v) => acc + v)
        // per-bucket update: Σ over misclassified docs of y · #occurrences.
        // A sentinel −1 bucket per doc carries the bias update (Σ y over
        // misclassified docs) through the SAME aggregation — one job per
        // epoch, ≤ numBuckets + 1 rows to the driver.
        val updates = featured
          .filter(margin * col("_cls_y") <= 0)
          .select(col("_cls_y"),
            explode(concat(array(lit(-1)), col("_cls_b"))).as("_cls_bk"))
          .groupBy("_cls_bk").agg(sum("_cls_y").as("_cls_dw"))
          .collect()
        if (updates.isEmpty) converged = true
        else {
          updates.foreach { r =>
            val bk = r.getInt(0)
            if (bk == -1) bias += r.getLong(1) else w(bk) += r.getLong(1)
          }
          epoch += 1
        }
      }
    } finally Materialize.release(featured)
    (w, bias)
  }
}

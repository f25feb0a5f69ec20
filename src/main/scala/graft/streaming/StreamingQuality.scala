package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Corpus

/** Streaming document-quality gating at ingest — the deployment shape of
  * the batch quality operators (`TextAnalysis`, `Corpus.rareTokenStats`):
  * score and scrub documents AS THEY ARRIVE, against reference statistics
  * trained in batch. Everything here is a narrow, stateless projection
  * (plus one broadcast join), so the same call works on a `readStream`
  * frame and in batch, survives checkpoint restarts with no state store,
  * and keeps the stream inside whole-stage codegen.
  *
  * The token-frequency table is a BATCH artifact (trained on yesterday's
  * corpus — the same artifact a production frequency filter ships) joined
  * broadcast; refreshing it between micro-batches is
  * [[GlobalTableRefresh.enrichEachBatch]] composed over this.
  *
  * Every gate scores with the batch operator's own Column expressions
  * (the decontamination gates take their grams from [[Corpus.ngrams]]);
  * only the frozen artifact is stream-specific. A batch gate that needs
  * no artifact, such as [[graft.operators.Multimodal.audioGate]], runs
  * unchanged on a `readStream` frame and has no twin here.
  */
object StreamingQuality {

  /** PII-scrub + quality-score + language-gate a document stream in one
    * narrow pass. Adds `scrubbed` (masked text), `quality`, `pred_lang`,
    * and `keep` (quality ≥ `minQuality` AND predicted language in
    * `langs`). No shuffle, no state.
    */
  def gateAtIngest(
      docs: DataFrame, text: String,
      minQuality: Double, langs: Seq[String]): DataFrame =
    docs
      .withColumn("scrubbed", TextAnalysis.scrubPii(col(text)))
      .withColumn("quality", TextAnalysis.qualityScore(col("scrubbed")))
      .withColumn("pred_lang", TextAnalysis.langId(col("scrubbed")))
      .withColumn("keep",
        col("quality") >= minQuality && col("pred_lang").isin(langs: _*))

  /** Gopher word-level rules at ingest — the streaming deployment of
    * [[TextAnalysis.gopherKeep]]: stat columns + the all-integer keep
    * decision in one narrow stateless pass (the same columns the batch
    * `q_gopher_rules` oracle hashes, so stream and batch cannot drift).
    * Adds `n_words`, `word_chars`, `alpha_words`, `symbols`, `stop_hits`,
    * `keep`. No shuffle, no state, append-safe.
    */
  def gopherGateAtIngest(docs: DataFrame, text: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    docs
      .withColumn("n_words", TextAnalysis.tokenCountWs(col(text)).cast("long"))
      .withColumn("word_chars", TextAnalysis.gopherWordChars(col(text)).cast("long"))
      .withColumn("alpha_words", TextAnalysis.gopherAlphaWords(col(text)).cast("long"))
      .withColumn("symbols", TextAnalysis.gopherSymbols(col(text)).cast("long"))
      .withColumn("stop_hits", TextAnalysis.gopherStopHits(col(text)).cast("long"))
      .withColumn("keep", TextAnalysis.gopherKeep(col("n_words"),
        col("word_chars"), col("alpha_words"), col("symbols"),
        col("stop_hits"), minWords, maxWords))

  /** Rare-token share of each arriving document against a batch-trained
    * document-frequency table `dfTable` (columns `tok`, `df`) and corpus
    * size `nDocs` — the streaming twin of `Corpus.rareTokenStats`: a token
    * unseen in the reference corpus counts as rare (df 0). The DF table
    * folds into ONE map value broadcast onto the stream, and the share is
    * a per-row array fold — completely STATELESS (no streaming
    * aggregation, append-mode safe, checkpoint-free). The vocab must fit
    * one map cell (fine for a frequency-filter artifact — cap it with a
    * min-df cut when training; absent = rare anyway).
    * Adds `n_tokens`, `n_rare`, `rare_share` to the stream.
    */
  def rareTokenShareAtIngest(
      docs: DataFrame, text: String,
      dfTable: DataFrame, nDocs: Long, rareDen: Int = 10): DataFrame = {
    val dfMap = dfTable.agg(
      map_from_entries(collect_list(struct(col("tok"), col("df")))).as("_g_dfmap"))
    docs.crossJoin(broadcast(dfMap))
      .withColumn("_g_toks", split(lower(col(text)), "\\s+"))
      .withColumn("n_tokens", size(col("_g_toks")).cast("long"))
      .withColumn("n_rare", aggregate(col("_g_toks"), lit(0L), (acc, t) =>
        acc + when(
          coalesce(element_at(col("_g_dfmap"), t), lit(0L)) * rareDen < nDocs,
          lit(1L)).otherwise(lit(0L))))
      .withColumn("rare_share",
        floor(col("n_rare").cast("double") / col("n_tokens") * 1e6 + 0.5) / 1e6)
      .drop("_g_toks", "_g_dfmap")
  }

  /** The trained reference artifact for [[rareTokenShareAtIngest]]: the
    * per-token document-frequency table of a batch corpus.
    */
  def trainDfTable(corpus: DataFrame, id: String, text: String): DataFrame =
    corpus.select(col(id).as("_doc"),
        explode(split(lower(col(text)), "\\s+")).as("tok"))
      .dropDuplicates("_doc", "tok")
      .groupBy("tok").agg(count(lit(1)).as("df"))

  /** Per-stratum percentile gate at ingest — the streaming twin of
    * [[graft.operators.Corpus.percentileGate]]: a batch-trained threshold
    * table ([[graft.operators.Corpus.quantileThresholds]] — strata… +
    * `_thr`) joins advisory-broadcast onto the arriving rows, and `keep`
    * flags scores at or above their stratum's frozen threshold. A
    * stream-static left join, stateless and append-safe (training inside
    * the stream would need a global sort of history — the artifact split
    * is the deployable shape). Strata unseen in training fall back to
    * `defaultThr`.
    */
  def percentileGateAtIngest(rows: DataFrame, strata: Seq[String],
      score: Column, thresholds: DataFrame, defaultThr: Double): DataFrame = {
    require(strata.nonEmpty,
      "streaming gate needs >= 1 stratum; for a single global threshold " +
        "compare against the literal value instead (no join needed)")
    require(!rows.columns.contains("_thr"),
      "input already has a _thr column — it would collide with the threshold")
    rows.join(graft.plans.Hints.broadcastIfSmall(thresholds), strata, "left")
      .withColumn("keep", score >= coalesce(col("_thr"), lit(defaultThr)))
      .drop("_thr")
  }

  /** Benchmark decontamination at ingest — the streaming twin of
    * [[graft.operators.Corpus.contamination]]: count each arriving
    * document's DISTINCT word n-grams that collide with a frozen
    * benchmark-gram artifact ([[benchmarkGramSet]], trained in batch from
    * the eval suites), and flag `keep` when the overlap stays ≤
    * `maxShared`. The gram set folds into ONE map value broadcast onto
    * the stream (eval benchmarks are bounded — thousands of grams, not
    * corpus-scaled), and the overlap is a per-row array fold — stateless,
    * append-safe, checkpoint-free, the batch operator's gram column
    * ([[Corpus.ngrams]]: docs shorter than n share nothing). Adds
    * `n_shared` and `keep`.
    */
  def decontaminateAtIngest(docs: DataFrame, text: String,
      benchmarkGrams: DataFrame, n: Int, maxShared: Int = 0): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(maxShared >= 0, s"need maxShared >= 0, got $maxShared")
    Seq("_g_bench", "_g_grams").foreach(c => require(!docs.columns.contains(c),
      s"input already has a $c column"))
    val benchMap = benchmarkGrams.agg(
      map_from_entries(collect_list(struct(col("g"), lit(true)))).as("_g_bench"))
    val grams = array_distinct(Corpus.ngrams(col(text), n))
    docs.crossJoin(broadcast(benchMap))
      .withColumn("_g_grams", grams)
      .withColumn("n_shared", aggregate(col("_g_grams"), lit(0L), (acc, g) =>
        acc + when(element_at(col("_g_bench"), g).isNotNull, lit(1L))
          .otherwise(lit(0L))))
      .withColumn("keep", col("n_shared") <= maxShared)
      .drop("_g_grams", "_g_bench")
  }

  /** The frozen benchmark artifact for [[decontaminateAtIngest]]: the
    * distinct n-gram set of the eval corpus, column `g` — the same grams
    * the batch contamination report joins on.
    */
  def benchmarkGramSet(bench: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    Corpus.ngramOccurrences(bench, id, text, n).select("g").distinct()

  /** Bloom-gated decontamination at ingest — [[decontaminateAtIngest]]
    * with the exact gram map swapped for a frozen bloom blob
    * ([[bloomArtifact]]): the broadcast is `numBits/8` bytes regardless of
    * benchmark size, no false negatives (a contaminated doc is never
    * admitted), deterministic false positives only ever over-drop. The
    * probe is a per-row fold over the doc's distinct grams through the
    * codegen'd `bloom_contains` — stateless, append-safe, checkpoint-free.
    * Adds `n_flagged` and `keep` (`n_flagged` ≤ `maxFlagged`); equals the
    * batch [[graft.operators.Corpus.bloomContamination]] counts on the
    * same data (spec-pinned).
    */
  def bloomDecontaminateAtIngest(docs: DataFrame, text: String,
      bloom: Array[Byte], n: Int, maxFlagged: Int = 0): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(maxFlagged >= 0, s"need maxFlagged >= 0, got $maxFlagged")
    require(!docs.columns.contains("n_flagged"),
      "input already has an n_flagged column")
    val grams = array_distinct(Corpus.ngrams(col(text), n))
    docs
      .withColumn("n_flagged",
        size(filter(grams, g =>
          call_function("bloom_contains", lit(bloom), g))).cast("long"))
      .withColumn("keep", col("n_flagged") <= maxFlagged)
  }

  /** The frozen blob for [[bloomDecontaminateAtIngest]]: the benchmark
    * gram set folded into one bloom bitset (collected — the blob IS the
    * bounded artifact, `numBits/8` bytes by construction).
    */
  def bloomArtifact(bench: DataFrame, id: String, text: String,
      n: Int, numBits: Int, k: Int): Array[Byte] =
    benchmarkGramSet(bench, id, text, n)
      .agg(expr(s"bloom_agg(g, $numBits, $k)").as("bf"))
      .head().getAs[Array[Byte]]("bf")

  /** DSIR importance weights at ingest — the streaming twin of
    * [[graft.operators.Corpus.dsirWeights]]: the batch-trained bucket
    * ratio table ([[graft.operators.Corpus.dsirRatioTable]] — frozen
    * raw/target corpora) folds into ONE map value broadcast onto the
    * stream, and each arriving document computes `ds_weight` as a
    * per-row gram fold — identical gram formation (lowercased whitespace
    * tokens, sliding n-grams with multiplicity, docs shorter than n
    * contribute nothing), identical bucket hash, identical ratio sum and
    * ≥1 clamp. Stateless, append-safe, checkpoint-free; compose with
    * [[samplePpsAtIngest]] at a frozen total for the full resampling
    * gate (membership and HT weights then equal the batch
    * [[graft.operators.Corpus.dsirResample]] bit-for-bit — spec-pinned).
    *
    * The map is bucket-bounded (≤ `buckets` entries, i.e. ≤ 2^16 at the
    * default — ~1 MB), the deployable-artifact analog of
    * [[rareTokenShareAtIngest]]'s document-frequency map.
    */
  def dsirWeightAtIngest(docs: DataFrame, text: String,
      ratioTable: DataFrame, n: Int = 2, buckets: Int = 1 << 16): DataFrame = {
    require(n > 0 && buckets > 0, s"need positive n/buckets, got $n/$buckets")
    require(!docs.columns.contains("ds_weight"),
      "input already has a ds_weight column — the weights would shadow it")
    val ratioMap = ratioTable.agg(
      map_from_entries(collect_list(struct(col("_b"), col("_r")))).as("_ds_map"))
    docs.crossJoin(broadcast(ratioMap))
      .withColumn("ds_weight", greatest(lit(1L),
        aggregate(Corpus.ngrams(col(text), n), lit(0L),
          (acc, g) => acc + coalesce(
            element_at(col("_ds_map"), Corpus.dsirBucket(g, buckets)), lit(0L)))))
      .drop("_ds_map")
  }

  /** PPS weighted sample at ingest — the streaming twin of
    * [[graft.operators.Corpus.samplePps]]: the corpus total weight is a
    * FROZEN batch artifact (yesterday's `sum(weight)`, refreshed on
    * whatever cadence the mix is re-audited), so the membership test is a
    * stateless narrow filter — no aggregation inside the stream, no state
    * store, append-safe. The test and the Horvitz–Thompson weight are the
    * SAME definitions the batch form uses (`Corpus.ppsKeep` / `ppsHt`),
    * so a key admitted at ingest is exactly the key the batch sample
    * admits at the same frozen total — the two cannot drift. As the live
    * corpus grows past the frozen total, the realized rate runs
    * proportionally hot until the artifact is refreshed (the same
    * advisory-artifact contract as [[percentileGateAtIngest]]).
    */
  def samplePpsAtIngest(rows: DataFrame, key: Column, weight: Column,
      expected: Int, totalWeight: Long): DataFrame = {
    require(expected > 0, s"need expected > 0, got $expected")
    require(totalWeight > 0, s"need totalWeight > 0, got $totalWeight — " +
      "the membership test is exact decimal arithmetic for any positive long")
    require(!rows.columns.contains("ht_weight"),
      "input already has an ht_weight column — the sample would " +
        "silently shadow it")
    val w = weight.cast("long")
    rows.filter(Corpus.ppsKeep(key, w, expected, lit(totalWeight)))
      .withColumn("ht_weight", Corpus.ppsHt(w, expected, lit(totalWeight)))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Corpus-preparation operators for training-data pipelines: context-window
  * chunking and deterministic sampling. Both are narrow per-row transforms
  * (chunking explodes rows but never shuffles; sampling is a filter), so
  * they compose with any downstream dedup/analysis at any corpus size.
  */
object Corpus {

  /** Split each document into token windows of `chunkTokens` with
    * `overlapTokens` carried between consecutive chunks — the standard
    * context-window preparation step. Chunk starts advance by
    * `chunkTokens − overlapTokens`; the final chunk may be short, but a
    * window is only emitted if it contributes at least one token beyond
    * the carried overlap (starts stop at `tokens − overlap − 1`) — a
    * trailing window of only overlap tokens would be wholly contained in
    * the previous chunk and would double-count its tokens downstream.
    * Empty docs produce one empty chunk (the whole-doc window).
    *
    * Output: (id, chunk_no, chunk_tokens, chunk_md5) — one row per chunk,
    * digest instead of text so downstream exact-compare is cheap; callers
    * wanting the text select the same `concat_ws` expression.
    */
  /** The (txt, n) token-window list of one document — the single
    * definition of chunk boundaries, shared by [[chunk]] and the
    * streaming in-row form
    * ([[graft.streaming.StreamingCorpus.chunkAndPackAtIngest]]).
    * Upper bound tokens−overlap−1: the last window must add a token the
    * previous chunk didn't already cover (see [[chunk]]'s scaladoc).
    */
  private[graft] def tokenWindows(text: Column,
      chunkTokens: Int, overlapTokens: Int): Column = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got overlap=$overlapTokens chunk=$chunkTokens")
    val stride = chunkTokens - overlapTokens
    val tk = split(text, "\\s+")
    val starts = sequence(lit(0), greatest(size(tk) - overlapTokens - 1, lit(0)), lit(stride))
    transform(starts, s => struct(
      concat_ws(" ", slice(tk, s + 1, lit(chunkTokens))).as("txt"),
      least(lit(chunkTokens), size(tk) - s).as("n")))
  }

  def chunk(docs: DataFrame, id: String, text: String,
      chunkTokens: Int, overlapTokens: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    val kept = keepCols.map(col)
    docs.select(
        (col(id) +: kept) :+
        posexplode(tokenWindows(col(text), chunkTokens, overlapTokens)): _*)
      .select(
        (col(id) +: kept) ++ Seq(col("pos").as("chunk_no"),
          col("col.n").as("chunk_tokens"), md5(col("col.txt")).as("chunk_md5")): _*)
  }

  /** Word n-gram occurrences of a text (not distinct), in token order:
    * lowercased whitespace tokens — `split` keeps empty tokens, so a text
    * ending in whitespace has a trailing empty one — windows of n joined
    * by a space. A text shorter than n tokens, or null, has no grams.
    */
  def ngrams(text: Column, n: Int): Column =
    element_at(
      transform(array(split(lower(text), "\\s+")), tk =>
        when(size(tk) >= n,
          transform(sequence(lit(0), size(tk) - n),
            i => concat_ws(" ", slice(tk, i + lit(1), lit(n)))))
          .otherwise(array().cast("array<string>"))),
      1)

  /** One row per word n-gram OCCURRENCE (not distinct): (id, g). Documents
    * shorter than n tokens produce no rows — callers that must keep them
    * re-join from the doc table. Narrow (one explode), never shuffles.
    */
  def ngramOccurrences(docs: DataFrame, id: String, text: String, n: Int): DataFrame =
    docs.select(col(id), explode(ngrams(col(text), n)).as("g"))

  /** Gopher-style repetition/boilerplate stats per document: total bigram
    * occurrences, the fraction held by the single most frequent bigram, and
    * the fraction of trigram occurrences that are duplicates (their trigram
    * appears more than once in the doc). High values flag boilerplate and
    * degenerate repetition — the standard pretraining quality gates.
    *
    * Two explode+agg passes (bigrams, trigrams), each a per-doc partial
    * agg; no cross-document state, so the operator is scale-free. Docs
    * shorter than the n-gram emit null stats (kept via left join).
    */
  def repetitionStats(docs: DataFrame, id: String, text: String): DataFrame = {
    val bg = ngramOccurrences(docs, id, text, 2)
      .groupBy(col(id), col("g")).agg(count(lit(1)).as("c"))
    val bstat = bg.groupBy(id).agg(
      sum("c").as("n_bigrams"),
      (max("c").cast("double") / sum("c").cast("double"))
        .cast("double").as("top_bigram_frac"))
    val tg = ngramOccurrences(docs, id, text, 3)
      .groupBy(col(id), col("g")).agg(count(lit(1)).as("c"))
    val tstat = tg.groupBy(id).agg(
      (sum(when(col("c") > 1, col("c")).otherwise(0)).cast("double") /
        sum("c").cast("double")).cast("double").as("dup_trigram_frac"))
    docs.select(col(id)).join(bstat, Seq(id), "left").join(tstat, Seq(id), "left")
  }

  /** Train/test contamination: for each test document, how many of its
    * DISTINCT word n-grams also occur anywhere in the train corpus.
    * Documents with no shared n-gram (or shorter than n) are absent —
    * the output is the contamination report, not a per-doc scorecard.
    *
    * Scale shape: both sides reduce to distinct n-grams first (partial
    * agg), then one equi-shuffle on the gram joins them — never a
    * doc × doc comparison. The gram can be hashed ([[Dedup.portableHash64]])
    * to shrink the shuffle at 100 TB; the string form here keeps the
    * DuckDB oracle exact.
    */
  def contamination(test: DataFrame, train: DataFrame,
      id: String, text: String, n: Int): DataFrame = {
    val testGrams = ngramOccurrences(test, id, text, n).distinct()
    val trainGrams = ngramOccurrences(train, id, text, n).select("g").distinct()
    testGrams.join(trainGrams, Seq("g"), "left_semi")
      .groupBy(id).agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-gated contamination — [[contamination]]'s fixed-memory form for
    * benchmarks too large to join or broadcast exactly. The test corpus
    * collapses to ONE `numBits/8`-byte bitset ([[graft.functions.BloomAgg]]);
    * each train document counts its distinct n-grams the bloom claims
    * (`n_flagged` ≥ the exact `n_shared` — no false negatives, so no
    * contaminated gram ever slips through; deterministic false positives at
    * the standard (1−e^{−kn/m})^k rate only ever over-drop).
    *
    * Scale shape: the gram equi-shuffle of the exact form disappears —
    * building the bloom shuffles one constant-size bitset per map
    * partition, and the probe is a narrow codegen'd scan of the train side
    * against the broadcast blob. At 100 TB this is the difference between
    * shuffling every distinct benchmark gram and shipping kilobytes.
    */
  def bloomContamination(test: DataFrame, train: DataFrame,
      id: String, text: String, n: Int, numBits: Int, k: Int): DataFrame = {
    // constant-size artifact, evaluated ONCE on the driver and embedded
    // as a literal: a 1-row cross join would copy the whole bitset into
    // every probe row's UnsafeRow (the Hints.bloomGatedJoin finding —
    // 15.1 s → 1.4 s on a 600k-row stream), while the literal rides the
    // generated class once and the probe stays a narrow scan filter
    val bloom = ngramOccurrences(test, id, text, n).select("g").distinct()
      .agg(expr(s"bloom_agg(g, $numBits, $k)"))
      .head.getAs[Array[Byte]](0)
    ngramOccurrences(train, id, text, n).distinct()
      .filter(call_function("bloom_contains", lit(bloom), col("g")))
      .groupBy(id).agg(count(lit(1)).as("n_flagged"))
  }

  /** Rare-token share — the bit-portable stand-in for unigram-LM quality
    * filtering: a document full of tokens that almost never occur
    * elsewhere in the corpus is likely noise (OCR garbage, base64 blobs,
    * mojibake). A token is "rare" when its document frequency is below
    * 1/`rareDen` of the corpus (`df · rareDen < n_docs` — an integer
    * comparison, identical in every engine; a log-probability LM score
    * would hang portability on libm rounding).
    *
    * Plan: ONE scan — explode tokens (narrow) → per-(doc, token)
    * multiplicity agg [one shuffle], materialized once because both the
    * document-frequency rollup and the per-doc scorer consume it (the
    * minhash-signatures materialize-once policy; without it the
    * scan+explode+agg chain runs twice) → vocab-sized DF table (advisory
    * broadcast) joins back → per-doc agg [one shuffle]. Linear, never
    * doc×doc; the DF table is the same artifact a real frequency filter
    * ships.
    * Output: (id, n_tokens, n_rare, rare_share[1e-6 half-up]).
    */
  def rareTokenStats(docs: DataFrame, id: String, text: String,
      rareDen: Int = 10): DataFrame = {
    val perDocTok = docs.select(col(id).as("_doc"),
        explode(split(lower(col(text)), "\\s+")).as("tok"))
      .groupBy("_doc", "tok").agg(count(lit(1)).as("c"))
      .transform(Materialize(_))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfTab = perDocTok.groupBy("tok").agg(count(lit(1)).as("df"))
    perDocTok.join(graft.plans.Hints.broadcastIfSmall(dfTab), "tok")
      .crossJoin(broadcast(nDocs))
      .groupBy(col("_doc").as(id))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("df") * rareDen < col("n_docs"), col("c")).otherwise(0L)).as("n_rare"))
      .withColumn("rare_share",
        floor(col("n_rare").cast("double") / col("n_tokens") * 1e6 + 0.5) / 1e6)
  }

  /** Release-to-release corpus delta: full-outer join of two snapshots on
    * the document key, comparing content digests — the audit artifact a
    * dataset release ships ("N added, M removed, K changed") and the
    * input to incremental reprocessing (only `added`/`changed` docs
    * re-enter the pipeline; `same` docs keep their cached derivations).
    *
    * One digest projection per side (narrow) + one id-keyed full-outer
    * shuffle join — at 100 TB both sides prune to (id, 16-byte digest)
    * before the exchange, never hauling text. Output: (id, status) with
    * status ∈ added | removed | changed | same.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      id: String, text: String): DataFrame = {
    val o = oldSnap.select(col(id), md5(col(text)).as("_sd_old"))
    val n = newSnap.select(col(id), md5(col(text)).as("_sd_new"))
    o.join(n, Seq(id), "full_outer")
      .select(col(id),
        when(col("_sd_old").isNull, lit("added"))
          .when(col("_sd_new").isNull, lit("removed"))
          .when(col("_sd_old") =!= col("_sd_new"), lit("changed"))
          .otherwise(lit("same")).as("status"))
  }

  /** Distribution drift between two corpora, ranked exactly: the top-k
    * tokens whose relative frequency moved most between corpus `a` and
    * corpus `b` — the release-audit companion to [[snapshotDiff]]
    * (that answers "which documents changed", this answers "how did the
    * LANGUAGE change"), and the per-token view behind a DSIR-style
    * importance ratio.
    *
    * The ranking key is the cross-multiplied frequency gap
    * |cntA·totB − cntB·totA| — the exact integer numerator of
    * |cntA/totA − cntB/totB| over the common denominator totA·totB —
    * compared in decimal(38,0), so the order is a pure function of the
    * counts (no floating-point ratio ever enters a comparison; the same
    * cross-multiplication trick as the temperature/PPS membership
    * tests). Ties break token-ascending. The reported `shift` is that
    * exact integer converted once to double (correctly rounded in every
    * IEEE-754 engine, hence bit-portable — the ppsHt convention).
    *
    * Plan: one token-keyed partial-agg shuffle builds the (token, cntA,
    * cntB) table; the two totals are ONE broadcast row folded from it;
    * the top-k is TakeOrderedAndProject (per-partition heaps, no global
    * sort). Vocabulary-sized intermediates only — scales to any corpus.
    * Output: (token, cnt_a, cnt_b, shift), the k largest shifts.
    */
  /** Frequency-of-frequencies: how many DISTINCT token types occur
    * exactly f times, for f = 1..maxF, with one tail row at f = maxF+1
    * aggregating everything rarer-than-common (its n_tokens still sums
    * the TRUE frequencies, so the rows total the corpus exactly). The
    * classic corpus diagnostic: N₁/N₂/… drive Good–Turing smoothing
    * and unseen-mass estimates, the hapax share (N₁/V) flags boilerplate
    * vs generative sources, and the head/tail balance is the integer
    * Zipf check that needs no log-log fit. All exact integers.
    *
    * Plan: one token-keyed partial-agg shuffle builds the vocabulary
    * count table; the bucketing is a second partial agg over VOCAB-sized
    * rows into ≤ maxF+1 cells — nothing corpus-sized past the first
    * shuffle. Output: (f, n_types, n_tokens), f ascending semantics
    * (unsorted — the consumer orders).
    */
  def freqOfFreq(docs: DataFrame, text: Column, maxF: Int = 10): DataFrame = {
    require(maxF >= 1, s"need maxF >= 1, got $maxF")
    docs.select(explode(split(lower(text), "\\s+")).as("_ffT"))
      .filter(length(col("_ffT")) > 0)
      .groupBy("_ffT").agg(count(lit(1)).as("_ffF"))
      .groupBy(when(col("_ffF") <= maxF, col("_ffF"))
        .otherwise(lit(maxF + 1L)).as("f"))
      .agg(count(lit(1)).as("n_types"), sum(col("_ffF")).as("n_tokens"))
  }

  def tokenShift(docs: DataFrame, corpus: Column, text: Column,
      a: String, b: String, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(a != b, s"need two distinct corpus labels, got '$a' twice")
    val cnt = docs.filter(corpus.isin(a, b))
      .select(corpus.as("_tsC"), explode(split(lower(text), "\\s+")).as("token"))
      .groupBy("token")
      .agg(sum(when(col("_tsC") === a, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("_tsC") === b, 1L).otherwise(0L)).as("cnt_b"))
    val tot = cnt.agg(sum(col("cnt_a")).as("_tsTa"), sum(col("cnt_b")).as("_tsTb"))
    val gap = abs(col("cnt_a").cast("decimal(38,0)") * col("_tsTb") -
      col("cnt_b").cast("decimal(38,0)") * col("_tsTa"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("shift", gap.cast("double"))
      .orderBy(gap.desc, col("token"))
      .limit(k)
      .select("token", "cnt_a", "cnt_b", "shift")
  }

  /** Collocation (phrase) mining: the top-k adjacent word pairs most
    * associated beyond chance — the phrase-vocabulary prep for a
    * tokenizer or an index ("new york" deserves one token; "of the" does
    * not). Association is the squared Ochiai coefficient
    * cnt_xy²/(cnt_x·cnt_y), held exact: the score column is
    * ⌊cnt_xy²·10⁶/(cnt_x·cnt_y)⌋ computed as one decimal(38,0) floor
    * division, identical in any engine (and bounded — the numerator
    * stays under 10³⁸ up to ~10¹⁵-token corpora, unlike a PMI lift whose
    * N² factor overflows; log-free like every oracled score here).
    * `minCount` suppresses the one-off pairs whose association is
    * spuriously 10⁶. Ties break (w1, w2) ascending.
    *
    * Plan: one narrow per-doc adjacent-pair transform (no self-join for
    * bigrams) → bigram-keyed partial-agg shuffle + the unigram table
    * joined twice (vocabulary-sized) → TakeOrdered top-k. Nothing
    * corpus-sized after the explodes — scales like [[tokenShift]].
    * Output: (w1, w2, cnt_xy, cnt_x, cnt_y, score), the k strongest.
    */
  def collocations(docs: DataFrame, text: Column, k: Int,
      minCount: Int = 2): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(minCount >= 1, s"need minCount >= 1, got $minCount")
    // tokenization is PROJECTED once per row before the pair lambda
    // (r13): expressions inside a higher-order-function lambda are not
    // common-subexpression-eliminated, so inlining `split` in the
    // element_at calls re-tokenized the document per element —
    // O(tokens²·len) per doc (CollapseProject keeps the projection: the
    // alias is non-cheap and multiply referenced)
    val toks = docs.select(split(lower(text), "\\s+").as("_clT"))
    val tkc = col("_clT")
    val pairs = toks.select(explode(when(size(tkc) >= 2,
        transform(sequence(lit(1), size(tkc) - 1), i =>
          struct(element_at(tkc, i).as("w1"),
            element_at(tkc, i + 1).as("w2"))))
      .otherwise(expr("array()")
        .cast("array<struct<w1:string,w2:string>>"))).as("_clP"))
      .select(col("_clP.w1").as("w1"), col("_clP.w2").as("w2"))
    // materialized once (r13): both score joins (cnt_x, cnt_y) consume
    // it, and plan inspection showed exchange reuse does NOT fire across
    // the w1/w2 branches — un-materialized, the corpus-wide token
    // explode + count ran twice
    val uni = toks.select(explode(tkc).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .transform(Materialize(_))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt_xy"))
      .filter(col("cnt_xy") >= minCount)
    val num = col("cnt_xy").cast("decimal(38,0)") * col("cnt_xy") * lit(1000000L)
    val den = col("cnt_x").cast("decimal(38,0)") * col("cnt_y")
    val score = ((num - pmod(num, den)) / den).cast("long")
    bi.join(uni.select(col("w").as("w1"), col("c").as("cnt_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cnt_y")), Seq("w2"))
      .withColumn("score", score)
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "cnt_xy", "cnt_x", "cnt_y", "score")
  }

  /** Corpus-typicality under a smoothed bigram language model — the
    * model-based leg of perplexity-style quality filtering (CCNet-shape:
    * score each document by how well a corpus LM predicts it), in the
    * engine's exact-arithmetic house style: the score is the Laplace-
    * smoothed mean corpus probability of the document's bigrams,
    *
    *   typicality = (Σᵢ c(gᵢ) + n) / (n · (N + V))
    *
    * with c(g) the corpus occurrence count of bigram g, n the document's
    * bigram count, N total corpus bigram occurrences, V distinct corpus
    * bigrams. Numerator and denominator are exact integer sums — ONE
    * double division per document, so the score is bit-identical across
    * engines/partitionings (a log-perplexity would float-drift; ranking
    * by mean probability selects the same documents). Low typicality =
    * unusual text (noise, other-language, boilerplate-free novelty);
    * high = templated/common text.
    *
    * Scale shape: bigram counts are one partial-agg shuffle; scoring is
    * an equi-join back on the bigram (both sides gram-keyed — never
    * doc × doc) plus a per-doc partial agg; the (N, V) global row is a
    * 1-row broadcast. The gram can be hashed ([[Dedup.portableHash64]])
    * to shrink the shuffle at 100 TB; string grams here keep the oracle
    * exact. Docs with < 2 tokens keep n_bigrams = 0, typicality NULL.
    */
  def bigramTypicality(docs: DataFrame, id: String, text: String): DataFrame = {
    require(!Seq("n_bigrams", "typicality", "g").contains(id),
      s"id column '$id' collides with bigramTypicality's columns")
    val occ = ngramOccurrences(docs, id, text, 2)
    val counts = occ.groupBy("g").agg(count(lit(1)).as("_bt_c"))
    val global = counts.agg(
      sum("_bt_c").as("_bt_n_total"), count(lit(1)).as("_bt_v"))
    val perDoc = occ.join(counts, "g")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), sum("_bt_c").as("_bt_sum"))
    docs.select(col(id)).join(perDoc, Seq(id), "left")
      .crossJoin(broadcast(global))
      .select(col(id),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0,
          (col("_bt_sum") + col("n_bigrams")).cast("double") /
            (col("n_bigrams") * (col("_bt_n_total") + col("_bt_v"))).cast("double"))
          .as("typicality"))
  }

  /** Per-stratum percentile quality gate: keep rows whose `score` is at
    * or above their stratum's `p`-quantile — "top half per source" style
    * filtering, the relative form of an absolute quality floor (absolute
    * thresholds misfire when sources score on different scales).
    *
    * Scale shape: the percentile per stratum is ONE partial-agg shuffle
    * collapsing to a row per stratum; the tiny threshold frame joins
    * back on the stratum (AQE broadcasts it from its actual size — no
    * forced hint, strata cardinality may be sf-scaled). This deliberately
    * avoids the window/percent_rank form, which would sort every stratum
    * corpus-wide. Interpolated `percentile` is bit-equal to DuckDB
    * quantile_cont (the q_quantiles pin), so gates verify cross-engine —
    * but its buffer holds every value of a stratum; past ~1e8 values per
    * stratum gate on [[approxQuantileThresholds]] instead (bounded
    * t-digest memory, same plan shape).
    */
  /** Per-group robust outliers by MEDIAN / MAD (median absolute
    * deviation) — the quality gate that survives the very outliers it
    * hunts (a mean/stddev z-score moves with each extreme doc; the
    * median and MAD do not). Flags rows with
    * `|v − med| · den > mad · num` (strictly outside `num/den` MADs).
    * Medians are the LOWER median — the exact ⌈n/2⌉-th order statistic,
    * an element of the data — so every output column is an exact integer
    * and the DuckDB twin replays it bit-for-bit (an interpolated even-n
    * median would be a float with cross-engine rounding).
    *
    * Scale shape: two group-partitioned window passes (rank + group
    * count in ONE exchange each; the k-th VALUE is well-defined under
    * ties, so tie order inside row_number cannot change the output) and
    * two group-keyed joins of a groups-sized frame back onto the data.
    * Per-group sort is the honest cost of an exact order statistic; for
    * extreme group sizes the sketch path is [[graft.functions.Sketches
    * .histogramFixed]]/`histogramThreshold` (approximate, mergeable).
    * Output: (input columns, med, mad) — flagged rows only.
    */
  def madOutliers(df: DataFrame, group: String, value: Column,
      num: Int, den: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(num >= 1 && den >= 1, s"need num, den >= 1, got $num/$den")
    val wg = Window.partitionBy(group)
    def lowerMedian(in: DataFrame, v: Column, out: String): DataFrame =
      in.withColumn("_moRn", row_number().over(wg.orderBy(v)))
        .withColumn("_moCnt", count(lit(1)).over(wg))
        .filter(col("_moRn") === expr("(_moCnt + 1) div 2"))
        .select(col(group), v.as(out))
    val base = df.withColumn("_moV", value.cast("long"))
    val med = lowerMedian(base, col("_moV"), "med")
    val dev = base.join(med, Seq(group))
      .withColumn("_moDev", abs(col("_moV") - col("med")))
    val mad = lowerMedian(dev, col("_moDev"), "mad")
    dev.join(mad, Seq(group))
      .filter(col("_moDev") * den > col("mad") * num)
      .drop("_moV", "_moDev")
  }

  def percentileGate(df: DataFrame, strata: Seq[String], score: Column,
      p: Double): DataFrame =
    if (strata.isEmpty)
      // single global threshold: one row, bounded by construction
      df.crossJoin(broadcast(quantileThresholds(df, strata, score, p)))
        .filter(score >= col("_thr")).drop("_thr")
    else
      df.join(quantileThresholds(df, strata, score, p), strata)
        .filter(score >= col("_thr")).drop("_thr")

  /** The threshold artifact behind [[percentileGate]]: one row per stratum
    * with its exact `p`-quantile of `score` as `_thr`. Ship it to gate a
    * LATER batch or a stream against frozen reference thresholds
    * ([[graft.streaming.StreamingQuality.percentileGateAtIngest]]).
    */
  def quantileThresholds(df: DataFrame, strata: Seq[String], score: Column,
      p: Double): DataFrame = {
    require(p >= 0 && p <= 1, s"need 0 <= p <= 1, got $p")
    thresholdsWith(df, strata, percentile(score, lit(p)))
  }

  /** Per-stratum score bucketing — the CCNet head/middle/tail shape: each
    * stratum (typically the language) computes its own `lo`/`hi` score
    * quantiles, and every row is labeled by where its score falls
    * (score ≥ hi-cut → `labels._3`, ≥ lo-cut → `labels._2`, below →
    * `labels._1`; NULL scores stay NULL — docs too short to score don't
    * masquerade as tail). Downstream mixes then sample by bucket
    * ([[sampleMix]]) instead of hard-dropping — the standard soft
    * quality-partition of a pretraining corpus.
    *
    * Both cuts come from ONE `percentile(score, array(lo, hi))` partial
    * agg per stratum (a stratum-count-sized artifact joined back —
    * broadcast-sized for any real language set); the corpus itself is
    * scanned and labeled narrowly, never sorted. Defaults are
    * binary-exact fractions so the interpolation arithmetic is
    * bit-identical cross-engine (the quantile_cont == percentile pin).
    */
  def scoreBuckets(df: DataFrame, strata: Seq[String], score: Column,
      lo: Double = 0.25, hi: Double = 0.75,
      labels: (String, String, String) = ("tail", "middle", "head")): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got $lo/$hi")
    require(!df.columns.contains("_cuts"),
      "input already has a _cuts column — it would collide with the cut pair")
    val cuts =
      if (strata.isEmpty) df.agg(percentile(score, array(lit(lo), lit(hi))).as("_cuts"))
      else df.groupBy(strata.map(col): _*)
        .agg(percentile(score, array(lit(lo), lit(hi))).as("_cuts"))
    val joined =
      if (strata.isEmpty) df.crossJoin(broadcast(cuts))
      else df.join(graft.plans.Hints.broadcastIfSmall(cuts), strata)
    joined
      .withColumn("bucket",
        when(score.isNull, lit(null).cast("string"))
          .when(score >= element_at(col("_cuts"), 2), labels._3)
          .when(score >= element_at(col("_cuts"), 1), labels._2)
          .otherwise(labels._1))
      .drop("_cuts")
  }

  /** The 100 TB form of [[quantileThresholds]]: exact `percentile`
    * buffers EVERY value of a stratum in its aggregation buffer (fine to
    * ~1e8 values per stratum, a memory wall past that);
    * `approx_percentile`'s t-digest is fixed-size and mergeable, so the
    * threshold agg stays one bounded-memory partial-agg shuffle at any
    * scale. Thresholds drift within the t-digest envelope — CorpusSpec
    * pins the gate agreement on real data; use the exact form wherever
    * cross-engine bit-equality is the point (the oracle pins it).
    */
  def approxQuantileThresholds(df: DataFrame, strata: Seq[String],
      score: Column, p: Double, accuracy: Int = 10000): DataFrame = {
    require(p >= 0 && p <= 1, s"need 0 <= p <= 1, got $p")
    thresholdsWith(df, strata, approx_percentile(score, lit(p), lit(accuracy)))
  }

  private def thresholdsWith(df: DataFrame, strata: Seq[String],
      agg: Column): DataFrame = {
    require(!df.columns.contains("_thr"),
      "input already has a _thr column — it would collide with the threshold")
    if (strata.isEmpty) df.agg(agg.as("_thr"))
    else df.groupBy(strata.map(col): _*).agg(agg.as("_thr"))
  }

  /** Reproducible export sharding: a deterministic shard id (portable
    * hash of the unique `key`) plus a deterministic within-shard sequence
    * (rank by `key`) — the layout that makes a corpus export byte-stable
    * across runs, partitionings, and cluster sizes, so training jobs
    * shard/resume against identical data. `key` must be unique (it's the
    * document id) — ties would make `seq` partition-order-dependent.
    *
    * Scale shape: one hash shuffle on the shard + a PER-SHARD sort
    * (window partitioned by shard: each sort is corpus/numShards — the
    * export's inherent cost; no global sort). At write time the same
    * frame feeds `.repartition(col("shard"))` +
    * `.sortWithinPartitions("seq")` + `partitionBy("shard")` for one
    * ordered file set per shard.
    */
  def exportShards(df: DataFrame, key: Column, numShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0, s"need numShards > 0, got $numShards")
    require(!df.columns.contains("shard") && !df.columns.contains("seq"),
      "input already has a shard/seq column — withColumn would silently " +
        "replace it (and a key named 'shard' would re-resolve to the new " +
        "shard id, making seq partition-order-dependent)")
    df.withColumn("shard",
        pmod(Dedup.portableHash64(key.cast("string")), lit(numShards.toLong)))
      .withColumn("seq",
        row_number().over(Window.partitionBy(col("shard")).orderBy(key)))
  }

  /** Seeded deterministic global shuffle — the training-order primitive:
    * a pseudorandom but fully reproducible permutation of the corpus,
    * materialized as the same (shard, seq) layout as [[exportShards]] so
    * the ordered file set is byte-stable for a given (corpus, seed) and a
    * NEW permutation is one seed change away (epoch e reads seed e —
    * per-epoch reshuffling without ever re-randomizing nondeterministically).
    * Position is a pure function of (seed, key): shard = hash(seed:key)
    * mod numShards, within-shard order = (hash, key) — the hash orders,
    * the unique key breaks the (vanishingly rare) 60-bit collisions, so
    * the permutation is independent of partitioning, cluster size, and
    * row arrival order. `key` must be unique (the document id).
    *
    * Scale shape: identical to [[exportShards]] — one hash shuffle on the
    * shard plus a PER-SHARD sort (each sort is corpus/numShards; no global
    * sort, no single-partition window). Rows land evenly across shards
    * (hash-uniform), so shard skew does not appear at any corpus size.
    */
  def shuffleShards(df: DataFrame, key: Column, seed: Long,
      numShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0, s"need numShards > 0, got $numShards")
    require(!df.columns.contains("shard") && !df.columns.contains("seq") &&
        !df.columns.contains("_shufH"),
      "input already has a shard/seq/_shufH column — withColumn would " +
        "silently replace it")
    val h = Dedup.portableHash64(
      concat(lit(seed.toString), lit(":"), key.cast("string")))
    df.withColumn("_shufH", h)
      .withColumn("shard", pmod(col("_shufH"), lit(numShards.toLong)))
      .withColumn("seq", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("_shufH"), key)))
      .drop("_shufH")
  }

  /** The writer-side view of [[packGlobal]]: each document exploded into
    * its per-sequence segments — (seq_id, span_start, span_tokens,
    * offset_in_seq) — exactly what a sequence writer consumes to emit
    * fixed-length training rows (group by seq_id, lay each span at its
    * offset). Pure integer arithmetic on the packGlobal columns plus one
    * narrow explode (≤ ⌈tokens/seqLen⌉+1 rows per doc); zero-token docs
    * emit nothing. Round-trip invariants (spans repartition every doc,
    * sequences fill to exactly seqLen except the last) are spec-pinned.
    */
  def packGlobalSpans(packed: DataFrame, tokens: Column, seqLen: Int): DataFrame = {
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    Seq("global_start", "first_seq", "last_seq").foreach(c =>
      require(packed.columns.contains(c),
        s"packGlobalSpans needs packGlobal's $c column"))
    Seq("seq_id", "span_start", "span_tokens", "offset_in_seq", "_pgsT")
      .foreach(c => require(!packed.columns.contains(c),
        s"input already has a $c column — packGlobalSpans would shadow it"))
    packed.withColumn("_pgsT", tokens.cast("long"))
      .filter(col("_pgsT") > 0)
      .withColumn("seq_id", explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("span_start",
        greatest(lit(0L), col("seq_id") * seqLen - col("global_start")))
      .withColumn("span_tokens",
        least(col("_pgsT"), (col("seq_id") + 1) * seqLen - col("global_start")) -
          col("span_start"))
      .withColumn("offset_in_seq",
        greatest(lit(0L), col("global_start") - col("seq_id") * seqLen))
      .drop("_pgsT")
  }

  /** Deterministic weighted round-robin mixture order — the dataloader
    * interleave: stratum s with weight w_s emits every D/w_s positions
    * (D = lcm of the weights), so a consumer reading in `(ord, stratum,
    * dense)` order sees sources mixed at their weight ratio from the
    * very first rows (not front-loaded the way a sorted concatenation
    * would be). Position is a pure function of (seed, key, stratum
    * histogram): ord = (dense-1)·D div w_s over a dense per-stratum
    * sequence, so the mixture order is reproducible and auditable like
    * every sampler here.
    *
    * The dense 1..n_s numbering is SCALE-SAFE: no per-stratum global
    * sort (one giant source would serialize through one task). Rows
    * hash into `numShards` sub-shards per stratum; a (stratum, shard)
    * window numbers each slice, and per-stratum shard bases (a
    * strata×numShards-row aggregate, cumulated on a bounded window)
    * broadcast back — the [[packGlobal]] prefix-sum trick applied to
    * counting. Dense order is therefore shard-major within the stratum
    * (shard asc, then hash, then key) — fixed and engine-reproducible.
    *
    * `weights` maps stratum values to integer weights ≥ 1; unlisted
    * strata get `defaultWeight`. Output: input + `dense` (1..n_s within
    * stratum) + `ord` (the interleave position).
    */
  def interleaveBySource(df: DataFrame, stratum: String, key: Column,
      weights: Map[String, Long], defaultWeight: Long = 1L,
      seed: Long = 0L, numShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0, s"need numShards > 0, got $numShards")
    require(defaultWeight >= 1 && weights.values.forall(_ >= 1),
      "weights must be >= 1 (a zero-weight stratum should be filtered out)")
    Seq("_ilH", "_ilSh", "_ilLoc", "_ilN", "_ilBase", "_ilW", "dense", "ord")
      .foreach(c => require(!df.columns.contains(c),
        s"input already has a $c column — interleaveBySource would shadow it"))
    // lcm in BigInt, then a LOUD bound: ord = (dense−1)·D div w must stay
    // exact in 64 bits for corpus-sized dense positions (dense can reach
    // billions of rows per stratum), and a long fold would overflow
    // SILENTLY on near-coprime weights — D ≤ 2^31 keeps the product safe
    // for any realistic stratum size and any weight table that passes
    val dBig = (weights.values.toSeq :+ defaultWeight)
      .foldLeft(BigInt(1))((l, w) => l / l.gcd(BigInt(w)) * w)
    require(dBig <= (BigInt(1) << 31),
      s"weight lcm $dBig exceeds 2^31: (dense−1)·lcm would overflow 64-bit " +
        "position arithmetic on large strata — use weights with smaller lcm")
    val d = dBig.toLong
    val h = Dedup.portableHash64(
      concat(lit(seed.toString), lit(":"), key.cast("string")))
    val base = df.withColumn("_ilH", h)
      .withColumn("_ilSh", pmod(col("_ilH"), lit(numShards.toLong)))
    val local = base.withColumn("_ilLoc", row_number().over(
      Window.partitionBy(col(stratum), col("_ilSh"))
        .orderBy(col("_ilH"), key)))
    val bases = base.groupBy(stratum, "_ilSh").agg(count(lit(1)).as("_ilN"))
      .withColumn("_ilBase", coalesce(sum(col("_ilN")).over(
        Window.partitionBy(col(stratum)).orderBy(col("_ilSh"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(stratum), col("_ilSh"), col("_ilBase"))
    val wExpr = weights.foldLeft(lit(defaultWeight)) { case (acc, (k, v)) =>
      when(col(stratum) === k, lit(v)).otherwise(acc)
    }
    local.join(broadcast(bases), Seq(stratum, "_ilSh"))
      .withColumn("dense", col("_ilBase") + col("_ilLoc"))
      .withColumn("_ilW", wExpr)
      .withColumn("ord", expr(s"((dense - 1) * ${d}) div _ilW"))
      .drop("_ilH", "_ilSh", "_ilLoc", "_ilBase", "_ilW")
  }

  /** Global concat-and-split packing — the GPT-style pretraining layout:
    * the (shuffled) corpus is conceptually one token stream, split into
    * fixed `seqLen` training sequences with documents crossing sequence
    * boundaries (contrast [[packChunks]], which bins WITHIN a document
    * and never splits one). Each document gets its global token offset
    * and the sequence ids it lands in: `global_start`, `first_seq`,
    * `last_seq` (empty docs land in `first_seq` with zero span).
    *
    * The global offset is a distributed prefix sum, NOT a global sort:
    * documents order by the [[shuffleShards]] permutation of `(seed,
    * key)`; within each shard a partitioned window accumulates token
    * counts (one hash shuffle + per-shard sort — shard-bounded);
    * shard-level bases come from a numShards-row aggregate cumulated on a
    * single deliberately-tiny window and broadcast back. Nothing
    * corpus-sized crosses a second shuffle and no global sort exists, so
    * the layout is reproducible AND computable at any corpus size.
    * Token counts must be non-negative and non-null (fails loudly).
    */
  def packGlobal(df: DataFrame, key: Column, tokens: Column, seed: Long,
      numShards: Int, seqLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    Seq("_pgT", "_pgLoc", "_pgTot", "_pgBase", "global_start", "first_seq",
        "last_seq").foreach(c => require(!df.columns.contains(c),
      s"input already has a $c column — packGlobal would shadow it"))
    val sharded = shuffleShards(df, key, seed, numShards)
      .withColumn("_pgT",
        when(assert_true(tokens.isNotNull && tokens >= 0,
          lit("packGlobal needs non-null, non-negative token counts")).isNull,
          tokens.cast("long")))
    val w = Window.partitionBy(col("shard")).orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sharded.withColumn("_pgLoc",
      coalesce(sum(col("_pgT")).over(w), lit(0L)))
    // numShards rows: cumulate shard totals into bases on one tiny window
    val bases = sharded.groupBy("shard").agg(sum("_pgT").as("_pgTot"))
      .withColumn("_pgBase",
        coalesce(sum(col("_pgTot")).over(
          Window.partitionBy(graft.plans.Hints.onePartition(col("shard")))
            .orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("_pgBase"))
    local.join(broadcast(bases), "shard")
      .withColumn("global_start", col("_pgBase") + col("_pgLoc"))
      .withColumn("first_seq", expr(s"global_start div ${seqLen}"))
      .withColumn("last_seq",
        when(col("_pgT") === 0, col("first_seq"))
          .otherwise(expr(s"(global_start + _pgT - 1) div ${seqLen}")))
      .drop("_pgT", "_pgLoc", "_pgBase")
  }

  /** [[packGlobal]] under an EXPLICIT total order instead of the hash
    * permutation — the last step of similarity-ordered pretraining
    * (Shi et al. 2023): documents concatenate in `pos` order (e.g.
    * [[icpOrder]]'s `icp_pos`, so matched documents share training
    * sequences) and split into fixed `seqLen` sequences, documents
    * crossing boundaries. Same outputs as [[packGlobal]]
    * (`global_start`, `first_seq`, `last_seq`).
    *
    * The prefix sum is distributed the way [[graft.operators.SuffixArray]]
    * numbers ranks: `repartitionByRange` on `pos` (a range exchange — a
    * distributed sort, never a single partition), a per-PARTITION window
    * accumulates token counts, and the ≤ `buckets` per-partition totals
    * collect to the driver, cumulate, and broadcast back as bases. The
    * plan carries TWO corpus-sized exchanges (denseNumber's shape): the
    * range exchange, then a hash exchange on `spark_partition_id()` for
    * the window — Catalyst cannot prove the partition-id column aligns
    * with the range partitioning, so it re-clusters; both are ordinary
    * `buckets`-way hash/range shuffles, never a single-partition sort
    * (plan-pinned in PlanShapeSpec). `pos` must be
    * unique per row (any dense or sparse total order works); token
    * counts must be non-null and non-negative (fails loudly).
    *
    * `baseOffset` shifts the whole stream (sequences keep cutting at
    * absolute `seqLen` boundaries) — the append hook: a standing corpus
    * packed to total T continues at `baseOffset = T` for a new batch
    * (`graft.streaming.StreamingCorpus.packAppendAtIngest` is the
    * ledgered streaming twin; spec-pinned equal).
    */
  def packByOrder(ordered: DataFrame, pos: Column, tokens: Column,
      seqLen: Int, buckets: Int = 32, baseOffset: Long = 0L): DataFrame = {
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    require(buckets > 0, s"need buckets > 0, got $buckets")
    Seq("_pbT", "_pbP", "_pbLoc", "_pbTot", "_pbBase", "global_start",
        "first_seq", "last_seq").foreach(c =>
      require(!ordered.columns.contains(c),
        s"input already has a $c column — packByOrder would shadow it"))
    // materialized ONCE before the bases collect, for the same reason as
    // denseNumberCounted: a re-sampled range boundary set would misalign
    // every base offset
    val local = packByOrderLocal(ordered, pos, tokens, buckets)
      .transform(Materialize(_))
    val perPart = local.groupBy("_pbP").agg(sum(col("_pbT")).as("_pbTot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val baseRows = perPart.map { case (p, tot) => val b = acc; acc += tot; (p, b) }
    val bases = ordered.sparkSession.createDataFrame(baseRows.toSeq)
      .toDF("_pbP", "_pbBase")
    local.join(broadcast(bases), "_pbP")
      .withColumn("global_start", lit(baseOffset) + col("_pbBase") + col("_pbLoc"))
      .withColumn("first_seq", expr(s"global_start div ${seqLen}"))
      .withColumn("last_seq",
        when(col("_pbT") === 0, col("first_seq"))
          .otherwise(expr(s"(global_start + _pbT - 1) div ${seqLen}")))
      .drop("_pbT", "_pbP", "_pbLoc", "_pbBase")
  }

  /** The consumer side of the concat-and-split packers
    * ([[packGlobal]] / [[packByOrder]] / the at-ingest append twin):
    * one row per (document, training sequence) intersection — which
    * piece of which document composes each fixed-`seqLen` sequence.
    * This is the table a data loader and a loss-masking step actually
    * read (documents cross sequence boundaries by design, so sequence
    * assembly and attention/loss boundaries need exactly these spans);
    * the packers emit the per-document view, this emits the
    * per-sequence view.
    *
    * Input: any frame carrying the packer outputs (`global_start`,
    * `first_seq`, `last_seq`) plus the token count column. Output: the
    * input's columns + `seq_id`, `doc_off` (offset of the piece inside
    * the document), `seq_off` (offset inside the sequence), `len`
    * (piece length ≥ 1). Zero-token documents occupy no tokens and are
    * absent. Per sequence, pieces tile [0, seqLen) exactly (the final
    * sequence tiles up to the stream total) — spec-pinned; everything
    * is a NARROW per-row explode over at most
    * ⌈tokens/seqLen⌉ + 1 sequences per document, no shuffle.
    */
  def sequenceManifest(packed: DataFrame, tokens: Column,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"need seqLen > 0, got $seqLen")
    Seq("seq_id", "doc_off", "seq_off", "len", "_smA").foreach(c =>
      require(!packed.columns.contains(c),
        s"input already has a $c column — sequenceManifest would shadow it"))
    packed
      .filter(tokens > 0)
      .withColumn("seq_id",
        explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("_smA",
        greatest(col("global_start"), col("seq_id") * seqLen))
      .withColumn("doc_off", col("_smA") - col("global_start"))
      .withColumn("seq_off", col("_smA") - col("seq_id") * seqLen)
      .withColumn("len",
        least(col("global_start") + tokens.cast("long"),
          (col("seq_id") + 1) * seqLen) - col("_smA"))
      .drop("_smA")
  }

  /** [[packByOrder]]'s pre-checkpoint stage (range exchange + the
    * per-partition prefix window) — extracted so PlanShapeSpec can pin
    * the exchange count on the REAL code path (the checkpoint truncates
    * the visible plan of the composed operator).
    */
  private[graft] def packByOrderLocal(ordered: DataFrame, pos: Column,
      tokens: Column, buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ordered
      .withColumn("_pbT",
        when(assert_true(tokens.isNotNull && tokens >= 0,
          lit("packByOrder needs non-null, non-negative token counts")).isNull,
          tokens.cast("long")))
      .repartitionByRange(buckets, pos)
      .withColumn("_pbP", spark_partition_id())
      .withColumn("_pbLoc",
        coalesce(sum(col("_pbT")).over(
          Window.partitionBy(col("_pbP")).orderBy(pos)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /** Deterministic hash sampling: keep rows whose key hashes into
    * `num`/`den` of the hash space. Unlike `DataFrame.sample`, the
    * decision is a pure function of the key — stable across runs,
    * partitionings, and cluster sizes, and reproducible by any engine
    * with md5 ([[Dedup.portableHash64]]); that stability is what makes
    * dataset mixes auditable. Stratify by sampling within group keys.
    */
  def sampleByHash(df: DataFrame, key: Column, num: Int, den: Int): DataFrame = {
    require(num >= 0 && num <= den && den > 0, s"need 0 <= num <= den, got $num/$den")
    df.filter(pmod(Dedup.portableHash64(key.cast("string")), lit(den)) < num)
  }

  /** Deterministic train/validation/test split assignment: split i gets
    * rows whose key hash lands in its share of [0, den) — the same
    * auditable pure-function membership as [[sampleByHash]] (hash mod den
    * compared against cumulative fraction bounds), so the split is stable
    * under reprocessing, partitioning, and corpus growth (a document
    * never migrates between splits when OTHER documents arrive — the
    * property a random split lacks and a pretraining/eval separation
    * needs). `fractions` are integer shares of `den` summing to ≤ den
    * (any remainder joins the LAST split). One narrow projection, no
    * shuffle. Output: the input + `split` (0-based index).
    *
    * LEAKAGE-AWARE use: split by a GROUP key, not the row key — near-
    * duplicate families straddling train and test silently inflate every
    * eval. Pass e.g. the [[Dedup.resolveComponentsStar]] representative
    * ([[splitByComponent]] wires exactly that), a URL domain, or a
    * repository id, and the whole family lands in one split.
    */
  def assignSplits(df: DataFrame, key: Column, fractions: Seq[Int],
      den: Int = 1000): DataFrame = {
    require(den > 0, s"need den > 0, got $den")
    require(fractions.nonEmpty && fractions.forall(_ >= 0) && fractions.sum <= den,
      s"fractions must be non-negative integer shares of $den, got $fractions")
    require(!df.columns.contains("split"),
      "input already has a split column — the assignment would shadow it")
    val bounds = fractions.scanLeft(0)(_ + _) // cumulative upper bounds
    val h = pmod(Dedup.portableHash64(key.cast("string")), lit(den))
    val expr = bounds.tail.init.zipWithIndex.foldRight(
      lit(fractions.length - 1)) { case ((b, i), acc) =>
      when(h < b, lit(i)).otherwise(acc)
    }
    df.withColumn("split", expr.cast("int"))
  }

  /** [[assignSplits]] keyed by each document's duplicate-component
    * representative: rows join their component id (docs in no component
    * are their own singleton group), then the GROUP hash decides the
    * split — a near-duplicate family can never straddle train/test.
    * `components` is [[Dedup.resolveComponentsStar]] output
    * (node, component). The join is id-keyed (advisory broadcast — the
    * component table is pair-bounded, far smaller than the corpus).
    */
  def splitByComponent(df: DataFrame, id: String, components: DataFrame,
      fractions: Seq[Int], den: Int = 1000): DataFrame = {
    require(!df.columns.contains("_grp"), "input already has a _grp column")
    val comp = components.select(col("node").as(id), col("component").as("_grp"))
    val grouped = df.join(graft.plans.Hints.broadcastIfSmall(comp), Seq(id), "left")
      .withColumn("_grp", coalesce(col("_grp"), col(id)))
    assignSplits(grouped, col("_grp"), fractions, den).drop("_grp")
  }

  /** Dataset-mixture sampling: per-stratum deterministic hash rates — the
    * "data mixing" step that weights sources in a pretraining corpus
    * (e.g. keep 100% of wiki, 10% of crawl). Same auditability as
    * [[sampleByHash]]: membership is a pure function of (key, stratum
    * rate), independent of partitioning and cluster size. Strata not in
    * `rates` get `defaultNum`/`den`. One narrow filter, no shuffle.
    */
  def sampleMix(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Int], defaultNum: Int, den: Int): DataFrame = {
    require(den > 0 && (rates.values ++ Seq(defaultNum)).forall(n => n >= 0 && n <= den),
      s"every rate must be in [0, $den]")
    val num = rates.foldLeft(lit(defaultNum)) { case (acc, (s, n)) =>
      when(stratum === s, lit(n)).otherwise(acc)
    }
    df.filter(pmod(Dedup.portableHash64(key.cast("string")), lit(den)) < num)
  }

  /** Per-stratum cap: keep at most `n` rows per stratum, best-first by
    * `ord` (any orderable expression, ASCENDING = keep-first; ties break
    * by `key`, which must be unique per row, so the cap is always
    * deterministic). The "max N documents per domain" curation step —
    * and, with `ord = struct(hash(key), key)`, an EXACT-N deterministic
    * uniform sample per stratum (what Bernoulli [[sampleByHash]] can't
    * promise).
    *
    * Scale shape: the bounded `topk_agg` keeps ≤ n keys per stratum in
    * the agg buffer AND the shuffle (a window row_number would sort whole
    * partitions); survivors join back `left_semi` on the unique `key`
    * [one equi-shuffle] to recover full rows. Never more than
    * strata × n keys materialize between the two.
    */
  def capPerStratum(df: DataFrame, strata: Seq[String], ord: Column,
      key: String, n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    require(strata.nonEmpty, "need >= 1 stratum column")
    require(df.columns.contains(key), s"key column '$key' not in input")
    val kept = df
      .groupBy(strata.map(col).toIndexedSeq: _*)
      .agg(call_function("topk_agg",
        struct(ord.as("o"), col(key).as("k")), lit(n)).as("_cap_t"))
      .select(explode(col("_cap_t")).as("_cap_e"))
      .select(col("_cap_e.k").as(key))
    df.join(kept, Seq(key), "left_semi")
  }

  /** Temperature-rebalanced mixture sampling: [[sampleMix]] with the
    * per-stratum rates COMPUTED from the corpus instead of hand-specified —
    * stratum weight ∝ ⌊√n_s⌋ (the α = 0.5 point of the standard
    * temperature-sampling family p_s ∝ n_s^α, which damps dominant sources
    * and lifts small ones), normalized to an expected `budget` rows in
    * total. Each stratum's target t_s = ⌊budget·w_s / Σw⌋ becomes a
    * deterministic hash rate t_s/n_s, so membership stays a pure function
    * of (key, corpus histogram) — auditable and stable across runs and
    * partitionings, like every sampler here.
    *
    * Exactness/portability: the weight is floor(IEEE-sqrt(n_s)) — sqrt is
    * correctly rounded in every IEEE-754 engine, so all engines compute
    * identical weights; the target division runs on an exactly-representable
    * dividend (budget·w_s < 2^52 under the `require`d bounds, so the floor
    * is the true integer quotient) and the membership test
    * u(key)·n_s < t_s·M is exact decimal arithmetic over the full 60-bit
    * hash space (M = 2^60 — see [[tmKeep]]). Stratum sizes are
    * assert-checked < 2^42 at run time so a pathological histogram fails
    * loudly.
    *
    * Plan: one partial-agg shuffle builds the stratum histogram (rows =
    * stratum cardinality), a one-row Σw broadcasts back over it, and the
    * tiny target table joins the scan on the stratum (advisory broadcast) —
    * the data-sized frame is only ever scanned and filtered, never
    * shuffled.
    */
  def sampleTemperature(df: DataFrame, key: Column, stratum: Column,
      budget: Long): DataFrame =
    // null-safe: a NULL stratum is a real stratum with its own count and
    // target (a plain === join would silently drop those rows; sampleMix
    // keeps them at the default rate — same contract here)
    withTemperatureTargets(df, stratum, budget)
      .filter(tmKeep(key, col("_tmN"), col("_tmT")))
      .drop("_tmS", "_tmN", "_tmT")

  /** Epoch-aware temperature mixing: [[sampleTemperature]] that can also
    * UPSAMPLE — when a stratum's target t_s exceeds its size n_s (a
    * budget above the corpus total, or a tiny stratum a √-weight lifts
    * hard), each row replicates ⌊t_s/n_s⌋ full epochs plus one more with
    * probability (t_s mod n_s)/n_s, so every stratum lands exactly
    * E[rows] = t_s. This is how pretraining mixes actually consume small
    * high-value sources (multiple epochs of wiki against a fraction of
    * one crawl epoch). Adds `epoch` (1-based); rows in un-admitted
    * strata disappear (⌊t/n⌋ = 0 and the fractional test fails).
    *
    * Exactness: ⌊t/n⌋ and t mod n run on exact longs (the division is a
    * double divide of an EXACT multiple, hence correctly rounded to the
    * exact quotient), and the fractional test is [[sampleTemperature]]'s
    * full-hash-space decimal membership ([[tmKeep]]) — every engine
    * reproduces the mix bit-for-bit. Plan: the same histogram + broadcast-target join; the
    * replication is a narrow explode of a ≤(1+⌊t/n⌋)-element sequence.
    */
  def mixEpochs(df: DataFrame, key: Column, stratum: Column,
      budget: Long): DataFrame = {
    require(!df.columns.contains("epoch"),
      "input already has an epoch column — the mix would shadow it")
    val rem = pmod(col("_tmT"), col("_tmN"))
    val full = ((col("_tmT") - rem).cast("double") / col("_tmN")).cast("long")
    val extra = when(tmKeep(key, col("_tmN"), rem), 1L).otherwise(0L)
    // a degenerate stratum (n=1 against a huge budget) would fan a single
    // row into a budget-sized epoch array — refuse loudly instead of
    // building it (cap any sane mix re-reads a source < 2^16 times)
    val maxEpochs = 1L << 16
    withTemperatureTargets(df, stratum, budget)
      .withColumn("_tmC",
        when(assert_true(full + extra <= maxEpochs,
          lit(s"stratum would replicate past $maxEpochs epochs — shrink " +
            "the budget or drop the degenerate stratum")).isNull,
          full + extra))
      // sequence(1, 0) DESCENDS in Spark — guard the empty case explicitly
      .withColumn("epoch", explode(when(col("_tmC") >= 1,
        sequence(lit(1L), col("_tmC"))).otherwise(array().cast("array<long>"))))
      .drop("_tmS", "_tmN", "_tmT", "_tmC")
  }

  /** Temperature-membership test u(key)·n_s < t_s·M in the full 60-bit
    * hash space (M = [[ppsM]] = 2^60), exact decimal(38,0) arithmetic:
    * u < 2^60 and n_s < 2^42 keep u·n_s < 2^102 < 10^38, so rates far
    * below the old 2^-20 bucket resolution still realize their true
    * probability (to < 2^-60 absolute). Shared by [[sampleTemperature]]
    * and [[mixEpochs]]' fractional-epoch test so the two cannot drift.
    */
  private def tmKeep(key: Column, n: Column, t: Column): Column =
    Dedup.portableHash64(key.cast("string")).cast("decimal(19,0)") *
      n.cast("decimal(19,0)") <
      t.cast("decimal(19,0)") * lit(ppsM).cast("decimal(19,0)")

  /** The shared temperature machinery: stratum histogram → ⌊√n⌋ weights →
    * integer targets t_s = ⌊budget·w_s/Σw⌋, joined back (null-safe,
    * advisory broadcast) as `_tmS`/`_tmN`/`_tmT` columns.
    */
  private def withTemperatureTargets(df: DataFrame, stratum: Column,
      budget: Long): DataFrame = {
    require(budget > 0 && budget <= (1L << 30),
      s"need 0 < budget <= 2^30 (got $budget) — the target division is " +
        "exact only while budget*weight stays well inside double's " +
        "integer range")
    Seq("_tmS", "_tmN", "_tmW", "_tmSumW", "_tmT").foreach(c =>
      require(!df.columns.contains(c), s"input already has a $c column"))
    val maxN = 1L << 42 // keeps u·n_s well inside decimal(38,0) exactness
    val counts = df.groupBy(stratum.as("_tmS")).agg(count(lit(1)).as("_tmN"))
      .select(col("_tmS"),
        when(assert_true(col("_tmN") < maxN,
          lit(s"stratum larger than $maxN rows — temperature membership " +
            "would leave the exact-arithmetic domain")).isNull, col("_tmN")).as("_tmN"),
        floor(sqrt(col("_tmN").cast("double"))).cast("long").as("_tmW"))
    val sumW = counts.agg(sum("_tmW").as("_tmSumW"))
    val targets = counts.join(broadcast(sumW))
      .select(col("_tmS"), col("_tmN"),
        floor((lit(budget) * col("_tmW")).cast("double") / col("_tmSumW"))
          .cast("long").as("_tmT"))
    df.join(graft.plans.Hints.broadcastIfSmall(targets), stratum <=> col("_tmS"))
  }

  /** Probability-proportional-to-size (PPS) Bernoulli sampling: keep a row
    * iff u(key) < expected·w / W, where u is the deterministic md5-hash
    * uniform (same space as [[sampleByHash]]), `w` the row's positive
    * integer weight, and W the corpus total. E[sample size] = `expected`
    * up to a ≤2^-60 per-row probability quantization (see below), and
    * heavier rows are proportionally likelier — the size-biased sample a
    * token-budgeted eval or inspection pass wants, with the same
    * auditability as [[sampleByHash]]: membership is a pure function of
    * (key, w, W). Output adds `ht_weight` = 1/p_real, the Horvitz–Thompson
    * inverse of the REALIZED inclusion probability (not the nominal
    * min(1, e·w/W)): sums of w·ht over the sample estimate corpus totals
    * unbiasedly at every scale, including rows whose nominal probability
    * is far below the hash resolution.
    *
    * The membership test u·W < min(e·w, W)·M uses the FULL 60-bit md5
    * hash space (M = 2^60; u ∈ [0, 2^60)) in exact DECIMAL(38,0)
    * arithmetic — u·W < 2^123 < 10^38, so no overflow for any long W, no
    * transcendentals, no doubles; any engine with md5 + 128-bit integers
    * (DuckDB: HUGEINT) reproduces it bit-for-bit. The realized inclusion
    * probability is exactly p_real = ⌈min(e·w, W)·M/W⌉ / M (the count of
    * admitted hash values over the space), so the quantization error vs
    * the nominal probability is < 2^-60 absolute — at 100 TB scale
    * (p ~ 1e-12) that is still a < 1e-6 relative error, vs the up-to-2^20×
    * oversampling a 2^-20-granular space would inflict. ht_weight =
    * M / ⌈min(e·w, W)·M/W⌉ is one double division of two exact integers
    * (correctly rounded, hence portable); certain rows (e·w ≥ W) get
    * exactly 1.0. Plan: one scalar agg broadcast back over the scan — a
    * narrow filter, no data-sized shuffle. The total is summed in decimal,
    * so a corpus whose weight exceeds long range fails loudly in the
    * scalar guard instead of wrapping.
    */
  def samplePps(df: DataFrame, key: Column, weight: Column, expected: Int): DataFrame = {
    require(expected > 0, s"need expected > 0, got $expected")
    require(!df.columns.contains("ht_weight") && !df.columns.contains("_ppsW"),
      "input already has an ht_weight/_ppsW column — the sample would " +
        "silently shadow it")
    val tot = df.agg(sum(weight.cast("decimal(38,0)")).as("_w0"))
      .select(when(
        assert_true(col("_w0").isNotNull && col("_w0") > 0 &&
            col("_w0") <= lit(Long.MaxValue).cast("decimal(38,0)"),
          lit("total weight must be a positive long — pre-scale the " +
            "weight column")).isNull,
        col("_w0").cast("decimal(38,0)")).as("_ppsW"))
    val w = weight.cast("long")
    df.join(broadcast(tot))
      .filter(ppsKeep(key, w, expected, col("_ppsW")))
      .withColumn("ht_weight", ppsHt(w, expected, col("_ppsW")))
      .drop("_ppsW")
  }

  /** PPS hash-space size: u(key) ∈ [0, 2^60) — the full
    * [[Dedup.portableHash64]] range (top 15 hex chars of md5).
    */
  private val ppsM = 1L << 60

  /** min(e·w, W)·M as exact decimal(38,0) — the admitted-hash-count
    * numerator shared by [[ppsKeep]] and [[ppsHt]]. Clamping at W folds
    * the certain-keep case into the same formula: u·W < W·M always holds,
    * and ⌈W·M/W⌉ = M makes ht exactly 1.
    */
  private def ppsNum(w: Column, expected: Int, totW: Column): Column =
    least(lit(expected.toLong).cast("decimal(19,0)") * w.cast("decimal(19,0)"),
      totW) * lit(ppsM).cast("decimal(19,0)")

  /** Exact ⌈a/b⌉ on non-negative decimal(38,0) operands: strip the
    * remainder so the decimal divide is of an exact multiple (which
    * rounds to itself at any result scale), then cast. Quotients here are
    * ≤ 2^60, well inside long. Requires a ≥ 1: a ≤ 0 would yield 0 (and a
    * downstream division by it would blow up) — [[ppsHt]]'s caller
    * guarantees this by only evaluating ht on rows that passed
    * [[ppsKeep]], where min(e·w, W)·M > u·W ≥ 0 forces the numerator ≥ 1.
    */
  private def ceilDivExact(a: Column, b: Column): Column = {
    val x = a + b - lit(1L).cast("decimal(19,0)")
    ((x - pmod(x, b)) / b).cast("long")
  }

  /** The PPS membership test u·W < min(e·w, W)·M — ONE definition shared
    * by the batch ([[samplePps]]) and ingest
    * ([[graft.streaming.StreamingQuality.samplePpsAtIngest]]) forms, so
    * the two cannot drift. `totW` may be any positive long-ranged value
    * (cast to decimal inside).
    */
  private[graft] def ppsKeep(key: Column, w: Column, expected: Int,
      totW: Column): Column = {
    val wd = totW.cast("decimal(38,0)")
    Dedup.portableHash64(key.cast("string")).cast("decimal(19,0)") * wd <
      ppsNum(w, expected, wd)
  }

  /** Horvitz–Thompson inverse of the REALIZED inclusion probability:
    * M / ⌈min(e·w, W)·M / W⌉ — both operands exact integers. The integer
    * arithmetic is exact; the final value is one double division whose
    * OPERANDS can exceed 2^53 (up to 2^60), so the long→double conversions
    * and the divide each round — but all are correctly rounded in every
    * IEEE-754 engine (Spark and DuckDB alike), so the result is
    * bit-portable even where it is no longer the exact rational.
    * Evaluated only on rows that passed [[ppsKeep]] (samplePps filters
    * first), which guarantees the ceil-div numerator ≥ 1 — see
    * [[ceilDivExact]].
    */
  private[graft] def ppsHt(w: Column, expected: Int, totW: Column): Column = {
    val wd = totW.cast("decimal(38,0)")
    lit(ppsM).cast("double") /
      ceilDivExact(ppsNum(w, expected, wd), wd).cast("double")
  }

  /** Exact ⌊a/b⌋ on non-negative decimal(38,0) operands — same
    * exact-multiple trick as [[ceilDivExact]]; DuckDB's `//` on
    * non-negative integers computes the identical value.
    */
  private def floorDivExact(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — all-public method):
    * score each raw document by how target-like its hashed n-gram profile
    * is, for resampling a huge raw corpus toward a small target corpus.
    *
    * Recipe: n-grams (with multiplicity) hash into `buckets` cells via the
    * engine-portable [[Dedup.portableHash64]]; the per-bucket importance
    * ratio is the add-one-smoothed target/raw count ratio, held EXACT as
    * the scaled integer r_b = ⌊(tc_b+1)·scale / (rc_b+1)⌋; a document's
    * weight is the sum of its grams' ratios (clamped ≥ 1). The paper
    * scores log-space products; the integer ratio-sum is this engine's
    * bit-portable analog (same reasoning as the log-free BM25 idf:
    * ln()/exp() hang cross-engine equality on libm rounding) — documents
    * dense in target-typical n-grams score high, target-absent n-grams
    * (tc=0) contribute ~0, and every value is reproducible in any engine
    * with md5 + integer division. Normalization constants (corpus totals)
    * are deliberately dropped: a PPS draw on w is invariant to scaling all
    * weights by a constant, so the unnormalized ratio selects the same
    * sample the normalized likelihood ratio would.
    *
    * Plan shape at 100 TB: gram explode is narrow; the bucket count tables
    * are ≤ `buckets` rows (partial-agg shuffles that collapse to the cell
    * count); the ratio table broadcasts back over the exploded grams
    * (advisory — [[graft.plans.Hints.broadcastIfSmall]]); one doc-keyed
    * partial-agg shuffle sums the weights. Never doc×doc, never a
    * data-sized driver structure.
    *
    * Output: `raw` + `ds_weight` (long ≥ 1; docs shorter than n get 1).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, id: String, text: String,
      n: Int = 2, buckets: Int = 1 << 16, scale: Long = 1L << 20): DataFrame = {
    require(!raw.columns.contains("ds_weight"),
      "input already has a ds_weight column — the weights would shadow it")
    val rawGrams = ngramOccurrences(raw, id, text, n)
      .select(col(id), dsirBucket(col("g"), buckets).as("_b"))
      // consumed twice (the rc histogram AND the weight join) — without
      // the materialization the corpus-sized tokenize+gram+hash explode
      // runs twice
      .transform(Materialize(_))
    val ratio = dsirRatioTableFromGrams(rawGrams, target, id, text, n, buckets, scale)
    val weights = rawGrams
      .join(graft.plans.Hints.broadcastIfSmall(ratio), "_b")
      .groupBy(id).agg(sum("_r").as("_dsW"))
    raw.join(weights, Seq(id), "left")
      .withColumn("ds_weight", greatest(lit(1L), coalesce(col("_dsW"), lit(1L))))
      .drop("_dsW")
  }

  /** The n-gram bucket hash shared by the batch and ingest DSIR forms. */
  private[graft] def dsirBucket(g: Column, buckets: Int): Column =
    pmod(Dedup.portableHash64(g), lit(buckets.toLong))

  /** The DSIR importance-ratio artifact: one row per occupied raw bucket,
    * (`_b`, `_r` = ⌊(tc+1)·scale/(rc+1)⌋). This is the trainable,
    * persistable table the streaming ingest form broadcasts
    * ([[graft.streaming.StreamingQuality.dsirWeightAtIngest]]) — train
    * once on the frozen raw/target corpora, gate forever.
    */
  def dsirRatioTable(raw: DataFrame, target: DataFrame, id: String,
      text: String, n: Int = 2, buckets: Int = 1 << 16,
      scale: Long = 1L << 20): DataFrame =
    dsirRatioTableFromGrams(
      ngramOccurrences(raw, id, text, n)
        .select(col(id), dsirBucket(col("g"), buckets).as("_b")),
      target, id, text, n, buckets, scale)

  private def dsirRatioTableFromGrams(rawGrams: DataFrame, target: DataFrame,
      id: String, text: String, n: Int, buckets: Int, scale: Long): DataFrame = {
    require(n > 0 && buckets > 0 && scale > 0,
      s"need positive n/buckets/scale, got n=$n buckets=$buckets scale=$scale")
    val tc = ngramOccurrences(target, id, text, n)
      .groupBy(dsirBucket(col("g"), buckets).as("_b")).agg(count(lit(1)).as("_tc"))
    val rc = rawGrams.groupBy("_b").agg(count(lit(1)).as("_rc"))
    // one row per OCCUPIED raw bucket (≤ buckets rows); target-only
    // buckets never match a raw gram, so rc drives the join
    rc.join(tc, Seq("_b"), "left").select(col("_b"),
      floorDivExact(
        ((coalesce(col("_tc"), lit(0L)) + 1L) * lit(scale)).cast("decimal(38,0)"),
        (col("_rc") + 1L).cast("decimal(38,0)")).as("_r"))
  }

  /** DSIR importance RESAMPLING: [[dsirWeights]] driving a [[samplePps]]
    * draw — membership u(id)·W < min(e·w, W)·M in the exact decimal
    * full-60-bit hash space, ht_weight the Horvitz–Thompson inverse of the
    * realized probability. The sample is ∝ target/raw importance, which is
    * the DSIR selection step; HT weights additionally let downstream
    * estimate raw-corpus statistics from the resampled subset unbiasedly.
    */
  def dsirResample(raw: DataFrame, target: DataFrame, id: String, text: String,
      expected: Int, n: Int = 2, buckets: Int = 1 << 16,
      scale: Long = 1L << 20): DataFrame =
    samplePps(dsirWeights(raw, target, id, text, n, buckets, scale),
      col(id), col("ds_weight"), expected)

  /** Sequence packing: greedily assign consecutive chunks of each document
    * to context-window bins of `capacity` tokens — the step that turns
    * variable-length chunks into fixed-budget training sequences. A chunk
    * that would overflow the current bin starts the next one; a chunk
    * larger than `capacity` gets a bin of its own. Packing is per
    * document (bins never mix documents), in `chunkNo` order.
    *
    * The greedy scan is inherently sequential PER DOCUMENT, but documents
    * are independent: one partial-agg shuffle gathers each doc's (small)
    * chunk list, and the scan itself is a Catalyst `aggregate` lambda —
    * codegen-friendly, no UDF, no driver state, so the operator scales
    * with the number of documents.
    *
    * Caveat: the fold appends to an immutable array, so a document with c
    * chunks costs O(c²) element copies — negligible for normal documents
    * (a 2k-token doc at stride 6 is ~330 chunks) but real for monster
    * docs; [[packChunksTyped]] is the linear form for that regime.
    *
    * Output: (docId, chunkNo, tokensCol, bin) — bin is 0-based per doc.
    */
  /** The greedy capacity-pack fold — the single definition of the packing
    * rule, shared by [[packChunks]] and the streaming in-row form. Folds
    * over an array of structs each carrying a token count `n` plus one
    * payload (`carry(x)`, emitted as `carryName: carryType`); yields
    * `array<struct<carryName, n:int, bin:int>>`. A chunk that would
    * overflow the current bin starts the next; an oversized chunk gets a
    * bin of its own.
    */
  private[graft] def greedyPackFold(cs: Column, capacity: Int,
      carryName: String, carryType: String, carry: Column => Column): Column = {
    require(capacity > 0, s"need capacity > 0, got $capacity")
    aggregate(
      cs,
      // (assignments so far, current bin, tokens in current bin)
      struct(
        array().cast(s"array<struct<$carryName:$carryType,n:int,bin:int>>").as("bins"),
        lit(0).as("curBin"), lit(0L).as("curSum")),
      (acc, x) => {
        val n = x.getField("n").cast("long")
        val overflow = acc.getField("curSum") + n > capacity &&
          acc.getField("curSum") > 0
        val bin = when(overflow, acc.getField("curBin") + 1)
          .otherwise(acc.getField("curBin"))
        struct(
          concat(acc.getField("bins"),
            array(struct(carry(x).as(carryName), x.getField("n").as("n"),
              bin.as("bin")))).as("bins"),
          bin.as("curBin"),
          when(overflow, n).otherwise(acc.getField("curSum") + n).as("curSum"))
      },
      acc => acc.getField("bins"))
  }

  def packChunks(chunks: DataFrame, docId: String, chunkNo: String,
      tokensCol: String, capacity: Int): DataFrame = {
    val packed = greedyPackFold(col("cs"), capacity,
      "no", "int", _.getField("no"))
    chunks
      .groupBy(col(docId))
      .agg(sort_array(collect_list(struct(
        col(chunkNo).cast("int").as("no"), col(tokensCol).cast("int").as("n")))).as("cs"))
      .select(col(docId), explode(packed).as("p"))
      .select(col(docId), col("p.no").as(chunkNo),
        col("p.n").as(tokensCol), col("p.bin").as("bin"))
  }

  /** [[packChunks]] with a linear per-doc scan: the same greedy semantics
    * via `flatMapGroups` over a mutable buffer — O(c) per document instead
    * of the Catalyst fold's O(c²) array copies. Leaves whole-stage codegen
    * (object serialization per group), so prefer [[packChunks]] until
    * per-doc chunk counts reach the thousands. A test pins both forms
    * equal. Requires a long docId and int chunkNo/tokens columns.
    */
  def packChunksTyped(chunks: DataFrame, docId: String, chunkNo: String,
      tokensCol: String, capacity: Int): DataFrame = {
    require(capacity > 0, s"need capacity > 0, got $capacity")
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .select(col(docId).cast("long"), col(chunkNo).cast("int"),
        col(tokensCol).cast("int"))
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (doc, rows) =>
        val sorted = rows.toArray.sortBy(_._2)
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Int)](sorted.length)
        var bin = 0; var cur = 0L
        sorted.foreach { case (_, no, n) =>
          if (cur + n > capacity && cur > 0) { bin += 1; cur = n.toLong }
          else cur += n
          out += ((doc, no, n, bin))
        }
        out.iterator
      }
      .toDF(docId, chunkNo, tokensCol, "bin")
  }

  /** In-context-pretraining consumption order from a matched pair graph
    * (Shi et al. 2023, arXiv:2310.10638: pack related documents
    * adjacently): every doc labels itself with (anchor, within) — a
    * matched pair (a, b) puts a at (a, 0) and b at (a, 1), unmatched
    * docs anchor to themselves — and the position is a distributed
    * dense numbering over those labels (the denseNumber range-exchange
    * shape; never a global single-partition sort). `pairs` is
    * [[graft.operators.Graph.mutualBestMatching]] output (node_a <
    * node_b, each node in ≤ 1 row), persistable via
    * `graft.state.Artifacts.savePairGraph`. Output: (doc_id, anchor,
    * icp_pos), positions dense from 1.
    */
  def icpOrder(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val lab = docs.select(col(id).cast("long").as("doc_id"))
      .join(pairs.select(col("node_a").cast("long").as("doc_id"),
          col("node_a").cast("long").as("_anchor"), lit(0L).as("_w"))
        .unionByName(pairs.select(col("node_b").cast("long").as("doc_id"),
          col("node_a").cast("long").as("_anchor"), lit(1L).as("_w"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_anchor"), col("doc_id")).as("anchor"),
        coalesce(col("_w"), lit(0L)).as("_w"))
    // NOT checkpointed (r14 denseNumber call-site audit, measured): the
    // range numbering's sampling pass does re-execute this docs⋈pairs
    // subtree once, but pairs is node-sized and checkpointed by the
    // caller, so the re-execution is a pruned scan + broadcast join —
    // cheaper than materializing a corpus-sized 3-column frame
    // (checkpointing it read q_icp_pack 6.20 → 7.04 s isolated)
    SuffixArray.denseNumber(lab, Seq(col("anchor"), col("_w")), "icp_pos", 32)
      .select(col("doc_id"), col("anchor"), col("icp_pos"))
  }

  /** Append arriving documents to a STANDING [[icpOrder]] — the batch
    * form of the at-ingest attach (see
    * `graft.streaming.StreamingCorpus.icpAttachAtIngest`; spec-pinned
    * equal). `cands` carries the arriving docs LEFT-joined to their
    * match candidates against the standing corpus — (doc_id, old_id
    * nullable, score nullable), one row per candidate and at least one
    * (null-candidate) row per doc — from whatever pairing door scored
    * them (e.g. [[Dedup.jaccardPairsAgainst]]). Each doc anchors to its
    * best candidate under the matching family's total order (score
    * desc, old_id asc) among candidates PRESENT in `standingOrder`;
    * docs with none anchor to themselves and sort last. Appended
    * positions are `basePos` + a dense numbering by (anchor's standing
    * position, doc_id) — already-issued positions NEVER renumber, the
    * shard-ledger append-stability contract. Output: (doc_id, anchor,
    * icp_pos).
    */
  def icpAttach(cands: DataFrame, standingOrder: DataFrame,
      basePos: Long): DataFrame = {
    val withPos = cands
      // scores compare as doubles (struct ordering is exact on them), NOT
      // cast to long — a cosine/ratio-scored pairing door would have its
      // (score desc) anchor tie-break truncated to 0 by an integer cast
      .select(col("doc_id").cast("long"), col("old_id").cast("long"),
        col("score").cast("double"))
      .join(standingOrder.select(col("doc_id").cast("long").as("old_id"),
        col("icp_pos").cast("long").as("_iaP")), Seq("old_id"), "left")
    val best = withPos.groupBy("doc_id")
      .agg(max(when(col("_iaP").isNotNull,
        struct(col("score").as("_iaS"), (-col("old_id")).as("_iaG"),
          col("_iaP").as("_iaP")))).as("_iaB"))
      .select(col("doc_id"),
        coalesce(-col("_iaB._iaG"), col("doc_id")).as("anchor"),
        coalesce(col("_iaB._iaP"), lit(Long.MaxValue)).as("_iaK"))
      // arrivals-sized; materialized so the range numbering's sampling
      // pass re-reads a block instead of re-running the candidate join +
      // argmax agg (the denseNumber call-site audit, r14)
      .transform(Materialize(_))
    SuffixArray.denseNumber(best, Seq(col("_iaK"), col("doc_id")), "_iaR", 32)
      .select(col("doc_id"), col("anchor"),
        (lit(basePos) + col("_iaR")).as("icp_pos"))
  }
}

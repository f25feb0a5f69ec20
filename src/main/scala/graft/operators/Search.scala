package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Corpus search scoring — the retrieval side of a training-data platform
  * (mining documents for a topic, building eval sets). Complements the
  * exact/ANN embedding search in [[Similarity]] with lexical ranking over
  * the inverted-index statistics.
  */
object Search {

  /** BM25 ranking of documents for a bag of query terms, with a LOG-FREE
    * rational idf: `(N − df + 0.5) / (df + 0.5)` instead of its logarithm.
    * `ln` is deliberately avoided: libm implementations differ in the last
    * ulp across engines, so a log-based score could not be verified
    * bit-exactly by a cross-engine oracle. The rational form is a strictly
    * monotone function of the classic idf, so rankings by a single term
    * agree; multi-term totals weight rare terms more sharply — acceptable
    * for corpus mining, and stated here so the choice is explicit.
    *
    * All inputs to the arithmetic are exact integers (term/doc counts,
    * doc lengths), every division is a single IEEE op, and the per-term
    * scores sum in a FIXED left-to-right term order — identical bits in
    * any engine evaluating the same expression tree, which is what lets
    * the DuckDB oracle pin the exact top-k.
    *
    * Scale shape: ONE pass over the exploded tokens — a per-doc partial
    * agg computing length and every per-term tf together (conditional
    * sums). Everything else derives from that one-row-per-doc frame: doc
    * count, average length, and per-term dfs (docs with tf > 0) in a
    * single O(1)-row global agg, broadcast to the scorer; a TakeOrdered
    * keeps the top-k. No shuffle carries more than one row per document.
    */
  def bm25TopK(docs: DataFrame, id: String, text: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // tokens are lowercased, so match terms in lowercase too (an
    // uppercase term would otherwise silently score 0 everywhere);
    // dedupe — a repeated term would double-count and collide columns
    val qTerms = terms.map(_.toLowerCase).distinct
    require(qTerms.nonEmpty, "need at least one query term")
    // internal columns carry a _bm25_ prefix so a corpus keyed by a column
    // literally named "n", "dl" or "tf_0" can't collide into an ambiguous
    // reference or silently wrong resolution
    require(!id.startsWith("_bm25_") && id != "score",
      s"id column '$id' collides with bm25 internals")
    // columns are indexed, not named after the term: a term containing
    // '.', '`' or a space would break column resolution
    val ti = qTerms.indices
    def tf(i: Int) = s"_bm25_tf_$i"
    def df(i: Int) = s"_bm25_df_$i"
    val tok = docs.select(col(id), explode(split(lower(col(text)), "\\s+")).as("_bm25_tk"))
    // length + every per-term tf in ONE per-doc partial agg, materialized
    // once (Materialize) — the global stats row and the scorer both
    // consume it, and relying on AQE exchange reuse instead would risk
    // doubling the heaviest scan on a large corpus
    val docStats = tok.groupBy(id).agg(
      count(lit(1)).as("_bm25_dl"),
      ti.map(i =>
        sum(when(col("_bm25_tk") === qTerms(i), 1).otherwise(0)).as(tf(i))): _*)
      .transform(Materialize(_))
    val stats = docStats.agg(
      count(lit(1)).as("_bm25_n"),
      ((sum("_bm25_dl").cast("double") / count(lit(1))).as("_bm25_avglen") +:
        ti.map(i =>
          sum(when(col(tf(i)) > 0, 1).otherwise(0)).as(df(i)))): _*)
    val lenNorm = lit(1.0) - b +
      lit(b) * (col("_bm25_dl").cast("double") / col("_bm25_avglen"))
    val score = ti.map { i =>
      ((col("_bm25_n").cast("double") - col(df(i)) + 0.5) / (col(df(i)) + 0.5)) *
        ((col(tf(i)) * lit(k1 + 1)) / (col(tf(i)) + lit(k1) * lenNorm))
    }.reduce(_ + _)
    docStats
      .crossJoin(broadcast(stats))
      .select(col(id), score.as("score"))
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** Reciprocal-rank fusion of two rankings — the standard hybrid-search
    * combiner (lexical BM25 pool ∪ vector ANN pool → one list) from
    * Cormack/Clarke/Büttcher's RRF: score(d) = Σ_r 1/(rrfK + rank_r(d)),
    * a document absent from a ranking contributing nothing. Working on
    * RANKS rather than raw scores is what makes the fusion portable: no
    * score normalization across incommensurable scales, and the arithmetic
    * (integer add, one correctly-rounded IEEE division per side, one sum)
    * is bit-identical in any engine, so an oracle can pin the exact fused
    * order.
    *
    * Inputs carry (`id`, `rank`), rank 1-based; both are top-`pool`
    * DataFrames, i.e. BOUNDED BY CONSTRUCTION (k rows each, whatever the
    * corpus size) — so the full-outer join and the final k-row ordering
    * are driver-trivial at any scale; the heavy lifting stays in the
    * rankers that produced the pools.
    *
    * Output: (`id`, fused_rank 1..k, a_rank, b_rank) — ranks NULL where a
    * side missed the document.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, id: String, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(rrfK >= 1, s"need rrfK >= 1, got $rrfK")
    require(!Seq("a_rank", "b_rank", "fused_rank", "_rrf_s").contains(id),
      s"id column '$id' collides with rrf internals")
    Seq(a, b).foreach(df => require(df.columns.contains("rank"),
      "rrfFuse inputs must carry a 'rank' column"))
    val aa = a.select(col(id), col("rank").cast("long").as("a_rank"))
    val bb = b.select(col(id), col("rank").cast("long").as("b_rank"))
    val scored = aa.join(bb, Seq(id), "full_outer")
      .select(col(id), col("a_rank"), col("b_rank"),
        (coalesce(lit(1.0) / (lit(rrfK.toLong) + col("a_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK.toLong) + col("b_rank")), lit(0.0)))
          .as("_rrf_s"))
    // both pools are ≤ their rankers' k — the unpartitioned window runs on
    // a bounded frame (same dispensation as Similarity's k×10 rerank pool)
    scored
      // ≤ 2k candidate rows by construction (union of two top-k pools) —
      // Hints.onePartition keeps the single-partition total sort but
      // gives WindowExec a non-empty spec (no benign-warning noise)
      .withColumn("fused_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(graft.plans.Hints.onePartition(col(id)))
          .orderBy(col("_rrf_s").desc, col(id))))
      .filter(col("fused_rank") <= k)
      .select(col(id), col("fused_rank"), col("a_rank"), col("b_rank"))
  }

  /** All-pairs document similarity join — every document pair whose
    * TF-IDF-weighted cosine over word n-gram shingles clears
    * `minSimNum/minSimDen` (Bayardo et al. WWW'07 "Scaling Up All Pairs
    * Similarity Search", the inverted-index formulation — all public).
    * The lexical complement of the embedding-space [[Similarity]]
    * near-dup ops: catches paraphrase-level text reuse that exact-hash
    * and containment modalities miss, with rare phrases weighted up.
    *
    * Exact-arithmetic house style: the idf is the QUANTIZED INTEGER
    * rarity `ir(t) = 1 + floor(log2(N div df(t)))` — computed as
    * `length(bin(N div df))`, a pure string/integer op both engines
    * evaluate identically (the same libm-avoidance as BM25's rational
    * idf; a float `ln` could not be hash-verified cross-engine).
    * Weights are `w_t = tf_t · ir_t ∈ ℤ`; `dot = Σ w_a w_b`,
    * `norm² = Σ w²` are exact integers, and `cos ≥ num/den` is decided
    * by the cross-multiplied integer predicate
    * `den²·dot² ≥ num²·norm_a²·norm_b²` in decimal(38,0) — headroom
    * holds while `4096·L³ ≤ 10¹⁹` per document (L = tokens/doc, so
    * L ≲ 10⁵; chunk longer docs first with [[Corpus]] chunking).
    *
    * Scale shape: ONE corpus scan → (doc, gram, tf) partial agg; ONE
    * gram-keyed agg builds the inverted index with `capped_collect2`
    * (exact df + the (doc, tf) posting bucket, NULL past `maxDf` — a
    * billion-doc boilerplate gram moves ≤ maxDf postings per map
    * partition and is dropped, the [[graft.functions.CappedCollect]]
    * skew story). Norms and pair partial-products both derive from the
    * checkpointed bucket table via NARROW explodes (pair fanout bounded
    * at maxDf²/gram); similarity is judged over the KEPT (df ≤ maxDf)
    * vocabulary, the same df-capped-exactness contract as
    * [[Dedup.containmentPairs]]. Buckets are (doc, tf)-sorted, so the
    * triangular in-bucket explode emits each pair once with
    * id_a < id_b. Output: (id_a, id_b, dot, norm_a2, norm_b2),
    * bigint (predicate evaluated in decimal(38,0) headroom), one row
    * per qualifying pair.
    */
  def cosinePairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, minSimNum: Int, minSimDen: Int,
      maxDf: Int): DataFrame = {
    require(shingleN >= 1, s"need shingleN >= 1, got $shingleN")
    require(minSimNum >= 1 && minSimDen >= minSimNum,
      s"need 0 < minSimNum/minSimDen <= 1, got $minSimNum/$minSimDen")
    require(maxDf >= 2, s"need maxDf >= 2 (df-1 grams cannot pair), got $maxDf")
    val tf = docs
      .select(col(id).cast("long").as("_cpDoc"),
        explode(Dedup.shinglesMultiset(col(text), shingleN)).as("_cpG0"))
      .select(col("_cpDoc"), Dedup.portableHash64(col("_cpG0")).as("_cpG"))
      .groupBy("_cpDoc", "_cpG").agg(count(lit(1)).as("_cpTf"))
    val nRow = broadcast(docs.agg(count(lit(1)).as("_cpN")))
    // the inverted index: exact df + skew-bounded (doc, tf) bucket in ONE
    // partial agg; materialized once for the two consumers below
    val buckets = tf.groupBy("_cpG")
      .agg(count(lit(1)).as("_cpDf"),
        call_function("capped_collect2",
          col("_cpDoc"), col("_cpTf"), lit(maxDf)).as("_cpB"))
      .filter(col("_cpB").isNotNull)
      .crossJoin(nRow)
      .select(col("_cpB"),
        length(bin(expr("_cpN div _cpDf"))).cast("long").as("_cpIr"))
      .transform(Materialize(_))
    val norms = buckets
      .select(explode(col("_cpB")).as("_cpE"), col("_cpIr"))
      .select(col("_cpE.k").as("_cpDoc"),
        (col("_cpE.v") * col("_cpIr")).as("_cpW"))
      .groupBy("_cpDoc")
      .agg(sum(col("_cpW").cast("decimal(38,0)") * col("_cpW")).as("_cpN2"))
    val dots = buckets
      .select(posexplode(col("_cpB")).as(Seq("_cpI", "_cpEa")),
        col("_cpB"), col("_cpIr"))
      .select(col("_cpEa"),
        explode(expr("slice(_cpB, _cpI + 2, size(_cpB))")).as("_cpEb"),
        col("_cpIr"))
      .select(col("_cpEa.k").as("id_a"), col("_cpEb.k").as("id_b"),
        ((col("_cpEa.v") * col("_cpIr")).cast("decimal(38,0)") *
          (col("_cpEb.v") * col("_cpIr"))).as("_cpP"))
      .groupBy("id_a", "id_b").agg(sum(col("_cpP")).as("dot"))
    val num2 = lit(minSimNum.toLong * minSimNum).cast("decimal(38,0)")
    val den2 = lit(minSimDen.toLong * minSimDen).cast("decimal(38,0)")
    dots
      .join(graft.plans.Hints.broadcastIfSmall(norms
        .select(col("_cpDoc").as("id_a"), col("_cpN2").as("norm_a2"))), Seq("id_a"))
      .join(graft.plans.Hints.broadcastIfSmall(norms
        .select(col("_cpDoc").as("id_b"), col("_cpN2").as("norm_b2"))), Seq("id_b"))
      .filter(den2 * col("dot") * col("dot") >=
        num2 * col("norm_a2") * col("norm_b2"))
      // the PREDICATE needs the 38-digit headroom (den2·dot² ~ w⁴); the
      // OUTPUT sums fit a long with room to spare (≤ maxDf·(tf·ir)² ~
      // 4096·L³ at any plausible doc length), so surface bigint — the
      // driver's hash is type-strict and the DuckDB twin casts the same
      // three sums to BIGINT (the q_embed_gram template). Guarded: with
      // ANSI off a plain cast would NULL past Long.MaxValue silently
      // while the oracle's CAST(HUGEINT AS BIGINT) errors — checkedLong
      // makes the engine error too, exactly where the bound breaks
      // (~130k+ word docs).
      .select(col("id_a"), col("id_b"), checkedLong(col("dot"), "dot"),
        checkedLong(col("norm_a2"), "norm_a2"),
        checkedLong(col("norm_b2"), "norm_b2"))
  }

  /** decimal(38,0) → bigint that FAILS on overflow instead of the ANSI-off
    * silent NULL, mirroring the oracle's CAST(HUGEINT AS BIGINT) error —
    * the two engines must diverge loudly together, never silently apart.
    */
  private def checkedLong(c: Column, name: String): Column =
    when(c.between(lit(Long.MinValue).cast("decimal(38,0)"),
        lit(Long.MaxValue).cast("decimal(38,0)")), c.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$name overflows BIGINT (doc length past the 4096*L^3 " +
          s"headroom argument): "), c.cast("string"))))
      .as(name)

  /** Per-document top-k TF-IDF keywords: the highest-scoring terms of
    * each document under the engine's QUANTIZED INTEGER rarity
    * `ir(t) = 1 + floor(log2(N div df(t)))` (= `length(bin(N div df))`,
    * the same libm-free idf as [[cosinePairs]]/[[bm25TopK]]) — the
    * document-tagging / index-summarization primitive (store k terms per
    * document instead of the document). Score `tf · ir` is an exact
    * integer; ties break on the term string, so the top-k is fully
    * deterministic and oracle-replayable.
    *
    * Scale shape: one corpus scan → (doc, term, tf) partial agg; the
    * rarity table is VOCABULARY-sized and joins tf on term (one hash
    * shuffle); the per-doc top-k is the bounded `topk_agg` heap — k rows
    * per doc per map partition cross the final exchange, never the full
    * posting list (no window sort). Output: (<id>, rank, term, score),
    * rank 1..k score-descending.
    */
  def keywordsTfIdf(docs: DataFrame, id: String, text: String,
      k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val tf = docs
      .select(col(id).cast("long").as("_kwDoc"),
        explode(split(lower(col(text)), "\\s+")).as("_kwT"))
      .groupBy("_kwDoc", "_kwT").agg(count(lit(1)).as("_kwTf"))
    val nRow = broadcast(docs.agg(count(lit(1)).as("_kwN")))
    val rarity = tf.groupBy("_kwT").agg(count(lit(1)).as("_kwDf"))
      .crossJoin(nRow)
      .select(col("_kwT"),
        length(bin(expr("_kwN div _kwDf"))).cast("long").as("_kwIr"))
    val scored = tf.join(rarity, Seq("_kwT"))
      .select(col("_kwDoc"), col("_kwT"),
        (col("_kwTf") * col("_kwIr")).as("_kwS"))
    Similarity.topKPerKey(scored, Seq("_kwDoc"),
        struct((-col("_kwS")).as("ns"), col("_kwT").as("tm")), k)
      .select(col("_kwDoc").as(id), posexplode(col("topk")))
      .select(col(id), (col("pos") + 1).cast("long").as("rank"),
        col("col.tm").as("term"), (-col("col.ns")).as("score"))
  }

  /** Incremental (new-batch-vs-corpus) cosine similarity: each NEW
    * document scored against EXISTING corpus documents — the
    * daily-ingest twin of [[cosinePairs]], the same relationship
    * [[Dedup.containmentPairsAgainst]] bears to
    * [[Dedup.containmentPairs]]. Directed new→old only.
    *
    * Weights come from the CORPUS statistics (the standing inventory a
    * production pipeline persists): N = corpus size, rarity from corpus
    * df. A new-doc gram the corpus has NEVER seen gets the maximal
    * rarity `length(bin(N))` (df treated as 1 — the doc itself would be
    * its first occurrence): it cannot match any corpus doc, but it
    * COUNTS toward the new doc's norm, so fresh content lowers
    * similarity-to-corpus exactly as it should (the df-0 principle of
    * the containment twin). Grams past `maxDf` are boilerplate on both
    * sides: excluded from buckets, norms, and dots alike.
    *
    * Scale shape: the corpus shuffles ONCE into the inventory (exact df
    * + `capped_collect2` (doc, tf) bucket, NULL past the cap — persist
    * it per corpus release and feed batches against it; recomputed here
    * to keep the API self-contained). Matching a batch is a batch-sized
    * left join + narrow bucket explode (fanout ≤ maxDf per gram), so
    * pair work is linear in batch size with a constant-bound hot key.
    * Output: (new_id, old_id, dot, norm_new2, norm_old2), bigint
    * (predicate evaluated in decimal(38,0) headroom).
    */
  def cosinePairsAgainst(newDocs: DataFrame, corpus: DataFrame, id: String,
      text: String, shingleN: Int, minSimNum: Int, minSimDen: Int,
      maxDf: Int): DataFrame = {
    require(shingleN >= 1, s"need shingleN >= 1, got $shingleN")
    require(minSimNum >= 1 && minSimDen >= minSimNum,
      s"need 0 < minSimNum/minSimDen <= 1, got $minSimNum/$minSimDen")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    def tf(docs: DataFrame): DataFrame = docs
      .select(col(id).cast("long").as("_cpDoc"),
        explode(Dedup.shinglesMultiset(col(text), shingleN)).as("_cpG0"))
      .select(col("_cpDoc"), Dedup.portableHash64(col("_cpG0")).as("_cpG"))
      .groupBy("_cpDoc", "_cpG").agg(count(lit(1)).as("_cpTf"))
    val nRow = broadcast(corpus.agg(count(lit(1)).as("_cpN")))
    // ONE corpus-sided shuffle builds the standing inventory: exact df,
    // skew-bounded posting bucket, and the quantized corpus rarity
    val inv = tf(corpus).groupBy("_cpG")
      .agg(count(lit(1)).as("_cpDf"),
        call_function("capped_collect2",
          col("_cpDoc"), col("_cpTf"), lit(maxDf)).as("_cpB"))
      .crossJoin(nRow)
      .select(col("_cpG"), col("_cpDf"), col("_cpB"),
        length(bin(expr("_cpN div _cpDf"))).cast("long").as("_cpIr"))
      .transform(Materialize(_))
    // corpus norms from the kept buckets (df <= maxDf, non-NULL)
    val oldNorms = inv.filter(col("_cpDf") <= maxDf && col("_cpB").isNotNull)
      .select(explode(col("_cpB")).as("_cpE"), col("_cpIr"))
      .select(col("_cpE.k").as("old_id"),
        (col("_cpE.v") * col("_cpIr")).as("_cpW"))
      .groupBy("old_id")
      .agg(sum(col("_cpW").cast("decimal(38,0)") * col("_cpW")).as("norm_old2"))
    // new-side grams: corpus-unseen grams keep max rarity and an empty
    // bucket; corpus-boilerplate grams (df > maxDf) drop on both sides
    val maxIr = length(bin(col("_cpN"))).cast("long")
    val keptN = tf(newDocs).crossJoin(nRow)
      .join(inv.select(col("_cpG"), col("_cpDf"), col("_cpB"),
        col("_cpIr").as("_cpIrC")), Seq("_cpG"), "left")
      .filter(coalesce(col("_cpDf"), lit(0L)) <= maxDf)
      .select(col("_cpDoc").as("new_id"),
        (col("_cpTf") * coalesce(col("_cpIrC"), maxIr)).as("_cpWn"),
        coalesce(col("_cpB"),
          array().cast("array<struct<k:bigint,v:bigint>>")).as("_cpB"),
        coalesce(col("_cpIrC"), maxIr).as("_cpIr"))
      .transform(Materialize(_))
    val newNorms = keptN.groupBy("new_id")
      .agg(sum(col("_cpWn").cast("decimal(38,0)") * col("_cpWn")).as("norm_new2"))
    val dots = keptN
      .select(col("new_id"), col("_cpWn"),
        explode(col("_cpB")).as("_cpE"), col("_cpIr"))
      .select(col("new_id"), col("_cpE.k").as("old_id"),
        (col("_cpWn").cast("decimal(38,0)") *
          (col("_cpE.v") * col("_cpIr"))).as("_cpP"))
      .groupBy("new_id", "old_id").agg(sum(col("_cpP")).as("dot"))
    val num2 = lit(minSimNum.toLong * minSimNum).cast("decimal(38,0)")
    val den2 = lit(minSimDen.toLong * minSimDen).cast("decimal(38,0)")
    dots
      .join(graft.plans.Hints.broadcastIfSmall(newNorms), Seq("new_id"))
      .join(graft.plans.Hints.broadcastIfSmall(oldNorms), Seq("old_id"))
      .filter(den2 * col("dot") * col("dot") >=
        num2 * col("norm_new2") * col("norm_old2"))
      // decimal predicate, overflow-checked bigint surface — [[cosinePairs]].
      .select(col("new_id"), col("old_id"), checkedLong(col("dot"), "dot"),
        checkedLong(col("norm_new2"), "norm_new2"),
        checkedLong(col("norm_old2"), "norm_old2"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Document deduplication for training-data pipelines, at 100 TB design
  * scale. Flavors:
  *
  *  - exact: content-hash groupBy (one partial-agg shuffle)
  *  - MinHash + LSH banding: near-dup candidate pairs WITHOUT the O(n²)
  *    cross join — explode to (band, bucket) keys, self-join within
  *    buckets only, then verify candidates with exact Jaccard
  *  - SimHash: 64-bit signature whose Hamming distance tracks similarity
  *    of the token multiset
  *  - n-gram Jaccard: exact shingle-set similarity
  *
  * Signatures are computed in the explode + partial-agg shape
  * ([[minHashSignatures]], [[simHashAgg]]) — one codegen'd xxhash64 per
  * element, per-lane codegen'd min/sum aggregate columns, no UDFs, no
  * driver-side state; the single-row expression forms ([[minHashSignature]],
  * [[simHash]]) remain for per-record streaming use. Seeded hashing makes
  * signatures deterministic across runs and cluster sizes.
  */
object Dedup {

  /** Lowercased whitespace tokens, distinct (a set, for Jaccard). */
  def tokenSet(text: Column): Column = array_distinct(split(lower(text), "\\s+"))

  /** Engine-portable 60-bit hash: the top 15 hex chars of md5, as a long.
    * Unlike xxhash64 (Spark-native, no DuckDB twin), this is reproducible
    * in any engine with md5 — used where a signature must be verifiable by
    * the cross-engine oracle. Bits 60..63 are always 0.
    */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingle set over a pre-tokenized array. Documents shorter
    * than n words collapse to a single whole-document shingle.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))

  /** Word n-gram shingle set from raw text. The tokenization is bound once
    * through a lambda variable (single-element array + transform) — the
    * naive inline form would re-evaluate `split(lower(text))` for every one
    * of its four occurrences in the shingle expression.
    */
  def shingles(text: Column, n: Int): Column =
    element_at(
      transform(array(split(lower(text), "\\s+")), tk => shinglesFromTokens(tk, n)),
      1)

  /** MULTISET form of [[shingles]] — no `array_distinct`, so downstream
    * counts are term frequencies (the cosine/TF-IDF family needs
    * multiplicity; the set form is for Jaccard/containment).
    */
  def shinglesMultiset(text: Column, n: Int): Column =
    element_at(
      transform(array(split(lower(text), "\\s+")), tk =>
        when(size(tk) < n, array(concat_ws(" ", tk)))
          .otherwise(transform(sequence(lit(0), size(tk) - n),
            i => concat_ws(" ", slice(tk, i + lit(1), lit(n)))))), 1)

  /** Exact dedup: group identical content (by full-bytes hash), keep the
    * smallest id as the survivor. Output: (content_hash, keep_id, n_dups).
    */
  def exact(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature: sig[i] = min over tokens of xxhash64(token, i).
    * `numHashes` independent lanes via seeded hashing.
    */
  def minHashSignature(tokens: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(tokens, t => xxhash64(t, i))))

  /** LSH band keys: signature split into `bands` groups of `rowsPerBand`
    * lanes; each group fold-hashed to one bucket key. Docs sharing ≥1
    * (band, bucket) become candidate pairs.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        aggregate(
          slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
          lit(17L), (acc, v) => xxhash64(acc, v)).as("bucket")))

  /** MinHash signatures via EXPLODE + AGGREGATE — the scale shape. The
    * expression form ([[minHashSignature]]) evaluates `numHashes × |set|`
    * interpreted lambda calls per row; this form hashes each element ONCE
    * in whole-stage codegen and reduces through one partial-agg shuffle
    * with `numHashes` codegen'd `min` columns (lane i = xxhash64(h, i) —
    * an independent permutation per lane, re-derived from the single
    * element hash instead of re-hashing the string).
    *
    * Output: one row per doc, columns (doc, _mh0.._mh{n-1}).
    */
  def minHashSignatures(docs: DataFrame, id: String, setCol: Column, numHashes: Int): DataFrame = {
    val exploded = docs
      .select(col(id).as("doc"), explode(setCol).as("tok"))
      .select(col("doc"), xxhash64(col("tok")).as("h"))
    val lanes = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"_mh$i"))
    exploded.groupBy("doc").agg(lanes.head, lanes.tail: _*)
  }

  /** (doc, band, bucket) keys of a signature table: band b = xxhash64 of
    * its r lanes. Shared by the self-join ([[candidatePairs]]) and
    * bipartite ([[nearDupPairsAgainst]]) candidate generators.
    */
  private def bandKeyed(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * r until (b + 1) * r).map(i => col(s"_mh$i")): _*).as("bucket"))
    }
    sigs.select(col("doc"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** LSH candidate pairs over an arbitrary element-set column. Plan:
    * signatures ([[minHashSignatures]]) → per-band bucket columns (band b =
    * xxhash64 of its r lanes) → explode to (band, bucket) → self-join
    * within buckets → dedup pair. Signatures travel as `bands` longs per
    * doc — token sets are re-attached to the (few) surviving candidates by
    * id join, never hauled through the bucket shuffle.
    * Output: (a_id, b_id, a_set, b_set) with a_id < b_id.
    */
  def candidatePairs(
      docs: DataFrame, id: String, setCol: Column,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // The element sets are the corpus's heaviest column; they exist ONLY
    // in narrow projections below candidate reduction. Round 4's 100x
    // sweep caught both wrong forms: materializing corpus-sized
    // (doc, elems) thrashes the block manager past storage memory, and
    // joining the full corpus with its arrays makes the attach SMJ sort
    // 100x-sized array rows (10x run-to-run swings from allocation/GC
    // pressure: 21.9 s best, 373 s worst at 100x). Scale-correct shape:
    // shrink the corpus to candidate ids FIRST (a semi-join on bare
    // longs that AQE broadcasts — cand is checkpointed, so its true size
    // is known), then compute sets for just those rows.
    // both self-join sides consume the signatures; materialize the compact
    // (doc, numHashes longs) table once instead of recomputing the
    // tokenize+hash+aggregate pipeline per side. At extreme corpus sizes
    // swap for a persisted signature table on storage.
    val sigs = Materialize(minHashSignatures(docs, id, setCol, numHashes))
    val keyed = bandKeyed(sigs, numHashes, bands)
    // pairs of longs, bounded by LSH design — the one frame here whose
    // materialization is cheap AND load-bearing: three consumers (the id
    // reduction + both attach joins), and its measured size is what lets
    // AQE broadcast the semi-join below
    val cand = keyed.select(col("band"), col("bucket"), col("doc").as("a_id"))
      .join(keyed.select(col("band"), col("bucket"), col("doc").as("b_id")),
        Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
      .transform(Materialize(_))
    val candIds = cand.select(col("a_id").as(id))
      .union(cand.select(col("b_id").as(id))).distinct()
    // semi-join the RAW docs on ids, and only then project the element
    // sets: the join must sit below the array-building projection or
    // Catalyst computes arrays for the whole corpus anyway. Materialized:
    // BOTH attach joins read it, and it is candidate-sized (≤ 2·|cand|
    // rows) — without the checkpoint the corpus scan + semi-join +
    // array build all run twice, once per side.
    val candBase = docs.join(candIds, Seq(id), "left_semi")
      .select(col(id).as("doc"), setCol.as("elems"))
      .transform(Materialize(_))
    cand
      .join(candBase.select(col("doc").as("a_id"), col("elems").as("a_set")), Seq("a_id"))
      .join(candBase.select(col("doc").as("b_id"), col("elems").as("b_set")), Seq("b_id"))
      .select("a_id", "b_id", "a_set", "b_set")
  }

  /** Near-duplicate shingle pairs with EXACT integer outputs: MinHash+LSH
    * candidates verified by true Jaccard, thresholded as the integer
    * inequality `minDen·|A∩B| ≥ minNum·|A∪B|` (i.e. J ≥ minNum/minDen) so
    * the result carries no floating point at all — bit-identical across
    * engines. Output: (a_id, b_id, n_common, n_union), a_id < b_id.
    *
    * With numHashes=128, bands=32 (r=4): P[missed pair | J=0.8] =
    * (1−0.8⁴)³² ≈ 4.6e-8 — recall vs the exact O(n²) answer is ~1, and the
    * verification makes precision exact. The plan is linear in corpus size:
    * tokenize+sign (narrow) → explode bands → bucket join → verify.
    */
  def nearDupPairs(
      docs: DataFrame, id: String, text: String, shingleN: Int,
      minNum: Int, minDen: Int,
      numHashes: Int = 128, bands: Int = 32): DataFrame =
    candidatePairs(docs, id, shingles(col(text), shingleN), numHashes, bands)
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_set"), col("b_set"))).as("n_common"),
        size(array_union(col("a_set"), col("b_set"))).as("n_union"))
      .filter(lit(minDen) * col("n_common") >= lit(minNum) * col("n_union"))

  /** Incremental (bipartite) near-dup: a NEW batch checked against an
    * EXISTING corpus — the daily shape at 100 TB, where re-mining all
    * corpus×corpus pairs per ingest is not an option. Candidates come
    * from joining the batch's (band, bucket) keys against the corpus's —
    * never batch × corpus — and are verified with exact Jaccard, so the
    * output matches the brute-force bipartite answer with the same
    * 128×32 recall envelope as [[nearDupPairs]] (miss ≈ 4.6e-8 at
    * J ≥ 0.8). The corpus signature table is recomputed here to keep the
    * API self-contained; in production it is a standing artifact
    * (persist [[minHashSignatures]]' output and feed batches against it).
    * Output: (new_id, old_id, n_common, n_union).
    */
  def nearDupPairsAgainst(
      newDocs: DataFrame, corpus: DataFrame, id: String, text: String,
      shingleN: Int, minNum: Int, minDen: Int,
      numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val setCol = shingles(col(text), shingleN)
    // unlike candidatePairs' self-join, each signature frame here has
    // exactly ONE consumer (its band-bucket side) — checkpointing them
    // would materialize corpus-sized signature tables for zero reuse
    val kNew = bandKeyed(minHashSignatures(newDocs, id, setCol, numHashes),
      numHashes, bands)
    val kOld = bandKeyed(minHashSignatures(corpus, id, setCol, numHashes),
      numHashes, bands)
    // bare-long candidate pairs, checkpointed: same three-consumer /
    // AQE-size-known reasoning as candidatePairs. A pair sharing one id
    // across the frames is kept — that's the re-ingest comparison (new
    // version of doc 7 vs the corpus's old doc 7), and the brute-force
    // bipartite answer reports it too.
    val cand = kNew.select(col("band"), col("bucket"), col("doc").as("new_id"))
      .join(kOld.select(col("band"), col("bucket"), col("doc").as("old_id")),
        Seq("band", "bucket"))
      .select("new_id", "old_id")
      .dropDuplicates("new_id", "old_id")
      .transform(Materialize(_))
    // attach sets candidate-side only, each frame semi-joined to its ids
    // BELOW the array projection (the candidatePairs scale rule)
    def sets(df: DataFrame, pairCol: String, outSet: String) =
      df.join(cand.select(col(pairCol).as(id)).distinct(), Seq(id), "left_semi")
        .select(col(id).as(pairCol), setCol.as(outSet))
    cand
      .join(sets(newDocs, "new_id", "new_set"), Seq("new_id"))
      .join(sets(corpus, "old_id", "old_set"), Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        size(array_intersect(col("new_set"), col("old_set"))).as("n_common"),
        size(array_union(col("new_set"), col("old_set"))).as("n_union"))
      .filter(lit(minDen) * col("n_common") >= lit(minNum) * col("n_union"))
  }

  /** Directed near-containment pairs: (src, dst) where dst covers at
    * least minNum/minDen of src's DISTINCTIVE shingles — the asymmetric
    * complement to [[nearDupPairs]]. Jaccard-tuned MinHash banding cannot
    * find these (a tweet quoted inside a book has J ≈ |A|/|B| ≈ 0, so no
    * band ever collides); the right candidate generator is the inverted
    * gram index itself.
    *
    * "Distinctive" is part of the SEMANTICS, not an approximation:
    * containment is computed over the shingles whose document frequency
    * is ≤ maxDf. That is both what makes the signal meaningful (boiler-
    * plate grams appearing in thousands of documents say nothing about
    * quoting) and what makes the plan scale: each gram key fans out to at
    * most maxDf² pairs, so the pair explosion is bounded by
    * Σ_g min(df_g, maxDf)² — linear in corpus size with a constant-bound
    * hot key, never the unbounded df² blowup of a naive gram self-join.
    *
    * Plan: explode distinct shingles (narrow) → 60-bit [[portableHash64]]
    * gram fingerprints (the inventory key — an n-word gram string is
    * ~8·n bytes wide, so hashing at the explode shrinks the inventory
    * shuffle to 8-byte keys; md5 is engine-portable, so the oracle
    * replays the exact same fingerprints) → ONE gram-keyed partial agg
    * builds the inverted-index buckets directly:
    * `capped_collect(doc, maxDf)` ([[graft.functions.CappedCollect]])
    * keeps each gram's doc list bounded at maxDf through update AND
    * merge and yields NULL for boilerplate grams (df > maxDf), so a
    * billion-document hot gram moves ≤ maxDf ids per map partition and
    * never materializes — the skew story a `collect_list` + size filter
    * would not have. The bucket table (≤ maxDf longs per row),
    * materialized once, then feeds two NARROW explodes: per-doc kept
    * sizes and the in-bucket src×dst pair fanout (bounded at maxDf² per
    * gram — the same Σ_g min(df_g, maxDf)² work the former gram-keyed
    * self-join paid, minus its two extra input-sized shuffles and second
    * corpus scan). Integer threshold minDen·n_common ≥ minNum·n_src.
    * All-integer output, bit-portable (distinctiveness is judged on the
    * fingerprints, so a 60-bit collision merges two grams identically in
    * both engines). Output: (src_id, dst_id, n_common, n_src), both
    * directions when both clear the threshold; docs with zero
    * distinctive shingles emit nothing.
    */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, minNum: Int, minDen: Int, maxDf: Int): DataFrame = {
    require(minNum >= 1 && minDen >= minNum,
      s"need 0 < minNum/minDen <= 1, got $minNum/$minDen")
    require(maxDf >= 2, s"need maxDf >= 2 (df-1 grams cannot pair), got $maxDf")
    val ex = docs.select(col(id).as("_ctDoc"),
        explode(shingles(col(text), shingleN)).as("_ctG0"))
      .select(col("_ctDoc"), portableHash64(col("_ctG0")).as("_ctG"))
    val buckets = ex.groupBy("_ctG")
      .agg(call_function("capped_collect", col("_ctDoc"), lit(maxDf)).as("_ctDocs"))
      .filter(col("_ctDocs").isNotNull)
      .select("_ctDocs")
      .transform(Materialize(_))
    val sz = buckets.select(explode(col("_ctDocs")).as("src_id"))
      .groupBy("src_id").agg(count(lit(1)).as("n_src"))
    buckets.select(explode(col("_ctDocs")).as("src_id"), col("_ctDocs"))
      .select(col("src_id"), explode(col("_ctDocs")).as("dst_id"))
      .filter(col("src_id") =!= col("dst_id"))
      .groupBy("src_id", "dst_id").agg(count(lit(1)).as("n_common"))
      .join(sz, Seq("src_id"))
      .filter(lit(minDen) * col("n_common") >= lit(minNum) * col("n_src"))
      .select("src_id", "dst_id", "n_common", "n_src")
  }

  /** Incremental (new-batch-vs-corpus) containment: each NEW document
    * checked for near-containment in EXISTING corpus documents — the
    * daily-ingest twin of [[containmentPairs]], same relationship as
    * [[nearDupPairsAgainst]] to [[nearDupPairs]]. Directed new→old only:
    * "is this arriving doc mostly already present in corpus doc o".
    *
    * Distinctiveness is judged by the CORPUS document frequency (the
    * standing inventory artifact a production pipeline persists): a new
    * doc's gram counts toward its size when its corpus df ≤ maxDf —
    * including df 0, so fresh content lowers containment exactly as it
    * should. Fanout per gram is ≤ maxDf corpus rows, so pair work is
    * linear in batch size with a constant-bound hot key; batch×corpus is
    * never formed. Like [[containmentPairs]], the inventory is keyed on
    * the 60-bit [[portableHash64]] gram fingerprint, not the gram string
    * — the persisted artifact and every shuffle carry 8-byte keys, and
    * md5 portability keeps the oracle exact. The inventory `inv` is ONE
    * corpus-sided partial agg (exact df + skew-bounded
    * `capped_collect(doc, maxDf)` bucket, NULL past the cap), so matching
    * a batch is a batch-sized join + narrow bucket explode — corpus rows
    * shuffle exactly once. In production, persist `inv` once per corpus
    * release and feed batches against it (the same artifact reuse note
    * as [[nearDupPairsAgainst]]); recomputed here to keep the API
    * self-contained. Output: (new_id, old_id, n_common, n_src).
    */
  def containmentPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
      id: String, text: String, shingleN: Int,
      minNum: Int, minDen: Int, maxDf: Int): DataFrame = {
    require(minNum >= 1 && minDen >= minNum,
      s"need 0 < minNum/minDen <= 1, got $minNum/$minDen")
    require(maxDf >= 1, s"need maxDf >= 1, got $maxDf")
    val exO = corpus.select(col(id).as("_ctDoc"),
        explode(shingles(col(text), shingleN)).as("_ctG0"))
      .select(col("_ctDoc"), portableHash64(col("_ctG0")).as("_ctG"))
    // ONE corpus-sided shuffle builds the standing inventory: per gram the
    // exact df plus the skew-bounded doc bucket (NULL past maxDf — the
    // boilerplate grams a production release persists as "too common")
    val inv = exO.groupBy("_ctG")
      .agg(count(lit(1)).as("_ctDf"),
        call_function("capped_collect", col("_ctDoc"), lit(maxDf)).as("_ctOld"))
      .transform(Materialize(_))
    // new-side grams keep corpus-unseen ones (df 0): left join + coalesce;
    // the bucket join is batch-sized — corpus rows never shuffle again
    val keptN = newDocs.select(col(id).as("new_id"),
        explode(shingles(col(text), shingleN)).as("_ctG0"))
      .select(col("new_id"), portableHash64(col("_ctG0")).as("_ctG"))
      .join(inv, Seq("_ctG"), "left")
      .filter(coalesce(col("_ctDf"), lit(0L)) <= maxDf)
      .select(col("new_id"), coalesce(col("_ctOld"), array().cast("array<bigint>")).as("_ctOld"))
      .transform(Materialize(_))
    val sz = keptN.groupBy("new_id").agg(count(lit(1)).as("n_src"))
    keptN.select(col("new_id"), explode(col("_ctOld")).as("old_id"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("n_common"))
      .join(sz, Seq("new_id"))
      .filter(lit(minDen) * col("n_common") >= lit(minNum) * col("n_src"))
      .select("new_id", "old_id", "n_common", "n_src")
  }

  /** Per-document n-gram novelty vs a standing corpus: for each NEW
    * document, how many of its DISTINCT shingles the corpus has never
    * seen — the crawl-triage aggregate ("what does this batch actually
    * add?") that decides whether a source enters the mix, upstream of
    * any pairwise dedup. `novelty_ppm = n_unseen·10⁶ div n_grams` is an
    * exact integer, so the report is bit-portable.
    *
    * Scale shape: the corpus collapses to its DISTINCT gram-hash set
    * in one partial agg (the same persistable inventory the containment
    * family keeps — feed batches against it per release); matching is a
    * batch-sided left join on the gram hash + one per-doc agg. Corpus
    * rows never shuffle per batch; no pair fanout exists at all.
    * Output: (<id>, n_grams, n_unseen, novelty_ppm), one row per new
    * doc (every doc has ≥ 1 shingle — [[shingles]] emits [""] for
    * empty text — so the div is total).
    */
  def noveltyReport(newDocs: DataFrame, corpus: DataFrame,
      id: String, text: String, shingleN: Int): DataFrame =
    noveltyReportAgainst(newDocs,
      noveltyInventory(corpus, text, shingleN), id, text, shingleN)

  /** The standing inventory [[noveltyReport]] scores against: the corpus's
    * DISTINCT gram-hash set as a DataFrame (column `_nvG`) — the
    * PERSISTABLE release artifact (parquet round-trip via
    * [[graft.state.Artifacts]]). Never collected: at 100 TB the distinct
    * 3-gram set grows near-linearly with corpus tokens (billions of
    * longs), so the artifact must stay a distributed table that batches
    * JOIN, not a driver set — the one frozen-artifact family member the
    * vocabulary-sized dispensation does NOT cover.
    */
  def noveltyInventory(corpus: DataFrame, text: String,
      shingleN: Int): DataFrame =
    corpus.select(explode(shingles(col(text), shingleN)).as("_nvG0"))
      .select(portableHash64(col("_nvG0")).as("_nvG"))
      .distinct()

  /** [[noveltyReport]] against a pre-built (usually persisted) inventory —
    * the form both the per-release batch triage and the at-ingest
    * streaming twin ([[graft.streaming.StreamingDedup.noveltyAtIngest]])
    * execute: batch-sided left join on the gram hash + one per-doc agg;
    * inventory rows never reshuffle per batch.
    */
  def noveltyReportAgainst(newDocs: DataFrame, inventory: DataFrame,
      id: String, text: String, shingleN: Int): DataFrame = {
    val inv = inventory.select(col("_nvG")).withColumn("_nvSeen", lit(1))
    newDocs.select(col(id).cast("long").as(id),
        explode(shingles(col(text), shingleN)).as("_nvG0"))
      .select(col(id), portableHash64(col("_nvG0")).as("_nvG"))
      .join(inv, Seq("_nvG"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_nvSeen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .select(col(id), col("n_grams"), col("n_unseen"),
        expr("n_unseen * 1000000 div n_grams").as("novelty_ppm"))
  }

  private val powers: Column = array((0 until 64).map(k => lit(1L << k)): _*)

  /** SimHash: 64-bit signature. Bit k is set iff the ±1 votes of bit k
    * across all token hashes sum positive. Single pass over the tokens:
    * one xxhash64 per token, 64 counters folded via zip_with.
    */
  def simHash(tokens: Column, hash: Column => Column = xxhash64(_)): Column = {
    val hashes = transform(tokens, t => hash(t))
    val counters = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, powers,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    aggregate(
      zip_with(counters, powers, (c, p) => when(c > 0, p).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
  }

  /** SimHash via explode + aggregate — the scale shape (cf.
    * [[minHashSignatures]]): one codegen'd xxhash64 per token, 64 codegen'd
    * conditional bit-vote sums in one partial-agg shuffle, bits OR-packed.
    * Produces bit-identical signatures to the expression form [[simHash]].
    * Output: (doc, simhash).
    */
  def simHashAgg(
      docs: DataFrame, id: String, tokens: Column,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    val exploded = docs.select(col(id).as("doc"), explode(tokens).as("tok"))
      .select(col("doc"), hash(col("tok")).as("h"))
    val bitVotes = (0 until 64).map(k =>
      sum(when(col("h").bitwiseAND(lit(1L << k)) =!= 0, 1).otherwise(-1)).as(s"_b$k"))
    exploded.groupBy("doc").agg(bitVotes.head, bitVotes.tail: _*)
      .select(col("doc"),
        (0 until 64).map(k => when(col(s"_b$k") > 0, lit(1L << k)).otherwise(0L))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** Hamming distance between two simhashes (popcount of XOR). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected-component resolution over near-duplicate pairs — the stage
    * after pair detection: every document in a duplicate cluster gets the
    * cluster's minimum id as its canonical survivor, so "drop all rows
    * where node ≠ canonical" dedups the corpus.
    *
    * Iterative min-label propagation: each round joins current labels
    * across the (symmetrized) edge set and keeps the per-node min. Rounds
    * needed = component diameter (near-dup clusters are shallow — pairs
    * share content, so clusters are near-cliques with diameter ≲ 3). Each
    * round is one distributed join + partial-agg; only the convergence
    * check (a count) touches the driver. `maxIters` bounds pathological
    * chains; [[resolveComponentsStar]] is the O(log diameter) upgrade for
    * corpora that produce deep chains, and is what the pipeline query uses.
    *
    * Output: (node, canonical) — every node appearing in a pair, labeled
    * with its component's min id.
    */
  def resolveComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val sym = edges
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .transform(Materialize(_)) // reused every round; keep the scan out of the loop
    // seed with min(self, direct neighbors): near-dup clusters are
    // near-cliques, so most components converge at initialization and the
    // loop only runs the confirming round (plus extras for chains)
    var labels = sym.groupBy(col("a").as("node"))
      .agg(least(min(col("b")), first(col("a"))).as("label"))
      .transform(Materialize(_))
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val viaNeighbor = sym.join(labels, sym("b") === labels("node"))
        .select(sym("a").as("node"), col("label"))
      val next = labels.unionByName(viaNeighbor)
        .groupBy("node").agg(min("label").as("label"))
        .transform(Materialize(_))
      changed = next.join(labels.withColumnRenamed("label", "prev"), Seq("node"))
        .filter(col("label") =!= col("prev")).count()
      Materialize.release(labels)
      labels = next
      iters += 1
    }
    labels.select(col("node"), col("label").as("canonical"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale upgrade over [[resolveComponents]]'s
    * plain min-label propagation: rounds are O(log diameter) instead of
    * O(diameter), so a pathological million-node chain converges in ~20
    * rounds instead of a million, and per-round driver work is a single
    * is-the-edge-set-stable existence check on the (shrinking) contracted
    * edges rather than a full changed-label count join.
    *
    *  - large-star: every node points its LARGER neighbors at the minimum
    *    of its closed neighborhood — one symmetrize + per-node min agg +
    *    join.
    *  - small-star: every node folds its smaller neighbors (and itself)
    *    onto their collective minimum — one orient + min agg + join.
    *
    * Both phases strictly preserve connectivity and never increase the
    * edge count past the input; the fixpoint is a forest of stars whose
    * centers are the component minima. Same output contract as
    * [[resolveComponents]]: (node, canonical) for every node appearing in
    * a pair.
    */
  def resolveComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(least(min(col("b")), first(col("a"))).as("m"))
      sym.join(mins, "a")
        .filter(col("b") > col("a")) // b > a ≥ m, so (b, m) is never a self-loop
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // edges arrive (big, small) from largeStar; orient defensively anyway
      val oriented = e.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      val mins = oriented.groupBy("a").agg(min(col("b")).as("m"))
      oriented.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))   // smaller neighbors → min
        .unionByName(mins.select(col("a"), col("m").as("b"))) // center → min
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    var edges = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("a"), least(col("x"), col("y")).as("b"))
      .distinct()
      .transform(Materialize(_))
    var stable = false
    var iters = 0
    var prevCount = edges.count()
    while (!stable && iters < maxIters) {
      // checkpoint per round: the loop would otherwise stack an
      // exponentially deep plan (each round references the last twice)
      val next = Materialize(smallStar(largeStar(edges)))
      // convergence = set equality, probed in two tiers: a round that
      // changed the (distinct, non-increasing) edge COUNT is certainly
      // not stable — one narrow count over the checkpointed frame settles
      // it. A count-preserving round runs ONE anti-join containment
      // probe, which IS exact set equality here: both frames are
      // distinct, so |next| = |edges| and next ⊆ edges force next =
      // edges — no second diff needed, and no hash-collision caveat a
      // checksum certificate would carry (r14; formerly two exceptAll
      // probes, each of which Catalyst rewrites into a union + count
      // aggregate — two extra both-sides shuffles per stable round. A
      // single full-outer-join probe was measured SLOWER still at sf0.1 —
      // 11.5 s vs 8.5 s over the three component queries — the outer join
      // plans as a sort-merge while the anti-join stays a hash probe.)
      val nextCount = next.count()
      stable = nextCount == prevCount &&
        next.join(edges, Seq("a", "b"), "left_anti").isEmpty
      Materialize.release(edges)
      edges = next
      prevCount = nextCount
      iters += 1
    }
    // fixpoint: stars centered at component minima — every edge IS a
    // (node, canonical) row; centers label themselves
    edges.select(col("a").as("node"), col("b").as("canonical"))
      .unionByName(edges.select(col("b").as("node"), col("b").as("canonical")))
      .distinct()
  }

  /** INCREMENTAL connected components — the daily-ingest twin of
    * [[resolveComponentsStar]], closing the incremental dedup loop
    * ([[nearDupPairsAgainst]] / [[containmentPairsAgainst]] find the new
    * pairs; this folds them into the standing family structure without
    * ever revisiting the historical pair graph). A standing (node,
    * canonical) labeling IS its components' connectivity collapsed to
    * depth-1 stars, so re-running star contraction over
    * {standing star edges} ∪ {new pairs} yields exactly the components
    * of {all old pairs} ∪ {new pairs} — and converges in rounds
    * proportional to the NEW edges' chain depth, because the history is
    * already contracted. The edge set fed per refresh is
    * labeled-nodes + batch-pairs sized, never history-pairs sized.
    * Output: the refreshed (node, canonical) labeling (replace the
    * standing artifact with it).
    */
  def resolveComponentsIncremental(standing: DataFrame,
      newPairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    val np = newPairs.select(col(aCol).cast("long").as("_ciA"),
      col(bCol).cast("long").as("_ciB"))
    val merged = resolveComponentsStar(
      np.unionByName(standing.select(
        col("node").cast("long").as("_ciA"),
        col("canonical").cast("long").as("_ciB"))),
      "_ciA", "_ciB", maxIters)
    // star resolution drops self-edges, so a standing row whose whole
    // component is one self-labeled node would vanish — keep the full
    // node universe, singletons self-labeled
    val universe = standing.select(col("node").cast("long").as("node"))
      .unionByName(np.select(col("_ciA").as("node")))
      .unionByName(np.select(col("_ciB").as("node")))
      .distinct()
    universe.join(merged, Seq("node"), "left")
      .select(col("node"), coalesce(col("canonical"), col("node")).as("canonical"))
  }

  /** Best-representative collapse of near-duplicate families: keep, per
    * connected component, the member with the HIGHEST `score` (longest
    * text, best quality score, newest crawl, …) instead of the arbitrary
    * min-id survivor a plain `dedupApply` keeps — what a production
    * pipeline actually wants when duplicates differ in quality (e.g. keep
    * the un-truncated copy of a boilerplate family). Ties break to the
    * smallest id; documents in no component survive as their own
    * singleton family. NULL scores never win against a scored sibling
    * (an all-NULL family falls back to min id), so an unscorable copy
    * can't displace a scored one.
    *
    * `components` is a (node, canonical) labeling from
    * [[resolveComponentsStar]]; `id` must be unique and long-castable —
    * the same numeric id space the components were built from (the
    * singleton fallback casts it into the canonical column). Output: the
    * surviving rows with their `canonical` family label.
    *
    * Scale shape: two component-keyed partial aggs (max score, then
    * min-id among the maxima) and equi-joins back — no windows, so a
    * mega-family never serializes through one task the way a
    * rank-over-component window would.
    */
  def keepBestPerComponent(docs: DataFrame, components: DataFrame,
      id: String, score: Column): DataFrame = {
    require(!docs.columns.contains("canonical") &&
        !docs.columns.contains("_kbS") && !docs.columns.contains("_kbId"),
      "input already has a canonical/_kbS/_kbId column — the labeling " +
        "would silently shadow it")
    val lab = docs
      .join(components.withColumnRenamed("node", "_kbN"),
        docs(id) === col("_kbN"), "left")
      .withColumn("canonical", coalesce(col("canonical"), col(id).cast("long")))
      .drop("_kbN")
    val best = lab.groupBy("canonical").agg(max(score).as("_kbS"))
    // null-safe compare: an all-NULL-score family has _kbS NULL and keeps
    // rows via NULL <=> NULL; a scored family's NULL rows fail NULL <=> x
    val keep = lab.join(best, Seq("canonical"))
      .filter(score <=> col("_kbS"))
      .groupBy("canonical").agg(min(col(id)).as("_kbId"))
    lab.join(keep, Seq("canonical"))
      .filter(col(id) === col("_kbId"))
      .drop("_kbId")
  }

  /** SimHash near-duplicate pairs within `maxHamming`, banded: the 64-bit
    * signature splits into `bands` equal blocks; pairs sharing ≥1 exact
    * block become candidates (one equi-join — never O(n²)), then the true
    * Hamming filter verifies. By pigeonhole the result is EXACT (equal to
    * the brute-force pair join) whenever `maxHamming < bands`: a pair
    * differing in fewer bits than there are blocks must agree on some
    * block. Wider thresholds are supported but approximate — candidates
    * can miss pairs whose differing bits spread across every block.
    * Narrower blocks raise the sound threshold but collide more; pick
    * `bands` so 64/bands-bit buckets stay selective at the corpus size.
    * Output: (a_id, b_id, hamming) with a_id < b_id.
    */
  def simHashPairs(
      docs: DataFrame, id: String, tokens: Column,
      maxHamming: Int, bands: Int = 8,
      hash: Column => Column = xxhash64(_)): DataFrame =
    hammingPairs(
      simHashAgg(docs, id, tokens, hash), "doc", "simhash",
      maxHamming, bands)

  /** Near-duplicate pairs within `maxHamming` over ANY precomputed
    * 64-bit signature column — the banded-block engine behind
    * [[simHashPairs]] (text SimHash) and
    * [[Multimodal.imageNearDupPairs]] (perceptual image dHash): the
    * signature kind is a parameter, the candidate generation + exact
    * Hamming verify are one shared shape. Soundness is [[simHashPairs]]'
    * pigeonhole argument: exact ≡ brute force whenever
    * `maxHamming < bands`. Output: (a_id, b_id, hamming), a_id < b_id.
    */
  def hammingPairs(
      sigs0: DataFrame, id: String, sig: String,
      maxHamming: Int, bands: Int = 8): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val blockBits = 64 / bands
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
    val sigs = sigs0
      .select(col(id).cast("long").as("doc_id"), col(sig).as("sig"))
      .transform(Materialize(_)) // both self-join sides read the signatures
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * blockBits).bitwiseAND(lit(mask))): _*)))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("block"))
    // first-match-band filter instead of a dropDuplicates shuffle: a pair
    // sharing k blocks appears k times in the bucket join; keep it only at
    // the FIRST shared band. Both signatures already ride the join output,
    // so the uniqueness check is a codegen'd filter, not another exchange.
    def blockOf(sig: Column, b: Int): Column =
      shiftright(sig, b * blockBits).bitwiseAND(lit(mask))
    val earlierShared = (0 until bands - 1).map { bp =>
      (col("band") > bp) && (blockOf(col("a_sig"), bp) === blockOf(col("b_sig"), bp))
    }.reduceOption(_ || _).getOrElse(lit(false))
    banded.select(col("band"), col("block"), col("doc_id").as("a_id"), col("sig").as("a_sig"))
      .join(banded.select(col("band"), col("block"), col("doc_id").as("b_id"), col("sig").as("b_sig")),
        Seq("band", "block"))
      .filter(col("a_id") < col("b_id") && !earlierShared)
      .select(col("a_id"), col("b_id"),
        hammingDistance(col("a_sig"), col("b_sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard similarity between two text columns. Portable
    * half-up rounding — `round()` disagrees across engines at .5
    * boundaries (repr-based vs binary-based).
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val (sa, sb) = (shingles(a, n), shingles(b, n))
    floor(size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)) * 1e4 + 0.5) / 1e4
  }

  /** Stride-1 token n-gram window digests with positions: one
    * (0-based start, md5 of the n tokens) struct per window. Docs shorter
    * than n tokens produce no windows. Narrow — no shuffle.
    */
  private def windowDigests(text: Column, n: Int): Column =
    element_at(
      transform(array(split(lower(text), "\\s+")), tk =>
        when(size(tk) >= n,
          transform(sequence(lit(0), size(tk) - n),
            s => md5(concat_ws(" ", slice(tk, s + lit(1), lit(n))))))
          .otherwise(array().cast("array<string>"))),
      1)

  /** Cross-occurrence exact-substring duplicate spans — the output shape
    * of suffix-array exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"),
    * re-expressed for Spark as a sliding-gram semi-join + interval merge
    * instead of a distributed suffix array: for each document, the
    * maximal token intervals covered by length-`n` windows that occur
    * ≥ 2 times in the corpus (in another document, or repeated within
    * the same one — matching suffix-array semantics, where a doc's own
    * boilerplate dedups against itself).
    *
    * Plan, stage by stage (nothing doc × doc, nothing corpus-wide
    * sorted):
    *  1. stride-1 window digests with positions — narrow explode;
    *  2. duplicated digests: ONE partial-agg shuffle keyed on the digest
    *     (count collapses map-side), then a semi-join of occurrences
    *     against the ≥2-count digests — digest-keyed equi-shuffles. The
    *     digest explode is deliberately computed twice (once pruned to
    *     the digest for counting, once with positions for the semi-join
    *     probe) rather than materialized: the occurrence frame is
    *     corpus × windows sized, so two codegen'd scans beat caching it;
    *  3. gaps-and-islands interval merge, windowed BY DOCUMENT: a window
    *     opens a new span iff its start exceeds the running max end of
    *     all earlier windows. The sort inside the window is bounded by
    *     one doc's (surviving) window count, never the corpus.
    *
    * Output: (id, span_start, span_tokens) per maximal duplicated span —
    * exactly what a trim/cut pass consumes.
    */
  def dupSpans(docs: DataFrame, id: String, text: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"need n >= 1, got $n (n = 0 would digest empty windows " +
      "and report every document as one full-length duplicate span)")
    require(!Seq("s", "g", "_new", "_span").contains(id),
      s"id column '$id' collides with dupSpans' internal columns")
    val occ = docs.select(col(id),
        posexplode(windowDigests(col(text), n)).as(Seq("s", "g")))
    val dup = occ.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val byDoc = Window.partitionBy(col(id)).orderBy(col("s"))
    val prevEnd = max(col("s") + lit(n))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    occ.join(dup, Seq("g"), "left_semi")
      .withColumn("_new", when(col("s") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("_span", sum(col("_new")).over(byDoc))
      .groupBy(col(id), col("_span"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + lit(n) - min(col("s"))).as("span_tokens"))
      .drop("_span")
  }

  /** Applies [[dupSpans]]: rebuilds each document in normalized token
    * space (lowercased, single-space joined) with every duplicated span
    * CUT — all occurrences go, the aggressive form of suffix-array dedup
    * (boilerplate is noise wherever it repeats; the keep-one-copy policy
    * is a per-span choice this operator deliberately does not make).
    *
    * The span list joins back per document (id-keyed shuffle, spans ≪
    * corpus) and the cut itself is a narrow per-row fold: token i
    * survives iff no span covers it. Documents with nothing duplicated
    * pass through intact; a fully-covered document becomes empty (0
    * tokens, md5 of "") rather than disappearing — the caller decides
    * whether to drop empties.
    *
    * Output: (id, kept_tokens, cleaned_md5) — the digest form keeps the
    * cross-engine compare exact; callers wanting the text itself take
    * [[dupSpans]] and cut inline with the same fold.
    */
  def stripDupSpans(docs: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val spans = dupSpans(docs, id, text, n)
      .groupBy(col(id))
      .agg(collect_list(struct(col("span_start"), col("span_tokens"))).as("_ds_spans"))
    docs.join(spans, Seq(id), "left")
      .withColumn("_ds_toks", split(lower(col(text)), "\\s+"))
      .withColumn("_ds_kept",
        filter(
          transform(sequence(lit(0), size(col("_ds_toks")) - 1),
            i => struct(i.as("p"), element_at(col("_ds_toks"), i + 1).as("t"))),
          s => !coalesce( // docs without spans joined NULL → keep everything
            exists(col("_ds_spans"),
              sp => s.getField("p") >= sp.getField("span_start") &&
                s.getField("p") < sp.getField("span_start") + sp.getField("span_tokens")),
            lit(false))))
      .select(col(id),
        size(col("_ds_kept")).cast("long").as("kept_tokens"),
        md5(array_join(transform(col("_ds_kept"), _.getField("t")), " ")).as("cleaned_md5"))
  }

  /** Line-level exact dedup across the corpus — the middle granularity
    * between whole-document [[exact]] and token-window [[dupSpans]]: split
    * every document on a literal separator, keep only the FIRST corpus-wide
    * occurrence of each non-blank line (ordered by (id, position) — a
    * total, engine-portable order), and rebuild documents from their
    * surviving lines. Boilerplate that repeats across pages (nav bars,
    * footers, license headers) disappears while each copy's first host
    * keeps it. Blank/whitespace-only lines are structural and never
    * compete.
    *
    * Scale shape: narrow split+posexplode → ONE digest-keyed partial agg
    * (min (id, pos) per line md5 — the shuffle carries 16-byte digests,
    * not line text) → digest equi-join back → per-doc rebuild agg. Linear
    * in total lines, never doc × doc; the per-doc `collect_list` buffers
    * one document's lines (the [[graft.operators.Corpus]] packChunks
    * bound).
    *
    * Output: (id, n_lines, n_kept, text_dedup) for every input document —
    * a doc whose every line lost rebuilds to ''.
    */
  def lineDedup(docs: DataFrame, id: String, text: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "need a non-empty line separator")
    val lit_sep = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(id),
      posexplode(split(col(text), lit_sep)).as(Seq("pos", "line")))
    val first = lines.filter(trim(col("line")) =!= "")
      .groupBy(md5(col("line")).as("_h"))
      .agg(min(struct(col(id).as("fid"), col("pos").as("fpos"))).as("_first"))
    val kept = lines.withColumn("_h", md5(col("line")))
      .join(first, Seq("_h"), "left")
      .filter(trim(col("line")) === "" ||
        (col("_first.fid") === col(id) && col("_first.fpos") === col("pos")))
    val rebuilt = kept.groupBy(col(id)).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          _.getField("line")), sep).as("text_dedup"))
    docs.select(col(id), size(split(col(text), lit_sep)).as("n_lines"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Edit-distance near-identical key pairs — the ENTITY-RESOLUTION dedup
    * modality (typo-level variants of short keys: names, titles, URLs,
    * product labels) that the token-set operators above are blind to
    * (one character edit barely moves Jaccard on characters and not at
    * all on word shingles). EXACT: every distinct-key pair within
    * Levenshtein `maxDist` is returned, none invented — candidates come
    * from one of two public filters, both verified with the codegen'd
    * `levenshtein`, dispatched on `maxDist`:
    *
    *  - `maxDist ≤ 2` → DELETION NEIGHBORHOODS ([[fuzzyPairsDeletes]],
    *    FastSS / SymSpell): join strings on their ≤ k-deletion variants.
    *    Far tighter buckets than any gram filter on repetitive-alphabet
    *    keys (the zero-padded-id corpus: 1.5M candidates vs 10.4M for
    *    the banded prefix filter at sf0.1 — 33 → 4 s end-to-end), at the
    *    cost of ~(len+1)^k variants per string, which is only viable for
    *    short keys and small k.
    *  - `maxDist ≥ 3` → the q-gram PREFIX FILTER ([[fuzzyPairsPrefix]],
    *    Chaudhuri-Ganti-Kaushik SIGMOD'06 / Xiao et al. Ed-Join), whose
    *    index size is linear in k (k·q+1 rows per string).
    *
    * Output: (name_a, name_b, dist), name_a < name_b, one row per
    * distinct-string pair with dist ≤ maxDist. `q` feeds the prefix
    * path only.
    */
  def fuzzyKeyPairs(df: DataFrame, key: String, maxDist: Int,
      q: Int = 2): DataFrame = {
    require(maxDist >= 1, s"need maxDist >= 1, got $maxDist")
    require(q >= 1, s"need q >= 1, got $q")
    if (maxDist <= 2) fuzzyPairsDeletes(df, key, maxDist)
    else fuzzyPairsPrefix(df, key, maxDist, q)
  }

  /** Deletion-neighborhood candidate filter (FastSS, Bocek et al. 2007;
    * SymSpell — all public): two strings within edit distance k share a
    * common string reachable from BOTH by ≤ k character deletions. Proof:
    * fix an optimal alignment; deleting from `s` its substituted/deleted
    * characters and from `t` its substituted/inserted characters (≤ k
    * each) leaves both at the alignment's common subsequence. So joining
    * every string's ≤ k-deletion variant set against itself catches every
    * true pair; `levenshtein` then discards the false positives (shared
    * variant but distance > k, e.g. "ab"/"ba" share "a" at k=1).
    *
    * Scale shape: runs on DISTINCT keys (the entity vocabulary); variants
    * hash to 8 bytes before the self-join, so the shuffle carries
    * ~(len+1)^k compact rows per string — and the variant buckets are
    * near-unique even on corpora where every string shares every gram
    * (the "Customer#00000…" pathology that defeats gram filters).
    * Candidates dedup as hashed-id pairs BEFORE the verify (measured 3×:
    * the duplicate factor of the variant join is the shared-variant
    * count, and levenshtein inside the attach join re-runs per
    * duplicate); names re-attach via a size-gated broadcast. The empty
    * string is its own single variant, so zero-length and sub-q keys
    * need no special pool here.
    */
  private[graft] def fuzzyPairsDeletes(df: DataFrame, key: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"deletion neighborhoods need 1 <= maxDist <= 2, got $maxDist")
    val names = df.select(col(key).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("len", length(col("name")))
    // NOT checkpointed, although the variant self-join executes the
    // vocabulary distinct on both sides (unlike fuzzyPairsPrefix, which
    // shares its names frame three ways): measured r14 back-to-back
    // min_of_2, checkpointing read the family q_fuzzy_entities/pairs/
    // resolve 8.09 → 9.77 s at sf0.1 (the LogicalRDD's unknown stats
    // demote the static broadcast variant join) against only
    // 11.37 → 10.63 one decade up at the 10× replica — the local loss
    // outweighs the marginal at-scale win
    // one deletion round; i = 0 deletes nothing (substring(v, 1, -1) = ""
    // prefix + the whole string), so iterating k rounds yields the full
    // <= k-deletion closure including the string itself
    def delOnce(arr: String): String =
      s"flatten(transform($arr, v -> transform(sequence(0, length(v)), " +
        "i -> concat(substring(v, 1, i-1), substring(v, i+1, length(v)-i)))))"
    val varsExpr = (1 to maxDist).foldLeft("array(name)")((a, _) => delOnce(a))
    val vars = names
      .select(portableHash64(col("name")).as("hid"), col("len"),
        explode(expr(s"array_distinct($varsExpr)")).as("v"))
      .select(portableHash64(col("v")).as("vh"), col("hid"), col("len"))
    val cand = vars.select(col("vh"), col("hid").as("ha"), col("len").as("la"))
      .join(vars.select(col("vh"), col("hid").as("hb"), col("len").as("lb")),
        Seq("vh"))
      .filter(col("ha") < col("hb") &&
        abs(col("la") - col("lb")) <= maxDist)
      .select("ha", "hb").distinct()
    attachAndVerify(df, key, cand, maxDist)
  }

  /** q-gram prefix candidate filter (Chaudhuri-Ganti-Kaushik SIGMOD'06 /
    * Xiao et al. Ed-Join, all-public) — the `maxDist ≥ 3` path, where
    * deletion neighborhoods blow up combinatorially but the prefix index
    * stays at k·q+1 rows per string.
    *
    * Why it is complete (Ed-Join's location-aware prefix filter): an
    * optimal ≤ k-edit alignment preserves all but ≤ k·q of each side's
    * positional gram INSTANCES, preserved instances are gram-equal with
    * positions within k, and the alignment is monotone, so same-gram
    * preserved instances pair up in positional order. Order every
    * instance by (global gram frequency asc, gram, pos-within-string)
    * and index each string's k·q+1 FIRST instances: take g* = the
    * smallest gram with a preserved pair, and each side's EARLIEST
    * preserved g*-instance — every instance ranked before it is
    * destroyed (≤ k·q exist), so it sits inside the prefix, and by
    * monotonicity the two earliest preserved g*-instances are partners
    * of EACH OTHER. Hence every true pair collides on (gram, position
    * band). Strings too short to own k·q+1 grams (length ≤ q·(k+1)-1)
    * can be within distance k while sharing NO gram; they route through
    * an all-pairs SHORT POOL against the length band |len diff| ≤ k
    * (alphabet-bounded: there are only so many strings that short).
    *
    * Scale shape: runs on DISTINCT key strings; the prefix index carries
    * k·q+1 rows per string regardless of how common its grams are — the
    * hot-gram fanout a plain gram-inventory join suffers is cut to the
    * RAREST grams — and the candidate join key is (gram, ⌊pos/(k+1)⌋)
    * with one side replicated to the two neighbor bands, so instances of
    * one gram at DISTANT positions never pair at all. Candidates dedup
    * as 8-byte hashed-id pairs BEFORE the verify (the banded join's
    * duplicate factor is small, but the verify's levenshtein rides the
    * attach-join condition, so un-deduped candidates re-run it per
    * duplicate — measured 3× on the customer corpus); no cross join
    * anywhere but the bounded short pool.
    */
  private[graft] def fuzzyPairsPrefix(df: DataFrame, key: String,
      maxDist: Int, q: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prefixLen = maxDist * q + 1
    val shortMax = q * (maxDist + 1) - 1 // longest string owning <= kq grams
    val bw = maxDist + 1 // position band width: |Δpos| ≤ k ⇒ bands differ ≤ 1
    val names = df.select(col(key).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("len", length(col("name")))
      .transform(Materialize(_)) // consumed by the gram path + the short pool
    // positional q-gram instances
    val bag = names
      .select(col("name"), col("len"),
        posexplode(expr(
          s"transform(sequence(1, greatest(len - ${q - 1}, 0)), i -> substring(name, i, $q))"))
          .as(Seq("pos", "g")))
    // global rarity order over grams — vocabulary-of-grams sized
    val gdf = bag.groupBy("g").agg(count(lit(1)).as("gdf"))
    val pref = bag.join(gdf, Seq("g"))
      .withColumn("r", row_number().over(
        Window.partitionBy("name").orderBy(col("gdf"), col("g"), col("pos"))))
      .filter(col("r") <= prefixLen)
      .select(col("g"), col("pos"),
        portableHash64(col("name")).as("hid"), col("len"))
      .transform(Materialize(_)) // both sides of the candidate self-join
    // banded candidate join: probe side replicated to its band ± 1, so a
    // matching instance pair (|Δpos| ≤ k) lands in exactly one band key
    val probe = pref.select(col("g"), explode(array(
        (-1 to 1).map(o => floor(col("pos") / bw) + o): _*)).as("band"),
      col("pos").as("pa"), col("hid").as("ha"), col("len").as("la"))
    val build = pref.select(col("g"), floor(col("pos") / bw).as("band"),
      col("pos").as("pb"), col("hid").as("hb"), col("len").as("lb"))
    val candGram = probe.join(build, Seq("g", "band"))
      .filter(col("ha") < col("hb") &&
        abs(col("pa") - col("pb")) <= maxDist &&
        abs(col("la") - col("lb")) <= maxDist)
      .select("ha", "hb")
    // short pool: strings that may share zero grams with a true partner
    val shorts = names.filter(col("len") <= shortMax)
    val candShort = broadcast(
        shorts.select(portableHash64(col("name")).as("_sa"), col("len").as("la")))
      .join(names.select(portableHash64(col("name")).as("_sb"),
          col("len").as("lb")),
        col("_sa") =!= col("_sb") &&
          abs(col("la") - col("lb")) <= maxDist)
      .select(least(col("_sa"), col("_sb")).as("ha"),
        greatest(col("_sa"), col("_sb")).as("hb"))
    attachAndVerify(df, key, candGram.union(candShort).distinct(), maxDist)
  }

  /** Shared tail of the fuzzy-pair paths: re-attach names to deduped
    * hashed-id candidate pairs and verify with the codegen'd
    * `levenshtein`. The attach lookup derives from the SOURCE frame, not
    * a checkpoint: LogicalRDD stats are unknown (defaultSizeInBytes), so
    * a checkpoint-derived side could never pass the broadcastIfSmall
    * gate. The final distinct collapses 60-bit hash-collision artifacts
    * (the attach join fans a collided id out to each colliding name).
    */
  private def attachAndVerify(df: DataFrame, key: String, cand: DataFrame,
      maxDist: Int): DataFrame = {
    val lookup = df.select(col(key).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
      .select(portableHash64(col("name")).as("hid"), col("name"))
    cand
      .join(graft.plans.Hints.broadcastIfSmall(
        lookup.withColumnRenamed("name", "_na")),
        col("ha") === col("hid")).drop("hid")
      .join(graft.plans.Hints.broadcastIfSmall(
        lookup.withColumnRenamed("name", "_nb")),
        col("hb") === col("hid")).drop("hid")
      .select(least(col("_na"), col("_nb")).as("name_a"),
        greatest(col("_na"), col("_nb")).as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** EXACT Jaccard threshold self-join over word-shingle sets — the
    * guaranteed-complete companion to the LSH path ([[nearDupPairs]]):
    * banded MinHash can MISS a qualifying pair (recall is probabilistic
    * in the band parameters); the AllPairs PREFIX FILTER (Bayardo et al.
    * WWW'07 / Chaudhuri et al. SSJoin — all public) cannot. Every
    * distinct-document pair with `J(A,B) ≥ minNum/minDen` is returned,
    * none invented.
    *
    * Why it is complete: J(A,B) ≥ τ implies |A∩B| ≥ τ·|A∪B| ≥ τ·|A|, so
    * the shared-gram count is ≥ ⌈τ·s_a⌉. Order all gram fingerprints by
    * a global total order (document frequency ascending, fingerprint
    * tie-break) and index each document's p = s − ⌈τ·s⌉ + 1 SMALLEST
    * grams. Let x be the smallest SHARED gram: A holds at most
    * s_a − ⌈τ·s_a⌉ = p_a − 1 grams strictly below x (none of them
    * shared, and all shared grams are ≥ x), so x sits inside A's prefix
    * — and symmetrically inside B's. Every true pair therefore collides
    * on a (gram, gram) prefix join; a length filter
    * (minNum·s_max ≤ minDen·s_min, since J ≥ τ forces
    * s_min/s_max ≥ τ) prunes the rest before verification.
    *
    * Verification is EXACT set arithmetic, not a second heuristic: each
    * doc's full sorted fingerprint array rides a size-gated broadcast
    * onto the candidate pairs, `array_intersect` counts the overlap, and
    * the integer cross-multiplied predicate
    * `minDen·|A∩B| ≥ minNum·(s_a + s_b − |A∩B|)` decides — no floats,
    * oracle-replayable. Scale shape: everything runs on 8-byte gram
    * fingerprints; the prefix index carries s−⌈τs⌉+1 rows per doc (a
    * 0.8-threshold join indexes ~20% of each doc's grams); candidate
    * dedup happens BEFORE the array attach (the fuzzy-pairs lesson:
    * verify work rides a join condition and re-runs per duplicate).
    * Output: (id_a, id_b, n_common, n_a, n_b), id_a < id_b.
    */
  def jaccardPairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, minNum: Int, minDen: Int): DataFrame = {
    require(minNum >= 1 && minDen >= minNum,
      s"need 0 < minNum/minDen <= 1, got $minNum/$minDen")
    // distinct gram fingerprints per doc + set size
    // materialized once: four consumers (sizes, df inventory, prefix
    // index, verify arrays) would otherwise each re-run the explode +
    // distinct shuffle
    val ex = Materialize(hashedGrams(docs, id, text, shingleN))
    val gdf = ex.groupBy("_jpG").agg(count(lit(1)).as("_jpDf"))
    val pref = prefixRanked(ex, gdf, minNum, minDen)
      .transform(Materialize(_)) // both sides of the candidate self-join
    jaccardSelfJoinVerify(pref, fingerprintSets(ex), minNum, minDen)
  }

  /** The (doc, gram-fingerprint) distinct pairs every exact-Jaccard path
    * starts from — NOT materialized (callers checkpoint at the sharing
    * boundary they need).
    */
  private def hashedGrams(docs: DataFrame, id: String, text: String,
      shingleN: Int): DataFrame = docs
    .select(col(id).cast("long").as("_jpD"),
      explode(shingles(col(text), shingleN)).as("_jpG0"))
    .select(col("_jpD"), portableHash64(col("_jpG0")).as("_jpG"))
    .distinct()

  /** Prefix index over a gram frame: the s − ⌈τ·s⌉ + 1 globally rarest
    * grams per doc, with set size and rarity rank from ONE doc-partitioned
    * exchange (two Window ops, same partitioning) instead of a separate
    * size-join shuffle of the exploded frame. `gdf` must cover every gram
    * of `ex` (the self-join case: gdf derives from ex itself) — the
    * frozen-order against-path keeps its own left-join + df-0 variant.
    */
  private def prefixRanked(ex: DataFrame, gdf: DataFrame,
      minNum: Int, minDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("_jpD")
    ex.join(gdf, Seq("_jpG"))
      .withColumn("_jpS", count(lit(1)).over(byDoc))
      .withColumn("_jpR", row_number().over(
        byDoc.orderBy(col("_jpDf"), col("_jpG"))))
      .filter(col("_jpR") <=
        col("_jpS") - expr(s"(_jpS * $minNum + ${minDen - 1}) div $minDen") + 1)
      .select(col("_jpG"), col("_jpD"), col("_jpS"), col("_jpR"))
  }

  /** Full sorted fingerprint array per doc — the exact-verify side table. */
  private def fingerprintSets(ex: DataFrame): DataFrame =
    ex.groupBy("_jpD")
      .agg(array_sort(collect_list(col("_jpG"))).as("_jpArr"))

  /** Candidate self-join + exact verify over a prefix index (the tail of
    * [[jaccardPairs]], shared with the precomputed-index overload).
    */
  private def jaccardSelfJoinVerify(pref: DataFrame, sets: DataFrame,
      minNum: Int, minDen: Int): DataFrame = {
    // PPJoin positional filter (Xiao et al. WWW'08, public): for the pair's
    // SMALLEST shared gram x, every shared gram ranks >= rank(x) in both
    // docs' rarity order, so overlap <= 1 + min(s_a - r_a(x), s_b - r_b(x));
    // a qualifying pair needs overlap >= ceil(minNum*(s_a+s_b)/(minNum+minDen))
    // (J >= n/d <=> d*c >= n*(s_a+s_b-c)). Row-level is safe: the witness
    // row x always passes, so no qualifying pair is lost — measured 31M -> 12.5M
    // candidates (and 161 -> 41 s verify) on the 100x corpus at tau = 1/2.
    val cand = pref.select(col("_jpG"), col("_jpD").as("_jpA"), col("_jpS").as("_jpSa"),
        col("_jpR").as("_jpRa"))
      .join(pref.select(col("_jpG"), col("_jpD").as("_jpB"), col("_jpS").as("_jpSb"),
        col("_jpR").as("_jpRb")), Seq("_jpG"))
      .filter(col("_jpA") < col("_jpB") &&
        lit(minNum) * greatest(col("_jpSa"), col("_jpSb")) <=
          lit(minDen) * least(col("_jpSa"), col("_jpSb")) &&
        (lit(1) + least(col("_jpSa") - col("_jpRa"), col("_jpSb") - col("_jpRb"))) *
          lit(minNum + minDen) >= lit(minNum) * (col("_jpSa") + col("_jpSb")))
      .select(col("_jpA"), col("_jpB"))
      .distinct()
    // exact verify: full sorted fingerprint arrays attach per side
    cand
      .join(graft.plans.Hints.broadcastIfSmall(
        sets.select(col("_jpD").as("_jpA"), col("_jpArr").as("_jpAa"))), Seq("_jpA"))
      .join(graft.plans.Hints.broadcastIfSmall(
        sets.select(col("_jpD").as("_jpB"), col("_jpArr").as("_jpAb"))), Seq("_jpB"))
      .select(col("_jpA").as("id_a"), col("_jpB").as("id_b"),
        size(array_intersect(col("_jpAa"), col("_jpAb"))).cast("long").as("n_common"),
        size(col("_jpAa")).cast("long").as("n_a"),
        size(col("_jpAb")).cast("long").as("n_b"))
      .filter(lit(minDen) * col("n_common") >=
        lit(minNum) * (col("n_a") + col("n_b") - col("n_common")))
  }

  /** The standing corpus's exact-Jaccard inventory, precomputed ONCE and
    * shared between a self-join ([[jaccardPairs]] overload) and an
    * against-join ([[jaccardPairsAgainst]] overload) — the r13 verdict's
    * top remaining cost: q_icp_attach tokenized+hashed the standing
    * corpus twice, once per operator. All four artifacts are what a
    * production pipeline persists per corpus release anyway (gram frame,
    * df inventory, prefix index, fingerprint arrays); here they ride
    * [[graft.plans.Materialize]] checkpoints so each is computed exactly
    * once however many consumers read it. Build via [[jaccardIndex]].
    */
  final case class JaccardIndex private[operators] (
      grams: DataFrame, gdf: DataFrame, pref: DataFrame, sets: DataFrame,
      minNum: Int, minDen: Int)

  def jaccardIndex(docs: DataFrame, id: String, text: String,
      shingleN: Int, minNum: Int, minDen: Int): JaccardIndex = {
    require(minNum >= 1 && minDen >= minNum,
      s"need 0 < minNum/minDen <= 1, got $minNum/$minDen")
    val ex = Materialize(hashedGrams(docs, id, text, shingleN))
    val gdf = ex.groupBy("_jpG").agg(count(lit(1)).as("_jpDf"))
      .transform(Materialize(_)) // consumed by pref here + the arrivals' prefix
    val pref = prefixRanked(ex, gdf, minNum, minDen)
      .transform(Materialize(_)) // self-join sides + the against candidate join
    val sets = fingerprintSets(ex)
      .transform(Materialize(_)) // self verify (×2) + against verify
    JaccardIndex(ex, gdf, pref, sets, minNum, minDen)
  }

  /** [[jaccardPairs]] over a precomputed [[JaccardIndex]] — identical
    * output (the index holds the same four frames the direct form
    * derives), zero corpus passes beyond the index build.
    */
  def jaccardPairs(index: JaccardIndex): DataFrame =
    jaccardSelfJoinVerify(index.pref, index.sets, index.minNum, index.minDen)

  /** Corpus shingle-fingerprint document frequencies — the frozen rarity
    * artifact the at-ingest exact-Jaccard matcher
    * ([[graft.streaming.StreamingDedup.jaccardMatchAtIngest]]) orders
    * prefixes by. Output: (gram, df). Production head-caps this to the
    * most frequent grams (absent grams tie at df 0, fingerprint
    * tie-break — still one consistent total order, so prefix-filter
    * completeness is unaffected).
    */
  def shingleDfTable(docs: DataFrame, id: String, text: String,
      shingleN: Int): DataFrame = docs
    .select(col(id).cast("long").as("_sdD"),
      explode(shingles(col(text), shingleN)).as("_sdG0"))
    .select(col("_sdD"), portableHash64(col("_sdG0")).as("gram"))
    .distinct()
    .groupBy("gram").agg(count(lit(1)).as("df"))

  /** Incremental (new-batch-vs-corpus) exact Jaccard join: every
    * (new, old) pair with `J ≥ minNum/minDen` — the daily-ingest twin of
    * [[jaccardPairs]], completing the family symmetry of
    * [[containmentPairsAgainst]] / [[graft.operators.Search
    * .cosinePairsAgainst]]. Directed new→old only.
    *
    * The global gram order is the CORPUS rarity (corpus df ascending,
    * fingerprint tie-break) — the standing inventory a production
    * pipeline persists per release. Grams the corpus has never seen take
    * df = 0, the rarest possible: they sort to the FRONT of a new doc's
    * prefix. Completeness is unaffected — the AllPairs witness argument
    * only needs each doc to hold at most `s − ⌈τs⌉` grams below the
    * smallest shared gram, which holds under ANY consistent total order
    * regardless of what the non-shared grams are (the same
    * frozen-order-stays-complete reasoning as
    * [[graft.streaming.StreamingDedup.fuzzyMatchAtIngest]]). The PPJoin
    * positional filter of [[jaccardPairs]] applies verbatim: both ranks
    * live in the same global order, so
    * `overlap ≤ 1 + min(s_n − r_n, s_o − r_o)` at the witness row.
    *
    * Scale shape: corpus shuffles once into inventory (df table, prefix
    * index, fingerprint arrays — persist per release); matching a batch
    * is batch-prefix × corpus-prefix equi-join + the array verify on
    * surviving candidates. Output: (new_id, old_id, n_common, n_new,
    * n_old).
    */
  def jaccardPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
      id: String, text: String,
      shingleN: Int, minNum: Int, minDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minNum >= 1 && minDen >= minNum,
      s"need 0 < minNum/minDen <= 1, got $minNum/$minDen")
    def grams(docs: DataFrame): DataFrame = docs
      .select(col(id).cast("long").as("_jpD"),
        explode(shingles(col(text), shingleN)).as("_jpG0"))
      .select(col("_jpD"), portableHash64(col("_jpG0")).as("_jpG"))
      .distinct()
      .transform(Materialize(_))
    val exO = grams(corpus)
    val exN = grams(newDocs)
    val gdf = exO.groupBy("_jpG").agg(count(lit(1)).as("_jpDf"))
    val byDoc = Window.partitionBy("_jpD")
    def pref(e: DataFrame): DataFrame = e.join(gdf, Seq("_jpG"), "left")
      .withColumn("_jpDfz", coalesce(col("_jpDf"), lit(0L)))
      .withColumn("_jpS", count(lit(1)).over(byDoc))
      .withColumn("_jpR", row_number().over(
        byDoc.orderBy(col("_jpDfz"), col("_jpG"))))
      .filter(col("_jpR") <=
        col("_jpS") - expr(s"(_jpS * $minNum + ${minDen - 1}) div $minDen") + 1)
      .select(col("_jpG"), col("_jpD"), col("_jpS"), col("_jpR"))
    val cand = pref(exN)
      .select(col("_jpG"), col("_jpD").as("_jpA"), col("_jpS").as("_jpSa"),
        col("_jpR").as("_jpRa"))
      .join(pref(exO).select(col("_jpG"), col("_jpD").as("_jpB"),
        col("_jpS").as("_jpSb"), col("_jpR").as("_jpRb")), Seq("_jpG"))
      .filter(
        lit(minNum) * greatest(col("_jpSa"), col("_jpSb")) <=
          lit(minDen) * least(col("_jpSa"), col("_jpSb")) &&
        (lit(1) + least(col("_jpSa") - col("_jpRa"), col("_jpSb") - col("_jpRb"))) *
          lit(minNum + minDen) >= lit(minNum) * (col("_jpSa") + col("_jpSb")))
      .select(col("_jpA"), col("_jpB"))
      .distinct()
    def sets(e: DataFrame): DataFrame = e.groupBy("_jpD")
      .agg(array_sort(collect_list(col("_jpG"))).as("_jpArr"))
    cand
      .join(sets(exN).select(col("_jpD").as("_jpA"), col("_jpArr").as("_jpAa")),
        Seq("_jpA"))
      .join(sets(exO).select(col("_jpD").as("_jpB"), col("_jpArr").as("_jpAb")),
        Seq("_jpB"))
      .select(col("_jpA").as("new_id"), col("_jpB").as("old_id"),
        size(array_intersect(col("_jpAa"), col("_jpAb"))).cast("long").as("n_common"),
        size(col("_jpAa")).cast("long").as("n_new"),
        size(col("_jpAb")).cast("long").as("n_old"))
      .filter(lit(minDen) * col("n_common") >=
        lit(minNum) * (col("n_new") + col("n_old") - col("n_common")))
  }

  /** [[jaccardPairsAgainst]] with the CORPUS side read from a precomputed
    * [[JaccardIndex]] — the standing corpus is tokenized, hashed, df-
    * counted, prefix-indexed and array-aggregated ZERO times here (all
    * ride the index's checkpoints). Output and semantics are identical
    * to the two-frame form: the corpus prefix under the inner-join
    * (df, gram) order equals the left-join (coalesce(df,0), gram) order
    * because every corpus gram is in the corpus df table; arriving docs
    * still rank unseen grams at df 0 (the frozen-order completeness
    * argument on the two-frame form).
    */
  def jaccardPairsAgainst(newDocs: DataFrame, index: JaccardIndex,
      id: String, text: String, shingleN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val minNum = index.minNum
    val minDen = index.minDen
    val exN = Materialize(hashedGrams(newDocs, id, text, shingleN))
    val byDoc = Window.partitionBy("_jpD")
    val prefN = exN.join(index.gdf, Seq("_jpG"), "left")
      .withColumn("_jpDfz", coalesce(col("_jpDf"), lit(0L)))
      .withColumn("_jpS", count(lit(1)).over(byDoc))
      .withColumn("_jpR", row_number().over(
        byDoc.orderBy(col("_jpDfz"), col("_jpG"))))
      .filter(col("_jpR") <=
        col("_jpS") - expr(s"(_jpS * $minNum + ${minDen - 1}) div $minDen") + 1)
      .select(col("_jpG"), col("_jpD"), col("_jpS"), col("_jpR"))
    val cand = prefN
      .select(col("_jpG"), col("_jpD").as("_jpA"), col("_jpS").as("_jpSa"),
        col("_jpR").as("_jpRa"))
      .join(index.pref.select(col("_jpG"), col("_jpD").as("_jpB"),
        col("_jpS").as("_jpSb"), col("_jpR").as("_jpRb")), Seq("_jpG"))
      .filter(
        lit(minNum) * greatest(col("_jpSa"), col("_jpSb")) <=
          lit(minDen) * least(col("_jpSa"), col("_jpSb")) &&
        (lit(1) + least(col("_jpSa") - col("_jpRa"), col("_jpSb") - col("_jpRb"))) *
          lit(minNum + minDen) >= lit(minNum) * (col("_jpSa") + col("_jpSb")))
      .select(col("_jpA"), col("_jpB"))
      .distinct()
    cand
      .join(fingerprintSets(exN)
        .select(col("_jpD").as("_jpA"), col("_jpArr").as("_jpAa")), Seq("_jpA"))
      .join(index.sets
        .select(col("_jpD").as("_jpB"), col("_jpArr").as("_jpAb")), Seq("_jpB"))
      .select(col("_jpA").as("new_id"), col("_jpB").as("old_id"),
        size(array_intersect(col("_jpAa"), col("_jpAb"))).cast("long").as("n_common"),
        size(col("_jpAa")).cast("long").as("n_new"),
        size(col("_jpAb")).cast("long").as("n_old"))
      .filter(lit(minDen) * col("n_common") >=
        lit(minNum) * (col("n_new") + col("n_old") - col("n_common")))
  }

  /** Entity canonicalization — the apply half of [[fuzzyKeyPairs]]:
    * typo-variant pairs close into connected components
    * ([[resolveComponentsStar]] over 60-bit [[portableHash64]] name ids —
    * large-star/small-star, the same machinery as document dedup) and
    * every name maps to its component's lexicographically smallest
    * member. "Normalize this column's spelling variants" is then one
    * join against this table. Names with no fuzzy partner are their own
    * canonical. Component membership is label-domain-agnostic, so
    * resolving on hashed ids and re-deriving the canonical as min(name)
    * per component is exact (and the oracle replays the identical
    * hashes). Output: (name, canonical_name).
    */
  def resolveFuzzyEntities(df: DataFrame, key: String, maxDist: Int,
      q: Int = 2): DataFrame = {
    val names = df.select(col(key).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("_feH", portableHash64(col("name")))
      .transform(Materialize(_)) // pairs derive from it; labeling joins back
    val pairs = fuzzyKeyPairs(names, "name", maxDist, q)
    val comp = resolveComponentsStar(
      pairs.select(portableHash64(col("name_a")).as("a_id"),
        portableHash64(col("name_b")).as("b_id")),
      "a_id", "b_id")
    val labeled = names
      .join(comp.withColumnRenamed("node", "_feH"), Seq("_feH"), "left")
      .select(col("name"),
        coalesce(col("canonical"), col("_feH")).as("_feC"))
    labeled
      .join(labeled.groupBy("_feC").agg(min(col("name")).as("canonical_name")),
        Seq("_feC"))
      .select("name", "canonical_name")
  }

  /** The frozen (gram, occurrence) → frequency artifact for ONLINE prefix
    * selection ([[graft.streaming.StreamingDedup.fuzzyMatchAtIngest]]):
    * the same positional q-gram bag [[fuzzyKeyPairs]] ranks, aggregated
    * over a training corpus's distinct keys. The prefix-filter proof
    * needs only a CONSISTENT total order, so a frozen order stays
    * complete as new names arrive (unseen keys order as frequency 0).
    * Output: (g, occ, gdf) — bounded by alphabet^q × max within-string
    * repeats, a vocabulary-sized artifact.
    */
  def gramRarityTable(df: DataFrame, key: String, q: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(q >= 1, s"need q >= 1, got $q")
    df.select(col(key).cast("string").as("name"))
      .filter(col("name").isNotNull).distinct()
      .withColumn("len", length(col("name")))
      .select(col("name"),
        posexplode(expr(
          s"transform(sequence(1, greatest(len - ${q - 1}, 0)), i -> substring(name, i, $q))"))
          .as(Seq("pos", "g")))
      .withColumn("occ",
        row_number().over(Window.partitionBy("name", "g").orderBy("pos")))
      .groupBy("g", "occ").agg(count(lit(1)).as("gdf"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995, the
    * merge/purge method) — the third classic blocking family beside gram
    * inventories ([[fuzzyKeyPairs]]) and deletion neighborhoods
    * ([[fuzzyKeyPairsDeletes]]): records sort once by a blocking key and
    * every pair within `window` positions of the GLOBAL (key, id) order
    * becomes a candidate. Coverage is positional, not lexical — two keys
    * with no shared gram still pair if the sort puts them near each
    * other — and cost is strictly n·(window−1) pairs regardless of how
    * degenerate the key distribution gets (the failure mode that blows
    * up every inventory filter).
    *
    * Distributed exactly, never a single-partition sort: global
    * positions come from [[graft.operators.SuffixArray.denseNumber]]
    * (range exchange + per-partition window + cumulated partition-base
    * broadcast; (key, id) is duplicate-free, so the dense rank IS the
    * row position), then each row fans out to its `window−1` successor
    * positions and one hash equi-join on position attaches the
    * neighbor — correct for any partition-size distribution, including
    * windows that would straddle several range partitions. Shuffle
    * volume is the (window−1)-fold position fanout of (id, key) pairs —
    * output-sized, immune to key skew (the failure mode that blows up
    * gram inventories is irrelevant to a positional join).
    *
    * Output: (id_a, key_a, id_b, key_b) with (key_a, id_a) earlier in
    * the sort order, each global pair exactly once. Verification (edit
    * distance, Jaccard, business rules) is the caller's second stage —
    * SNM is the candidate generator.
    */
  /** Banded-minhash candidate RECALL against exact-Jaccard ground truth —
    * "measure, don't guess" as an operator. LSH recall at a threshold is
    * a formula under uniform-hash assumptions (1 − (1 − j^r)^b) but a
    * MEASUREMENT on a real corpus, whose pair-similarity mass decides
    * what the bands actually miss; tuning (numHashes, bands) from the
    * formula alone is how silent under-deduplication ships. One row:
    * (n_true, n_cand, n_found, recall_ppm) — exact integers, truth from
    * [[jaccardPairs]] (complete by the AllPairs prefix-filter proof),
    * candidates from an ENGINE-PORTABLE minhash (lane i =
    * (h1 + i·h2) mod 2^59 over the md5 halves — the
    * [[graft.functions.Bloom]] double-hash scheme, so the oracle replays
    * the identical bands, misses included; the production generator
    * [[candidatePairs]] speaks xxhash64, which no oracle reproduces).
    *
    * Scale shape: signatures reduce through one partial-agg shuffle
    * (numHashes rows per doc), bands self-join on (band, lane-array)
    * keys, and the report is three bounded counts — nothing output-sized
    * survives past the semi-join.
    */
  def lshRecall(docs: DataFrame, id: String, text: String,
      shingleN: Int = 3, minNum: Int = 1, minDen: Int = 2,
      numHashes: Int = 12, bands: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(numHashes <= 16, "lane arithmetic overflows past i = 15")
    val r = numHashes / bands
    val m = 1L << 59
    // ONE tokenize + shingle + md5 pass shared by the candidate lanes
    // AND the exact-Jaccard truth side (r14, guide §1.2-1): both sides
    // derive from the per-gram md5 — h1/h2 are its two 15-hex halves and
    // the truth fingerprint equals portableHash64 ≡ the h1 half unmodded.
    // Formerly truth re-ran the whole gram pipeline inside jaccardPairs.
    val exM = docs.select(col(id).cast("long").as("doc"),
        explode(shingles(col(text), shingleN)).as("_lrG0"))
      .select(col("doc"), md5(col("_lrG0")).as("_lrM"))
      .transform(Materialize(_))
    val ex = exM
      .select(col("doc"),
        (conv(substring(col("_lrM"), 1, 15), 16, 10).cast("long") % m)
          .as("h1"),
        (conv(substring(col("_lrM"), 16, 15), 16, 10).cast("long") % m)
          .as("h2"))
    val lanes = ex
      .select(col("doc"), col("h1"), col("h2"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("i"))
      .groupBy("doc", "i")
      .agg(min((col("h1") + col("i") * col("h2")) % m).as("lane"))
    val keyed = lanes
      .withColumn("band", expr(s"i div $r"))
      .groupBy("doc", "band")
      .agg(collect_list(struct(col("i"), col("lane"))).as("_lr0"))
      .select(col("doc"), col("band"),
        transform(array_sort(col("_lr0")), _.getField("lane")).as("bucket"))
    val cand = keyed.select(col("band"), col("bucket"), col("doc").as("id_a"))
      .join(keyed.select(col("band"), col("bucket"), col("doc").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // exact truth from the SAME md5 frame (portableHash64(g) is the
    // first 15 hex chars of md5(g) — the identical expression)
    val exH = exM.select(col("doc").as("_jpD"),
        conv(substring(col("_lrM"), 1, 15), 16, 10).cast("long").as("_jpG"))
      .distinct()
      .transform(Materialize(_))
    val gdf = exH.groupBy("_jpG").agg(count(lit(1)).as("_jpDf"))
    val pref = Materialize(prefixRanked(exH, gdf, minNum, minDen))
    val truth = jaccardSelfJoinVerify(pref, fingerprintSets(exH),
        minNum, minDen)
      .select("id_a", "id_b")
    truth.withColumn("_lrT", lit(1L))
      .join(cand.withColumn("_lrC", lit(1L)), Seq("id_a", "id_b"),
        "full_outer")
      .agg(
        coalesce(sum(col("_lrT")), lit(0L)).as("n_true"),
        coalesce(sum(col("_lrC")), lit(0L)).as("n_cand"),
        coalesce(sum(col("_lrT") * col("_lrC")), lit(0L)).as("n_found"))
      .select(col("n_true"), col("n_cand"), col("n_found"),
        expr("n_found * 1000000 div greatest(n_true, 1)").as("recall_ppm"))
  }

  def sortedNeighborhoodPairs(df: DataFrame, id: String, key: String,
      window: Int, buckets: Int = 0): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    val spark = df.sparkSession
    val base = df.select(col(id).cast("long").as("_snId"),
      col(key).cast("string").as("_snK"))
      .filter(col("_snK").isNotNull)
    val b =
      if (buckets > 0) buckets
      else spark.sparkContext.defaultParallelism
    val pos = graft.operators.SuffixArray.denseNumber(
      base, Seq(col("_snK"), col("_snId")), "_snPos", b)
    val probes = pos.select(col("_snId").as("id_a"),
        col("_snK").as("key_a"),
        explode(sequence(col("_snPos") + 1,
          col("_snPos") + lit(window - 1))).as("_snPos"))
    probes.join(pos, Seq("_snPos"))
      .select(col("id_a"), col("key_a"),
        col("_snId").as("id_b"), col("_snK").as("key_b"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`), designed for a 100 TB corpus:
  *
  *  - brute-force cosine top-k: broadcast the (small) query set, stream the
  *    corpus once, keep a bounded top-k per query via two-phase partial
  *    aggregation — no global sort, no per-query corpus materialization
  *  - LSH-bucketed ANN: random-hyperplane signatures (L tables × b bits),
  *    candidates only from matching buckets, exact cosine re-rank — the
  *    corpus-side work is one narrow projection + an equi-join per table
  *
  * The scoring loops run on native codegen'd expressions (`cosine_sim`,
  * `rhp_buckets`, `topk_agg` — [[graft.GraftExtensions]]) with the
  * composable `functions._` forms kept as dependency-free references;
  * both produce identical bits (fixed double fold order, no UDFs).
  * Hyperplanes are pseudo-random ±1 vectors seeded with MurmurHash3, so
  * every executor derives identical planes from code alone.
  */
object Similarity {

  /** Dot product with per-element double widening, left-to-right fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composable (interpreted higher-order-function) cosine. Bit-identical
    * to [[cosineSim]]; kept as the dependency-free form and the parity
    * check for the native expression.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine ([[graft.functions.CosineSimilarity]]) — the
    * form the scoring loops use. Requires the function registered
    * ([[graft.GraftExtensions]]); same bits as [[cosine]].
    */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Exact top-k per key without a window sort: one hash aggregate with the
    * bounded-heap [[graft.functions.BoundedTopK]] — the buffer never holds
    * more than k rows during map-side update OR reduce-side merge, and the
    * shuffle carries at most k rows per key per map partition. (The
    * `collect_list`-then-slice formulation would buffer every row of a
    * (key, partition) group before truncating — a hot key can hold a whole
    * partition in memory; a window `row_number` would sort entire
    * partitions.)
    *
    * `ordStruct` must ascending-sort into the desired order (e.g.
    * `struct(-score, id)` for score-descending with id tiebreak).
    */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], ordStruct: Column, k: Int): DataFrame =
    df.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(call_function("topk_agg", ordStruct, lit(k)).as("topk"))

  /** [[topKPerKey]] keyed by `query_id` plus the shared ranking epilogue:
    * output (query_id, rank, neighbor_id), rank 1..k in `ordStruct`'s
    * ascending order. `ordStruct` must carry the neighbor id as field
    * `nid` (it doubles as the final tie-break).
    */
  private def rankedNeighbors(scored: DataFrame, ordStruct: Column, k: Int): DataFrame =
    topKPerKey(scored, Seq("query_id"), ordStruct, k)
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).as("rank"), col("col.nid").as("neighbor_id"))

  /** Per-key mean of `array<float>` vectors: explode to (keys, pos, x),
    * average per position, reassemble in position order. Used for every
    * centroid refinement (IVF cells, PQ subspace codebooks).
    */
  private def meanVectors(assigned: DataFrame, keys: Seq[String],
      vecCol: String, outCol: String): DataFrame =
    assigned
      .select((keys.map(col) :+ posexplode(col(vecCol))).toIndexedSeq: _*)
      .groupBy((keys :+ "pos").map(col).toIndexedSeq: _*)
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
      .select((keys.map(col) :+
        transform(col("ps"), p => p.getField("m").cast("float")).as(outCol)).toIndexedSeq: _*)

  /** Brute-force cosine KNN: every corpus row scored against every query
    * (queries broadcast — the O(|Q|·|C|) work streams through the corpus
    * scan with no shuffle), exact top-k per query via [[topKPerKey]].
    *
    * Output: (query_id, rank, neighbor_id), rank 1..k by cosine descending,
    * neighbor id ascending on ties. Self-pairs excluded.
    */
  def bruteForceKnn(
      queries: DataFrame, corpus: DataFrame,
      id: String, emb: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(emb).as("q_emb"))
    val c = corpus.select(col(id).as("neighbor_id"), col(emb).as("c_emb"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosineSim(col("q_emb"), col("c_emb")))
    rankedNeighbors(
      scored.select(col("query_id"), col("score"), col("neighbor_id")),
      struct((-col("score")).as("ns"), col("neighbor_id").as("nid")), k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * k most-cosine-similar corpus vectors whose `label` DIFFERS — the
    * near-misses that make a contrastive loss informative (easy random
    * negatives teach nothing; the standard retrieval/embedding training
    * prep, e.g. DPR/Contriever, all-public). Same plan as
    * [[bruteForceKnn]]: anchors broadcast, the label-mismatch predicate
    * rides the broadcast join (evaluated before any ranking, so the
    * top-k is exact among negatives — no oversample-and-hope), corpus
    * streams with no shuffle, bounded top-k per anchor.
    *
    * Scale shape: exact and linear per anchor batch — mine negatives in
    * anchor batches (the training-loop shape: each batch's anchors
    * against the corpus), or swap the candidate generator for
    * [[ivfKnnWithCentroids]] cells with a k·oversample pool when
    * per-epoch full-corpus mining is needed and a bounded miss rate on
    * label-filtered ranks is acceptable.
    * Output: (query_id, rank, neighbor_id), rank 1..k by cosine
    * descending, neighbor id ascending on ties.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      id: String, emb: String, label: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(emb).as("q_emb"),
      col(label).as("_hnQl"))
    val c = corpus.select(col(id).as("neighbor_id"), col(emb).as("c_emb"),
      col(label).as("_hnCl"))
    val scored = c.join(broadcast(q),
        col("neighbor_id") =!= col("query_id") && col("_hnCl") =!= col("_hnQl"))
      .withColumn("score", cosineSim(col("q_emb"), col("c_emb")))
    rankedNeighbors(
      scored.select(col("query_id"), col("score"), col("neighbor_id")),
      struct((-col("score")).as("ns"), col("neighbor_id").as("nid")), k)
  }

  /** All (table, bucket) keys for a vector, as rows to explode. Bucket
    * computation is the native one-pass expression
    * ([[graft.functions.RandomHyperplaneBuckets]]); the transform that
    * pairs each bucket with its table index runs over a `tables`-element
    * array — negligible next to the projection work it wraps.
    */
  def lshKeys(emb: Column, tables: Int = 8, bits: Int = 8, dim: Int = 64): Column =
    transform(
      call_function("rhp_buckets", emb, lit(tables), lit(bits), lit(dim)),
      (bucket, idx) => struct(idx.as("tbl"), bucket.as("bucket")))

  /** LSH-bucketed ANN: candidates share ≥1 (table, bucket), re-ranked by
    * exact cosine, top-k per query. Same output shape as [[bruteForceKnn]]
    * but approximate — a neighbor landing in no common bucket is missed
    * (P[miss] = (1 − (1 − θ/π)^bits)^tables per table-independence).
    *
    * Plan: corpus → explode keys (×tables rows, narrow) → equi-join on
    * (tbl, bucket) against the exploded query keys [one hash shuffle] →
    * dedup (query, neighbor) → exact cosine → [[topKPerKey]]. Never O(n²).
    */
  def lshKnn(
      queries: DataFrame, corpus: DataFrame,
      id: String, emb: String, k: Int,
      tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    def keyed(df: DataFrame, idAs: String, embAs: String) =
      df.select(col(id).as(idAs), col(emb).as(embAs))
        .withColumn("_k", explode(lshKeys(col(embAs), tables, bits, dim)))
        .select(col(idAs), col(embAs), col("_k.tbl"), col("_k.bucket"))

    val q = keyed(queries, "query_id", "q_emb")
    val c = keyed(corpus, "neighbor_id", "c_emb")
    // score inside the join (narrow), THEN dedup multi-table collisions —
    // the dedup shuffle carries (ids, score), not two embedding payloads;
    // duplicates score identically so the distinct is exact
    val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosineSim(col("q_emb"), col("c_emb")))
      .select(col("query_id"), col("score"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    rankedNeighbors(cand,
      struct((-col("score")).as("ns"), col("neighbor_id").as("nid")), k)
  }

  /** Multi-probe LSH ANN (the Hamming-1 ring of Lv et al., VLDB'07): the
    * same hyperplane index as [[lshKnn]], but each query probes its exact
    * bucket PLUS the `bits` buckets one sign-flip away in every table —
    * the buckets a near-miss neighbor most likely fell into. Recall
    * comparable to `(bits+1)·tables/t'` plain tables at `tables` tables:
    * the CORPUS-side index — the expensive artifact at 100 TB (×tables
    * rows shuffled, stored, and rebuilt per corpus release) — shrinks by
    * the table factor, while the extra probes fan out only the QUERY side
    * (broadcast, batch-sized). Candidates are exact-cosine re-ranked, so
    * precision is exact and extra probes can only improve the answer.
    * Output shape identical to [[lshKnn]]/[[bruteForceKnn]].
    */
  def lshKnnMultiprobe(
      queries: DataFrame, corpus: DataFrame,
      id: String, emb: String, k: Int,
      tables: Int = 4, bits: Int = 8, dim: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 30, s"need 1 <= bits <= 30, got $bits")
    val c = corpus.select(col(id).as("neighbor_id"), col(emb).as("c_emb"))
      .withColumn("_k", explode(lshKeys(col("c_emb"), tables, bits, dim)))
      .select(col("neighbor_id"), col("c_emb"), col("_k.tbl"), col("_k.bucket"))
    // query side: exact bucket + the bits Hamming-1 flips — (bits+1)×
    // fanout on the small, broadcast side only
    val q = queries.select(col(id).as("query_id"), col(emb).as("q_emb"))
      .withColumn("_k", explode(lshKeys(col("q_emb"), tables, bits, dim)))
      .select(col("query_id"), col("q_emb"), col("_k.tbl").as("tbl"),
        explode(concat(array(col("_k.bucket")),
          expr(s"transform(sequence(0, ${bits - 1}), " +
            "b -> cast(_k.bucket ^ shiftleft(1, b) as int))"))).as("bucket"))
    val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosineSim(col("q_emb"), col("c_emb")))
      .select(col("query_id"), col("score"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    rankedNeighbors(cand,
      struct((-col("score")).as("ns"), col("neighbor_id").as("nid")), k)
  }

  /** IVF (inverted-file) ANN: the corpus is coarsely quantized to `nlist`
    * centroid cells; a query probes only its `nprobe` nearest cells and
    * re-ranks exactly within them — the classic alternative scale path to
    * [[lshKnn]] (probe lists shrink work by ~nprobe/nlist).
    *
    * Coarse centroids here are a deterministic sample (first `nlist`
    * vectors by id) refined by one Lloyd step — entirely DataFrame ops, no
    * driver-side iteration state; production would feed real k-means
    * centroids in via `centroids`.
    *
    * Plan: centroids broadcast; corpus assigned to argmax-cosine cell (one
    * narrow pass + small agg); queries explode their top-`nprobe` cells;
    * equi-join on cell [one shuffle]; exact re-rank via [[topKPerKey]].
    */
  def ivfKnn(
      queries: DataFrame, corpus: DataFrame,
      id: String, emb: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val seeds = corpus.orderBy(col(id)).limit(nlist)
      .select(col(id).as("cell"), col(emb).as("c_emb"))
    // one Lloyd refinement: mean of the vectors nearest each seed
    val assigned0 = assignCells(corpus, id, emb, seeds)
    val centroids = meanVectors(assigned0, Seq("cell"), emb, "c_emb")
      // nlist rows referenced from three plan branches (corpus assignment,
      // query probing) — materialize once instead of recomputing the
      // seed→assign→average subtree per branch
      .localCheckpoint(true)

    ivfKnnWithCentroids(queries, corpus, id, emb, k, centroids, nprobe)
  }

  /** [[ivfKnn]] with caller-provided coarse centroids — the production
    * entry point: feed real k-means centroids (trained offline, or the
    * previous epoch's) as a (cell, c_emb) frame instead of the built-in
    * deterministic seed + one-Lloyd-step bootstrap.
    */
  def ivfKnnWithCentroids(
      queries: DataFrame, corpus: DataFrame,
      id: String, emb: String, k: Int,
      centroids: DataFrame, nprobe: Int): DataFrame = {
    val assigned = assignCells(corpus, id, emb, centroids)
      .select(col(id).as("neighbor_id"), col(emb).as("n_emb"), col("cell"))
    val probes = queries.select(col(id).as("query_id"), col(emb).as("q_emb"))
      .join(broadcast(centroids))
      .withColumn("cscore", cosineSim(col("q_emb"), col("c_emb")))
      .transform(df => topKPerKey(
        df.select(col("query_id"), col("q_emb"), col("cscore"), col("cell")),
        Seq("query_id", "q_emb"), struct((-col("cscore")).as("ns"), col("cell").as("cell")), nprobe))
      .select(col("query_id"), col("q_emb"), explode(col("topk.cell")).as("cell"))

    // score first, then dedup on (ids, score) — the guard shuffle (a
    // neighbor lives in ONE cell, so pairs are already unique; kept as a
    // correctness belt) must not carry the embedding payloads
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosineSim(col("q_emb"), col("n_emb")))
      .select(col("query_id"), col("score"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    rankedNeighbors(cand,
      struct((-col("score")).as("ns"), col("neighbor_id").as("nid")), k)
  }

  /** Distributed Lloyd's k-means over an `array<float>` column — the
    * offline trainer behind [[ivfKnnWithCentroids]]'s "feed real k-means
    * centroids" production entry, so the IVF story is self-contained:
    * train here, probe there. Seeds are the `k` smallest-id vectors
    * (deterministic and rerun-stable — the same seeding policy as
    * [[ivfKnn]] / [[pqCodebook]]); each iteration assigns every vector to
    * its nearest centroid by squared L2 ([[assignToCentroids]] — NARROW:
    * a per-row fold over the packed broadcast centroids, the corpus never
    * shuffles) and moves each centroid to its member mean
    * ([[meanVectors]]: posexplode + partial aggs whose shuffle volume is
    * k×dim×partitions — model-sized, not data-sized). A cell that wins no
    * vectors keeps its previous centroid, so the output always has
    * exactly `k` rows.
    *
    * Output: (cell, c_emb), cell 0..k-1 in seed-id order. Per iteration:
    * O(n·k·dim) compute streamed through the corpus scan; nothing
    * data-sized shuffles or touches the driver. The k-row centroid frame
    * is localCheckpointed per iteration, keeping lineage constant-depth
    * (un-checkpointed, the final plan would replay every earlier
    * iteration's corpus scan).
    */
  def kMeansCentroids(corpus: DataFrame, id: String, emb: String,
      k: Int, iters: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(iters >= 0, s"need iters >= 0, got $iters")
    // the window runs on k rows — a deliberate single-partition sort of a
    // constant-size frame (same shape as pqCodebook's seed numbering);
    // Hints.onePartition keeps the spec non-empty (no benign WindowExec
    // warning) without changing the single-partition semantics
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.Hints.onePartition(col("seed_id")))
      .orderBy(col("seed_id"))
    val seeds = corpus.orderBy(col(id)).limit(k)
      .select(col(id).as("seed_id"), col(emb).as("c_emb"))
      .select((row_number().over(w) - 1).as("cell"), col("c_emb"))
    (1 to iters).foldLeft(seeds.localCheckpoint(true)) { (centroids, _) =>
      val moved = meanVectors(
        assignToCentroids(corpus, emb, centroids), Seq("cell"), emb, "c_new")
      centroids.join(moved, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("c_new"), col("c_emb")).as("c_emb"))
        .localCheckpoint(true)
    }
  }

  /** Nearest-centroid assignment by squared L2: the input's columns plus
    * the winning `cell`. Narrow — see [[assignNarrow]]; ties break to the
    * smallest cell id. Works unchanged on a streaming frame (the packed
    * centroid row is a static broadcast side), which is the ingest-time
    * deployment: train offline with [[kMeansCentroids]], tag arriving
    * vectors here.
    */
  def assignToCentroids(corpus: DataFrame, emb: String,
      centroids: DataFrame): DataFrame = {
    require(!corpus.columns.contains("cell") && !corpus.columns.contains("_cents"),
      "corpus already has a cell/_cents column — the assignment would " +
        "silently shadow it")
    assignNarrow(corpus, emb, centroids, (v, c) => sqDist(v, c))
  }

  /** Two-level (IVF-routed) nearest-centroid assignment — the scale path
    * for CENTROID COUNTS THAT GROW WITH THE CORPUS. [[assignToCentroids]]
    * is O(N·k) vector distances; when a deployment sizes k ∝ N to hold
    * cell population constant (the SemDeDup / IVF discipline), brute
    * force turns quadratic in N — measured as 132 s of a 130 s
    * density-preserving semdedup run at N = 200k, k = 1501
    * (BENCH_DENSITY.json; SCALING.md). Route (the faiss-style IVF recipe
    * applied to assignment): (1) cluster the k CENTROIDS into `groups`
    * (default ⌈√k⌉) coarse groups — one k-means over the centroid table,
    * k rows, never the corpus; (2) per vector, pick the `nprobe` nearest
    * group representatives (O(√k)); (3) exact argmin over the probed
    * groups' member centroids (O(nprobe·k/groups) expected). The coarse
    * level rides a 1-row √k-rep broadcast pack ([[assignNarrow]]'s
    * shape). The FINE level is size-dispatched on the index bytes
    * (k·d·4), the [[semDedupSkewSafe]] escape pattern applied to
    * broadcast objects:
    *
    *   - index ≤ `shardBytes` (default 1 MiB): all members collapse into
    *     one group→members map ROW — a harmless single object at this
    *     size, and measurably cheaper at toy k (fewer stages, one
    *     broadcast, no checkpoint barrier; 2.7 vs 4.3 s on the sf0.1
    *     16-centroid 4 KB-index bench query). The crossover sits BELOW
    *     2 MB: at a 2 MB index the sharded form already runs 1.8×
    *     faster on a 500-row corpus (BENCH_DENSITY.json, d = 1024), and
    *     bigger corpora amortize the extra join stages further, so the
    *     1 MiB default is conservative toward the map form.
    *   - index > `shardBytes`: SHARDED — one packed row PER coarse group
    *     (members array inside), broadcast-HASH-joined on the probed
    *     group id, once per probe slot, folding a running argmin. No
    *     single object scales with k: the 2 GiB single-object bound
    *     applies per GROUP pack (k·d/groups floats), so the operator
    *     survives the k ∝ N regime it exists for (millions of centroids
    *     × wide embeddings) where the monolithic map row OOMs first —
    *     the index probe (BENCH_DENSITY.json) measured the map form DEAD
    *     (OutOfMemoryError) at a 134 MB index in the heap the sharded
    *     form completes in, and already 1.8× slower at 34 MB. The
    *     nprobe join right sides are the same plan subtree, so exchange
    *     reuse ships ONE broadcast of the k members, not nprobe.
    *
    * Both forms are spec-pinned assignment-identical (exhaustive AND
    * small nprobe); `shardBytes = 0` forces sharding (the plan pins and
    * the probe use this). Works unchanged on a streaming frame
    * (stream-static joins under a static centroid table).
    *
    * Recall contract (standard IVF): the result is the true nearest
    * centroid iff that centroid's group is probed — `nprobe >= groups`
    * is exhaustive and EXACT (spec-pinned equal to
    * [[assignToCentroids]]); small nprobe trades exactness for the √k
    * speedup, deterministically (group sort breaks ties on (dist,
    * group id); member argmin on (dist, cell id)).
    */
  def assignToCentroidsIvf(corpus: DataFrame, emb: String,
      centroids: DataFrame, nprobe: Int = 4, groups: Int = 0,
      shardBytes: Long = 1L << 20): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
    // "_sgMap" is only created by the monolithic dispatch target, but the
    // guard must cover BOTH dispatch outcomes — a corpus carrying _sgMap
    // would otherwise fail with an ambiguous-reference AnalysisException
    // on the small-index path instead of this message
    require(Seq("cell", "_sgGs", "_sgG", "_sgMs", "_sgP", "_sgBest", "_sgMap")
        .forall(c => !corpus.columns.contains(c)),
      "corpus already has a cell/_sg* column — the assignment would " +
        "silently shadow it")
    val k = centroids.count()
    val d = if (k == 0) 0
      else centroids.select(size(col("c_emb"))).head().getInt(0)
    if (k * d * 4L <= shardBytes)
      return assignToCentroidsIvfMonolithic(corpus, emb, centroids, nprobe,
        groups, k)
    val (repsPacked, groupPacks) = ivfIndex(centroids, groups, k)
    // per-probe-slot running argmin: slot i broadcast-hash-joins the
    // corpus to its i-th probed group's pack (left outer — a vector may
    // probe fewer than nprobe groups) and folds that group's best
    // (dist, cell) struct with `least` (null-skipping, struct order =
    // dist asc then cell asc — the same tie-break as the 1-row form).
    // Groups partition the centroids, so candidates across slots are
    // disjoint and least-of-array_mins ≡ array_min over the flattened
    // members — spec-pinned equal to the monolithic map form.
    val probed = corpus.join(broadcast(repsPacked))
      .withColumn("_sgP", slice(array_sort(transform(col("_sgGs"),
        r => struct(sqDist(col(emb), r.getField("c_emb")).as("k"),
          r.getField("g").as("g")))), 1, nprobe))
      .drop("_sgGs")
    val folded = (1 to nprobe).foldLeft(probed) { (df, i) =>
      val best = array_min(transform(col("_sgMs"),
        c => struct(sqDist(col(emb), c.getField("c_emb")).as("k"),
          c.getField("cell").as("cell"))))
      df.join(broadcast(groupPacks),
          try_element_at(col("_sgP"), lit(i)).getField("g") === col("_sgG"),
          "left_outer")
        .withColumn("_sgBest",
          if (i == 1) best else least(col("_sgBest"), best))
        .drop("_sgG", "_sgMs")
    }
    folded
      .withColumn("cell", col("_sgBest").getField("cell"))
      .drop("_sgP", "_sgBest")
  }

  /** The two IVF index sides: a 1-row pack of the √k group reps (g,
    * c_emb) and the per-group member packs (_sgG, _sgMs) — one row per
    * coarse group, so no object scales with the whole index.
    */
  private def ivfIndex(centroids: DataFrame,
      groups: Int, k: Long): (DataFrame, DataFrame) = {
    val g =
      if (groups > 0) groups
      else math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // coarse groups: k-means over the k-row CENTROID table (2 Lloyd
    // steps; the table is k rows, so this never touches the corpus)
    val reps = kMeansCentroids(
      centroids.select(col("cell").as("_sgid"), col("c_emb").as("_sgv")),
      "_sgid", "_sgv", k = g, iters = 2)
      .localCheckpoint(true) // reused: membership assign + the rep pack
    val members = assignToCentroids(
      centroids.select(col("cell").as("_sgC"), col("c_emb")), "c_emb", reps)
      .select(col("cell").as("_sgG"), col("_sgC"), col("c_emb"))
      .localCheckpoint(true)
    // only groups that WON a member are probe-able (a Lloyd step can
    // empty a group; probing it would left-join to nothing and waste a
    // slot)
    val repsPacked = reps
      .join(members.select(col("_sgG").as("cell")).distinct(), Seq("cell"),
        "left_semi")
      .agg(collect_list(struct(col("cell").as("g"), col("c_emb"))).as("_sgGs"))
    val groupPacks = members
      .groupBy("_sgG")
      .agg(collect_list(struct(col("_sgC").as("cell"), col("c_emb"))).as("_sgMs"))
      .localCheckpoint(true) // one plan subtree → ONE broadcast, reused per slot
    (repsPacked, groupPacks)
  }

  /** The small-index fine level ([[assignToCentroidsIvf]] dispatch, and
    * directly callable for probes): ALL k members collapse into a single
    * group→members map ROW, broadcast whole. Correct, oracled, and the
    * fastest shape while the one map value — O(k·d) — is genuinely
    * small; past `shardBytes` it is the single-object scale ceiling the
    * sharded form removes (BENCH_DENSITY.json: OOM at a 134 MB index in
    * the heap the sharded form completes in). Spec-pinned
    * assignment-identical to the sharded form at exhaustive AND small
    * nprobe.
    */
  private[graft] def assignToCentroidsIvfMonolithic(corpus: DataFrame,
      emb: String, centroids: DataFrame, nprobe: Int = 4,
      groups: Int = 0, kKnown: Long = -1L): DataFrame = {
    val k = if (kKnown >= 0) kKnown else centroids.count()
    val (repsPacked, groupPacks) = ivfIndex(centroids, groups, k)
    val memberMap = groupPacks
      .agg(map_from_entries(collect_list(struct(col("_sgG"), col("_sgMs"))))
        .as("_sgMap"))
    corpus.join(broadcast(repsPacked)).join(broadcast(memberMap))
      .withColumn("_sgP", slice(array_sort(transform(col("_sgGs"),
        r => struct(sqDist(col(emb), r.getField("c_emb")).as("k"),
          r.getField("g").as("g")))), 1, nprobe))
      .withColumn("cell",
        array_min(transform(
          flatten(transform(col("_sgP"),
            p => element_at(col("_sgMap"), p.getField("g")))),
          c => struct(sqDist(col(emb), c.getField("c_emb")).as("k"),
            c.getField("cell").as("cell"))))
          .getField("cell"))
      .drop("_sgGs", "_sgMap", "_sgP")
  }

  /** Narrow nearest-centroid core: the k (cell, c_emb) rows collapse into
    * ONE packed array row, broadcast and replicated to every corpus row
    * (1-row nested-loop build — no shuffle, no corpus replication), and
    * each vector picks its argmin centroid with a per-row `array_min`
    * over (key, cell) structs (struct ordering = key asc, then cell asc —
    * the deterministic tie-break). The corpus side of an assignment is
    * NEVER shuffled; the only exchange is the k-row pack. This is the
    * shape that matters at 100 TB: the cross-join + groupBy-argmin
    * alternative re-shuffles every vector once per k-means iteration.
    */
  private def assignNarrow(corpus: DataFrame, emb: String, centroids: DataFrame,
      key: (Column, Column) => Column): DataFrame = {
    val packed = centroids.agg(
      collect_list(struct(col("cell"), col("c_emb"))).as("_cents"))
    corpus.join(broadcast(packed))
      .withColumn("cell",
        array_min(transform(col("_cents"),
          c => struct(key(col(emb), c.getField("c_emb")).as("k"),
            c.getField("cell").as("cell")))).getField("cell"))
      .drop("_cents")
  }

  /** Embedding-space decontamination: flag corpus vectors semantically
    * too close (cosine ≥ `minCosine`) to ANY benchmark vector — the
    * eval-leakage door the n-gram forms cannot close (a paraphrased or
    * re-tokenized benchmark item shares no long n-gram with its source
    * but sits near cosine 1 in embedding space; the lexical forms are
    * [[graft.operators.Dedup.decontaminate]]-style gram joins, bloom
    * gates, and SA scans). The benchmark packs into ONE broadcast row
    * ([[assignNarrow]]'s shape — benchmark suites are index-sized,
    * thousands to ~10^5 rows, never corpus-sized) and each corpus
    * vector counts its hits in a narrow codegen'd pass: no shuffle, no
    * explode, unchanged on a streaming frame. A benchmark too big to
    * ride one row takes [[embedDecontaminateBucketed]] — the same
    * verdict through sharded per-group packs (exact at exhaustive
    * nprobe); this is the one-object exact form.
    *
    * Output: the corpus columns + `n_hits` (benchmark vectors at ≥
    * `minCosine`) + `kept` (n_hits = 0) — integer/boolean outputs keep
    * the cross-engine compare exact.
    */
  def embedDecontaminate(corpus: DataFrame, id: String, emb: String,
      benchmark: DataFrame, bEmb: String, minCosine: Double,
      maxPackBytes: Long = 256L << 20): DataFrame = {
    require(Seq("n_hits", "kept", "_edB").forall(c => !corpus.columns.contains(c)),
      "corpus already has an n_hits/kept/_edB column — decontamination " +
        "would silently shadow it")
    // the pack is ONE row — refuse loudly past the byte ceiling instead
    // of building a multi-GiB single object (the assignToCentroidsIvf
    // lesson: single-object broadcasts OOM long before compute hurts);
    // a benchmark past the ceiling takes embedDecontaminateBucketed
    val n = benchmark.count()
    val d = if (n == 0) 0
      else benchmark.select(size(col(bEmb))).head().getInt(0)
    graft.state.Artifacts.guardCeiling(n * d * 4L, maxPackBytes,
      "embedDecontaminate benchmark pack", "bytes")
    val packed = benchmark.agg(collect_list(col(bEmb)).as("_edB"))
    corpus.join(broadcast(packed))
      .withColumn("n_hits",
        size(filter(col("_edB"), b => cosineSim(col(emb), b) >= minCosine))
          .cast("long"))
      .withColumn("kept", col("n_hits") === 0)
      .drop("_edB")
  }

  /** Bucketed embedding-space decontamination — [[embedDecontaminate]]
    * for benchmark packs past the single-row byte ceiling: the SAME
    * (`n_hits`, `kept`) outputs, computed corpus × benchmark through the
    * IVF candidate machinery ([[assignToCentroidsIvf]]'s sharded-pack
    * shape) instead of one monolithic broadcast object. The benchmark
    * clusters into `groups` (default ⌈√B⌉) coarse groups — one
    * [[kMeansCentroids]] run over the BENCHMARK table, benchmark-sized,
    * never the corpus; each corpus vector probes its `nprobe` nearest
    * group representatives by cosine (the metric the verdict is in) and
    * counts exact cosine ≥ `minCosine` hits inside the probed groups'
    * member packs, summed across the disjoint slots. No single object
    * scales with the benchmark: the rep pack is ~√B rows and each member
    * pack ~B/√B vectors, broadcast-hash-joined per probe slot from ONE
    * checkpointed subtree (exchange reuse ships the packs once).
    *
    * Recall contract (the standard IVF trade): a benchmark hit is
    * counted iff its group is probed — `nprobe >= groups` probes every
    * group and is EXACT (spec-pinned equal to [[embedDecontaminate]],
    * and the oracled form); smaller nprobe trades exactness for the √B
    * speedup deterministically (group order breaks ties on (cosine desc,
    * group id)). `bId` names the benchmark's id column — it seeds the
    * group k-means deterministically (smallest-id seeding, rerun-stable)
    * and never appears in the output.
    *
    * Plan-depth bound: the per-slot fold emits ONE BroadcastHashJoin per
    * probe slot, so the plan is `nprobe` joins deep — fine at the small
    * `nprobe` this route exists for, but `nprobe >= groups` (the exact
    * contract) on a benchmark large enough to NEED this route (B ≈ 10⁵ ⇒
    * groups ≈ 316) would build a ~316-join plan and die in
    * analysis/codegen long before any data cost. `maxProbeJoins` refuses
    * loudly past that regime: exact-at-scale needs take
    * [[embedDecontaminateSharded]] (flat plan — √B hash-sharded pack
    * rows, one re-aggregation — at any benchmark size) or the one-object
    * [[embedDecontaminate]] (benchmark pack ≤ its byte ceiling).
    */
  def embedDecontaminateBucketed(corpus: DataFrame, id: String, emb: String,
      benchmark: DataFrame, bId: String, bEmb: String, minCosine: Double,
      nprobe: Int, groups: Int = 0, maxProbeJoins: Int = 32): DataFrame = {
    require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
    require(nprobe <= maxProbeJoins,
      s"nprobe = $nprobe exceeds maxProbeJoins = $maxProbeJoins: this " +
        s"route builds ONE broadcast join per probe slot, so large nprobe " +
        s"is a plan-depth (analysis/codegen) blowup, not a data cost. For " +
        s"an exact verdict use embedDecontaminateSharded (flat plan at any " +
        s"benchmark size) or embedDecontaminate (single broadcast pack, " +
        s"refuses past its byte ceiling); keep nprobe small here for the " +
        s"IVF recall trade, or raise maxProbeJoins explicitly if the plan " +
        s"depth was measured acceptable")
    require(Seq("n_hits", "kept", "_bdGs", "_bdG", "_bdMs", "_bdP", "_bdH")
        .forall(c => !corpus.columns.contains(c)),
      "corpus already has an n_hits/kept/_bd* column — decontamination " +
        "would silently shadow it")
    val b = benchmark.count()
    if (b == 0)
      // an empty benchmark flags nothing — the broadcast form's contract
      return corpus.withColumn("n_hits", lit(0L)).withColumn("kept", lit(true))
    val g = if (groups > 0) groups
      else math.max(1, math.ceil(math.sqrt(b.toDouble)).toInt)
    val reps = kMeansCentroids(
      benchmark.select(col(bId).as("_bdI"), col(bEmb).as("_bdV")),
      "_bdI", "_bdV", k = g, iters = 2)
      .localCheckpoint(true) // reused: member assignment + the rep pack
    val members = assignToCentroids(
        benchmark.select(col(bEmb).as("_bdV")), "_bdV", reps)
      .select(col("cell").as("_bdG"), col("_bdV"))
      .localCheckpoint(true)
    // only groups that won a member are probe-able (the ivfIndex rule)
    val repsPacked = reps
      .join(members.select(col("_bdG").as("cell")).distinct(), Seq("cell"),
        "left_semi")
      .agg(collect_list(struct(col("cell").as("g"), col("c_emb"))).as("_bdGs"))
    val groupPacks = members
      .groupBy("_bdG").agg(collect_list(col("_bdV")).as("_bdMs"))
      .localCheckpoint(true) // one plan subtree → ONE broadcast, reused per slot
    val probed = corpus.join(broadcast(repsPacked))
      .withColumn("_bdP", slice(array_sort(transform(col("_bdGs"),
        r => struct((-cosineSim(col(emb), r.getField("c_emb"))).as("k"),
          r.getField("g").as("g")))), 1, nprobe))
      .drop("_bdGs")
    // per-slot running hit count: groups partition the benchmark, so the
    // slot counts are over disjoint vectors and their sum is the total
    val folded = (1 to nprobe).foldLeft(probed) { (df, i) =>
      val hits = when(col("_bdMs").isNull, lit(0L))
        .otherwise(size(filter(col("_bdMs"),
          m => cosineSim(col(emb), m) >= minCosine)).cast("long"))
      df.join(broadcast(groupPacks),
          try_element_at(col("_bdP"), lit(i)).getField("g") === col("_bdG"),
          "left_outer")
        .withColumn("_bdH",
          if (i == 1) hits else col("_bdH") + hits)
        .drop("_bdG", "_bdMs")
    }
    folded
      .withColumn("n_hits", col("_bdH"))
      .withColumn("kept", col("n_hits") === 0)
      .drop("_bdP", "_bdH")
  }

  /** EXACT embedding-space decontamination at oversized-benchmark scale —
    * the route [[embedDecontaminateBucketed]]'s `maxProbeJoins` guard
    * points at: the SAME (`n_hits`, `kept`) verdict as
    * [[embedDecontaminate]], with the benchmark pack split into ⌈√B⌉
    * HASH shards (no k-means — an exact scan visits every shard, so the
    * grouping needs no geometry, only determinism) that broadcast as
    * √B ROWS of ~B/√B vectors each. No single object scales with the
    * benchmark (the r11 sharded-IVF lesson: total broadcast bytes are
    * identical to the one-row pack, but the LARGEST OBJECT is
    * benchmark/√B — the one-row form OOMs on serialization long before
    * the bytes matter), and the plan is FLAT: one broadcast
    * nested-loop join (corpus × √B pack rows), per-shard hit counts,
    * one partial-agg re-aggregation on `id` — corpus×√B transient rows
    * collapse map-side because each corpus row's shard outputs are
    * task-adjacent, so the only shuffle is corpus-sized. Contrast the
    * bucketed form's one-join-PER-SLOT plan, whose exact mode
    * (`nprobe = groups`) blows up in plan depth at exactly the
    * benchmark sizes this route exists for.
    *
    * Contract: `id` must be unique per corpus row (it is the document
    * key a decontamination audit reports on — the [[graft.operators
    * .Corpus.capPerStratum]] key discipline); rows sharing an id would
    * merge their hit counts. Empty benchmark keeps everything, like
    * both siblings.
    *
    * Sizing: with `shards = 0` (auto) this runs ONE small driver job —
    * `benchmark.count()` — to pick ⌈√B⌉; bounded (it scans the
    * benchmark side, never the corpus), but callers that know B, or
    * call in a loop, should pass `shards` explicitly and skip it.
    */
  def embedDecontaminateSharded(corpus: DataFrame, id: String, emb: String,
      benchmark: DataFrame, bId: String, bEmb: String, minCosine: Double,
      shards: Int = 0): DataFrame = {
    require(Seq("n_hits", "kept", "_edsG", "_edsMs", "_edsH")
        .forall(c => !corpus.columns.contains(c)),
      "corpus already has an n_hits/kept/_eds* column — decontamination " +
        "would silently shadow it")
    val b = benchmark.count()
    if (b == 0)
      return corpus.withColumn("n_hits", lit(0L)).withColumn("kept", lit(true))
    val g = if (shards > 0) shards
      else math.max(1, math.ceil(math.sqrt(b.toDouble)).toInt)
    val packs = benchmark
      .select(pmod(graft.operators.Dedup.portableHash64(
          col(bId).cast("string")), lit(g.toLong)).as("_edsG"),
        col(bEmb).as("_edsV"))
      .groupBy("_edsG").agg(collect_list(col("_edsV")).as("_edsMs"))
    val aggs = corpus.columns.filterNot(_ == id)
      .map(c => first(col(c)).as(c)) :+ sum(col("_edsH")).as("n_hits")
    corpus.join(broadcast(packs))
      .withColumn("_edsH",
        size(filter(col("_edsMs"), m => cosineSim(col(emb), m) >= minCosine))
          .cast("long"))
      .groupBy(col(id))
      .agg(aggs.head, aggs.tail: _*)
      .select((corpus.columns.map(col) :+ col("n_hits")): _*)
      .withColumn("kept", col("n_hits") === 0)
  }

  /** Symmetric int8 quantization per vector: scale = 127 / max|xᵢ|, each
    * component mapped to floor(x·scale + 0.5) ∈ [−127, 127] (floor(+0.5)
    * rather than round() — round-half semantics differ between engines,
    * floor is identical everywhere). 4× smaller vectors for ANN probe
    * storage; the all-zero vector quantizes to all zeros.
    * Output: original columns + `q_emb` (array<int>) + `q_scale` (double).
    */
  def quantizeInt8(corpus: DataFrame, emb: String): DataFrame = {
    val mx = array_max(transform(col(emb), x => abs(x.cast("double"))))
    val scale = when(mx > 0, lit(127.0) / mx).otherwise(lit(0.0))
    corpus
      .withColumn("q_scale", scale)
      .withColumn("q_emb",
        transform(col(emb), x =>
          floor(x.cast("double") * col("q_scale") + 0.5).cast("int")))
  }

  /** Nearest-centroid assignment by argmax cosine (ties to the smallest
    * cell) — the IVF coarse quantizer. Narrow, see [[assignNarrow]].
    */
  private def assignCells(
      corpus: DataFrame, id: String, emb: String, centroids: DataFrame): DataFrame =
    assignNarrow(corpus, emb, centroids, (v, c) => -cosineSim(v, c))

  /** EXACT embedding-cosine near-duplicate pairs: every unordered pair
    * with cosine ≥ `minCosine`. Inherently O(n²) — this is the correctness
    * baseline the approximate [[embeddingNearDups]] is measured against;
    * use it on corpora (or blocking partitions) small enough to pair
    * exhaustively, and the LSH form beyond that. Output: (a_id, b_id),
    * a < b — integer ids only, so cross-engine comparison is exact.
    */
  def exactNearDupPairs(
      corpus: DataFrame, id: String, emb: String, minCosine: Double): DataFrame = {
    val a = corpus.select(col(id).as("a_id"), col(emb).as("a_v"))
    val b = corpus.select(col(id).as("b_id"), col(emb).as("b_v"))
    a.join(broadcast(b), col("a_id") < col("b_id"))
      .filter(cosineSim(col("a_v"), col("b_v")) >= minCosine)
      .select("a_id", "b_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the corpus, then drop every vector that has
    * a near-duplicate (cosine ≥ `minCosine`) with a SMALLER id inside its
    * own cluster. Each duplicate group keeps exactly one representative
    * (its minimum id — the deterministic stand-in for the paper's
    * arbitrary keeper); pairs in different clusters are never compared,
    * which is the approximation that makes the op tractable.
    *
    * Scale shape: centroid assignment is NARROW ([[assignNarrow]] — the
    * corpus is never shuffled for it); the pair search is a self-join
    * keyed on `cell`, so the shuffle is one corpus-sized exchange on the
    * cluster id and the pairwise work is Σ |cell|², bounded by the
    * LARGEST CLUSTER, not the corpus. Size k (the centroid count) with
    * the corpus — k ∝ n keeps E|cell| constant — and feed real
    * [[kMeansCentroids]]; for skewed clusters too big to pair, use
    * [[semDedupSkewSafe]], which routes oversized cells through in-cell
    * LSH instead of the quadratic join.
    * No forced broadcast anywhere — AQE sizes the drop-set join.
    *
    * Output: the corpus keyed columns plus `cell` (assigned cluster) and
    * `kept` (false ⇔ a smaller-id near-duplicate exists in the cell).
    * Downstream keeps `kept` rows; the flag form (vs returning the
    * filtered frame) is what audits and the oracle compare.
    */
  def semDedup(corpus: DataFrame, id: String, emb: String,
      centroids: DataFrame, minCosine: Double): DataFrame = {
    require(!Seq("cell", "kept").contains(id),
      s"id column '$id' collides with semDedup's output columns")
    val assigned = assignToCentroids(corpus.select(col(id), col(emb)), emb, centroids)
      .localCheckpoint(true) // reused by both pair sides and the flag join
    val l = assigned.select(col(id).as("_sd_a"), col(emb).as("_sd_av"), col("cell"))
    val r = assigned.select(col(id).as("_sd_b"), col(emb).as("_sd_bv"), col("cell"))
    val dropped = l.join(r, Seq("cell"))
      .filter(col("_sd_a") < col("_sd_b") &&
        cosineSim(col("_sd_av"), col("_sd_bv")) >= minCosine)
      .select(col("_sd_b").as(id)).distinct()
      .withColumn("_sd_drop", lit(true))
    assigned.select(col(id), col("cell"))
      .join(dropped, Seq(id), "left")
      .select(col(id), col("cell"), col("_sd_drop").isNull.as("kept"))
  }

  /** [[semDedup]] with a skew escape for mega-clusters: cells at or under
    * `maxCellSize` take the exact |cell|² in-cell pair join; cells ABOVE
    * it generate candidates via in-cell LSH (random-hyperplane buckets,
    * join key (cell, tbl, bucket)) with exact-cosine verification — the
    * fallback [[semDedup]]'s scaladoc only named. A natural cluster (a
    * boilerplate template, a crawl artifact) can hold 10^8+ vectors at
    * 100 TB; |cell|² on it is 10^16 comparisons, while the LSH path's
    * work is Σ per-bucket², bucketed by `tables`·2^`bits` keys inside the
    * cell — sublinear in |cell|² and tunable independently of the
    * clustering.
    *
    * Semantics: identical to [[semDedup]] whenever every qualifying pair
    * inside each oversized cell collides in ≥1 hyperplane table (always
    * true for exact-duplicate vectors, which share every bucket; for
    * near-duplicates the per-pair miss probability is
    * (1−(1−θ/π)^bits)^tables — drive `tables` up for recall). The small-
    * cell path is bit-identical to [[semDedup]]. Pinned equal on corpora
    * where both paths are exact in SimilaritySpec.
    *
    * Plan: assignment narrow; the k-row cell histogram broadcasts back
    * (advisory); each side of the union is an equi-join — on `cell` for
    * small cells, on (cell, tbl, bucket) for big ones. Never a corpus-
    * sized broadcast, never a driver-side list of cells.
    */
  def semDedupSkewSafe(corpus: DataFrame, id: String, emb: String,
      centroids: DataFrame, minCosine: Double,
      maxCellSize: Long = 1L << 16, tables: Int = 8, bits: Int = 2,
      dim: Int = 64): DataFrame =
    semDedupSkewSafeAssigned(
      assignToCentroids(corpus.select(col(id), col(emb)), emb, centroids),
      id, emb, minCosine, maxCellSize, tables, bits, dim)

  /** [[semDedupSkewSafe]] from a PRE-ASSIGNED (id, emb, cell) frame —
    * the composition point for [[assignToCentroidsIvf]] when the
    * centroid count scales with the corpus (brute-force assignment is
    * then the quadratic term, not the pair verify — BENCH_DENSITY.json),
    * and for reusing a persisted assignment across dedup runs.
    */
  def semDedupSkewSafeAssigned(preAssigned: DataFrame, id: String,
      emb: String, minCosine: Double,
      maxCellSize: Long = 1L << 16, tables: Int = 8, bits: Int = 2,
      dim: Int = 64): DataFrame = {
    require(maxCellSize > 0, s"need maxCellSize > 0, got $maxCellSize")
    require(!Seq("cell", "kept").contains(id),
      s"id column '$id' collides with semDedup's output columns")
    val assigned = preAssigned.select(col(id), col(emb), col("cell"))
      .localCheckpoint(true) // reused by both routes and the flag join
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("_n"))
    val sized = assigned.join(graft.plans.Hints.broadcastIfSmall(sizes), "cell")

    def pairsDropped(df: DataFrame, keys: Seq[String]): DataFrame = {
      val l = df.select((keys.map(col) :+ col(id).as("_sd_a") :+ col(emb).as("_sd_av"))
        .toIndexedSeq: _*)
      val r = df.select((keys.map(col) :+ col(id).as("_sd_b") :+ col(emb).as("_sd_bv"))
        .toIndexedSeq: _*)
      // cosine BEFORE any dedup: the verify is a narrow 64-flop dot
      // product, while deduping first would shuffle every candidate pair
      // WITH both embedding arrays (measured 55 s vs 3 s on a 9M-pair
      // mega-cell — the vector payload is the cost, not the recompute);
      // multi-bucket collisions just re-verify, and the caller distincts
      // the surviving bare ids
      l.join(r, keys)
        .filter(col("_sd_a") < col("_sd_b") &&
          cosineSim(col("_sd_av"), col("_sd_bv")) >= minCosine)
        .select(col("_sd_b").as(id))
    }

    val small = sized.filter(col("_n") <= maxCellSize)
    val big = sized.filter(col("_n") > maxCellSize)
      .withColumn("_k", explode(lshKeys(col(emb), tables, bits, dim)))
      .select(col("cell"), col("_k.tbl").as("_tbl"), col("_k.bucket").as("_bkt"),
        col(id), col(emb))
    val dropped = pairsDropped(small, Seq("cell"))
      .union(pairsDropped(big, Seq("cell", "_tbl", "_bkt")))
      .distinct().withColumn("_sd_drop", lit(true))
    assigned.select(col(id), col("cell"))
      .join(dropped, Seq(id), "left")
      .select(col(id), col("cell"), col("_sd_drop").isNull.as("kept"))
  }

  /** Squared L2 distance with double widening, left-to-right fold. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** One row per (vector, subspace): the `sub`-th length-`dim/m` slice of
    * the embedding. The explode that both PQ training and encoding share.
    */
  private def subVectors(df: DataFrame, id: String, emb: String,
      m: Int, dim: Int, idAs: String, vAs: String): DataFrame = {
    val d = dim / m
    // a vector whose actual length differs from `dim` would slice short,
    // null-pad in zip_with, and silently mis-rank — fail loudly instead
    val checked = when(
      assert_true(size(col(emb)) === dim,
        lit(s"embedding length must be $dim")).isNull, col(emb))
    df.select(col(id).as(idAs),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(checked, s * d + 1, lit(d)))))
      .select(col(idAs), col("pos").as("sub"), col("col").as(vAs))
  }

  /** Product-quantization codebook: per subspace, `numCodes` centroids —
    * bootstrapped deterministically from the first `numCodes` corpus
    * vectors (same seeding policy as [[ivfKnn]]), then refined with one
    * Lloyd step per subspace (each centroid moves to the mean of the
    * subvectors it currently wins; empty cells keep their seed). More
    * Lloyd rounds are a loop over the same two stages.
    * Output: (sub, code, c_sub), m × numCodes rows — always tiny, always
    * broadcast.
    */
  def pqCodebook(corpus: DataFrame, id: String, emb: String,
      m: Int, numCodes: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // the window runs on numCodes rows — a deliberate single-partition
    // sort of a constant-size frame, not a data-sized one
    // (Hints.onePartition: same semantics, non-empty spec, no warning)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.plans.Hints.onePartition(col("seed_id")))
      .orderBy(col("seed_id"))
    val seeds = corpus.orderBy(col(id)).limit(numCodes)
      .select(col(id).as("seed_id"), col(emb).as("seed_emb"))
      .withColumn("code", row_number().over(w) - 1)
    // materialized once: consumed by both the assignment join and the
    // final left join (and computing it re-scans the corpus for the
    // TakeOrdered seed pick); m × numCodes rows
    val cb0 = subVectors(seeds, "seed_id", "seed_emb", m, dim, "sid", "c_sub")
      .join(seeds.select("seed_id", "code"), col("sid") === col("seed_id"))
      .select(col("sub"), col("code"), col("c_sub"))
      .localCheckpoint(true)
    // one Lloyd step: per-(sub, code) mean of the winning subvectors
    val assigned = subVectors(corpus, id, emb, m, dim, "vid", "v_sub")
      .join(broadcast(cb0), Seq("sub"))
      .withColumn("dist", sqDist(col("v_sub"), col("c_sub")))
      .groupBy("vid", "sub")
      .agg(min_by(struct(col("code"), col("v_sub")), struct(col("dist"), col("code"))).as("w"))
      .select(col("sub"), col("w.code").as("code"), col("w.v_sub").as("v_sub"))
    val means = meanVectors(assigned, Seq("sub", "code"), "v_sub", "m_sub")
    // materialized: the codebook feeds encoding AND the query tables —
    // without this the corpus-wide Lloyd aggregation re-runs per consumer
    cb0.join(means, Seq("sub", "code"), "left")
      .select(col("sub"), col("code"), coalesce(col("m_sub"), col("c_sub")).as("c_sub"))
      .localCheckpoint(true)
  }

  /** PQ encoding: each vector becomes `m` small codes — the nearest
    * codebook centroid per subspace (squared-L2, code-ascending
    * tie-break). 64 floats (256 B) compress to m bytes; the encoded
    * corpus is what a 100 TB deployment stores and scans. One explode +
    * one broadcast join + one argmin partial agg.
    * Output: (id, sub, code).
    */
  def pqEncode(corpus: DataFrame, id: String, emb: String,
      codebook: DataFrame, m: Int, dim: Int): DataFrame =
    subVectors(corpus, id, emb, m, dim, "vid", "v_sub")
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("d", sqDist(col("v_sub"), col("c_sub")))
      .groupBy(col("vid").as(id), col("sub"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** PQ ANN via asymmetric distance computation (ADC): queries score the
    * ENCODED corpus — per query, a table of (subspace, code) → squared
    * distance to the query's subvector is built against the codebook
    * (m × numCodes rows per query, broadcast), and a corpus vector's
    * approximate distance is the sum of its m table lookups. No float
    * arithmetic touches the corpus at query time — only code lookups and
    * a bounded top-k — which is the entire point at 100 TB.
    * Output: (query_id, rank, neighbor_id), rank 1..k by approximate
    * distance ascending, id-ascending tie-break. Self-pairs excluded.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, id: String, emb: String,
      k: Int, m: Int = 8, numCodes: Int = 16, dim: Int = 64): DataFrame = {
    val cb = pqCodebook(corpus, id, emb, m, numCodes, dim)
    val codes = pqEncode(corpus, id, emb, cb, m, dim)
      .select(col(id).as("neighbor_id"), col("sub"), col("code"))
    val qTables = subVectors(queries, id, emb, m, dim, "query_id", "q_sub")
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        sqDist(col("q_sub"), col("c_sub")).as("qd"))
    // each (query, neighbor, sub) contributes exactly one row; summing
    // per-subspace singletons and adding them in FIXED subspace order
    // keeps adist bit-identical across runs (a plain sum("qd") would
    // fold in shuffle-arrival order, and a last-ulp difference could
    // flip the pool boundary between runs)
    val scored = codes
      .join(broadcast(qTables), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(
        sum(when(col("sub") === 0, col("qd"))).as("qd_0"),
        (1 until m).map(s =>
          sum(when(col("sub") === s, col("qd"))).as(s"qd_$s")): _*)
      .withColumn("adist",
        (0 until m).map(s => col(s"qd_$s")).reduce(_ + _))
    rankedNeighbors(scored,
      struct(col("adist"), col("neighbor_id").as("nid")), k)
  }

  /** PQ ANN with exact re-ranking — the production pipeline: ADC retrieves
    * an `oversample`×k candidate pool from the ENCODED corpus (cheap code
    * lookups over everything), then only the pool's true vectors are
    * fetched and exactly re-scored. Exact work is O(|Q|·k·oversample)
    * instead of O(|Q|·|corpus|); final recall equals the pool's hit rate
    * (measured 0.88 at defaults on the test corpus vs 0.22 for raw ADC
    * ranking — the rerank is what makes a coarse 16-code quantizer
    * usable).
    * Output: (query_id, rank, neighbor_id) by exact squared-L2 ascending.
    */
  def pqTopKReranked(queries: DataFrame, corpus: DataFrame, id: String, emb: String,
      k: Int, oversample: Int = 10,
      m: Int = 8, numCodes: Int = 16, dim: Int = 64): DataFrame = {
    val pool = pqTopK(queries, corpus, id, emb, k * oversample, m, numCodes, dim)
      .select("query_id", "neighbor_id")
    // corpus streams once; the (query, candidate) pool and the query
    // vectors are both small and broadcast
    val rescored = corpus.select(col(id).as("neighbor_id"), col(emb).as("n_emb"))
      .join(broadcast(pool), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(id).as("query_id"), col(emb).as("q_emb"))),
        Seq("query_id"))
      .withColumn("d", sqDist(col("q_emb"), col("n_emb")))
    rankedNeighbors(rescored.select(col("query_id"), col("d"), col("neighbor_id")),
      struct(col("d"), col("neighbor_id").as("nid")), k)
  }

  /** IVF-PQ ANN — the production composition of the two scale paths above
    * (coarse inverted lists × product quantization, the standard
    * billion-vector index shape): the corpus is partitioned into
    * `centroids` cells, each vector is PQ-encoded as its RESIDUAL against
    * its own cell centroid (residuals are much smaller than raw vectors,
    * so the same m-byte code budget quantizes far finer), and a query
    * (a) probes only its `nprobe` nearest cells, (b) ADC-scans only those
    * cells' codes against per-(query, cell) distance tables built from
    * the QUERY residual q − c_cell, and (c) exactly re-ranks an
    * `oversample`×k pool. The two prunings multiply: at 100 TB the scan
    * touches ~(nprobe/nlist) of an already 32×-compressed code table, and
    * float vectors are fetched only for |Q|·k·oversample pool rows.
    *
    * Plan: one corpus pass assigns cells + encodes residuals (narrow
    * argmin against the broadcast coarse/sub codebooks); the candidate
    * stage is an equi-join of the code table with the broadcast
    * (query, cell, sub, code) → distance tables, so non-probed cells
    * never match a row; per-pair ADC sums add subspaces in FIXED order
    * (bit-stable across runs, same as [[pqTopK]]).
    *
    * `centroids` is a (cell, c_emb) coarse quantizer — [[kMeansCentroids]]
    * output or the previous epoch's. Output: (query_id, rank,
    * neighbor_id), rank 1..k by exact squared-L2 ascending, id tie-break.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, id: String, emb: String,
      k: Int, centroids: DataFrame, nprobe: Int = 4, oversample: Int = 10,
      m: Int = 8, numCodes: Int = 16, dim: Int = 64): DataFrame = {
    def residual(v: Column, c: Column): Column =
      zip_with(v, c, (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
    // one corpus pass: cell assignment (narrow broadcast argmin) + residual;
    // the cell rides inside the PQ id struct so encoding needs NO
    // corpus-sized join to re-attach it
    val residCorpus = assignCells(corpus, id, emb, centroids)
      .join(broadcast(centroids), Seq("cell"))
      .select(struct(col(id).as("i"), col("cell").as("cl")).as("idc"),
        residual(col(emb), col("c_emb")).as("r"))
    val cb = pqCodebook(residCorpus, "idc", "r", m, numCodes, dim)
    val codes = pqEncode(residCorpus, "idc", "r", cb, m, dim)
      .select(col("idc.i").as("neighbor_id"), col("idc.cl").as("cell"),
        col("sub"), col("code"))

    val q0 = queries.select(col(id).as("query_id"), col(emb).as("q_emb"))
    val probes = q0.join(broadcast(centroids))
      .withColumn("cscore", cosineSim(col("q_emb"), col("c_emb")))
      .transform(df => topKPerKey(
        df.select(col("query_id"), col("cscore"), col("cell")),
        Seq("query_id"),
        struct((-col("cscore")).as("ns"), col("cell").as("cell")), nprobe))
      .select(col("query_id"), explode(col("topk.cell")).as("cell"))
    // per-(query, probed cell) ADC tables over the QUERY residual —
    // |Q|·nprobe·m·numCodes rows, always broadcast
    val qres = probes.join(broadcast(q0), Seq("query_id"))
      .join(broadcast(centroids), Seq("cell"))
      .select(struct(col("query_id").as("i"), col("cell").as("cl")).as("qc"),
        residual(col("q_emb"), col("c_emb")).as("qr"))
    val qTables = subVectors(qres, "qc", "qr", m, dim, "qc", "q_sub")
      .join(broadcast(cb), Seq("sub"))
      .select(col("qc.i").as("query_id"), col("qc.cl").as("cell"),
        col("sub"), col("code"), sqDist(col("q_sub"), col("c_sub")).as("qd"))

    val scored = codes.join(broadcast(qTables), Seq("cell", "sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(
        sum(when(col("sub") === 0, col("qd"))).as("qd_0"),
        (1 until m).map(s =>
          sum(when(col("sub") === s, col("qd"))).as(s"qd_$s")): _*)
      .withColumn("adist",
        (0 until m).map(s => col(s"qd_$s")).reduce(_ + _))
    val pool = rankedNeighbors(scored,
        struct(col("adist"), col("neighbor_id").as("nid")), k * oversample)
      .select("query_id", "neighbor_id")
    val rescored = corpus.select(col(id).as("neighbor_id"), col(emb).as("n_emb"))
      .join(broadcast(pool), Seq("neighbor_id"))
      .join(broadcast(q0), Seq("query_id"))
      .withColumn("d", sqDist(col("q_emb"), col("n_emb")))
    rankedNeighbors(rescored.select(col("query_id"), col("d"), col("neighbor_id")),
      struct(col("d"), col("neighbor_id").as("nid")), k)
  }

  /** Embedding-cosine near-duplicate pairs (the embedding flavor of
    * [[Dedup]]): all unordered pairs with cosine ≥ `minCosine`, found via
    * LSH buckets + exact verification. Output: (a_id, b_id) with a < b.
    */
  def embeddingNearDups(
      corpus: DataFrame, id: String, emb: String,
      minCosine: Double, tables: Int = 8, bits: Int = 8, dim: Int = 64): DataFrame = {
    val keyed = corpus.select(col(id).as("vid"), col(emb).as("v"))
      .withColumn("_k", explode(lshKeys(col("v"), tables, bits, dim)))
      .select(col("vid"), col("v"), col("_k.tbl"), col("_k.bucket"))
    val a = keyed.select(col("tbl"), col("bucket"), col("vid").as("a_id"), col("v").as("a_v"))
    val b = keyed.select(col("tbl"), col("bucket"), col("vid").as("b_id"), col("v").as("b_v"))
    // verify-then-dedup: the exact cosine runs narrow inside the bucket
    // join (re-verifying a multi-bucket collision costs one 64-flop dot
    // product), and only the surviving BARE ID pairs shuffle through the
    // distinct — deduping first would shuffle every candidate pair with
    // both embedding payloads attached (measured 18× slower on a skewed
    // 9M-candidate bucket set)
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id") &&
        cosineSim(col("a_v"), col("b_v")) >= minCosine)
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
  }
}

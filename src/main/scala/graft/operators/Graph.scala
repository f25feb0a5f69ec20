package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Link-graph analytics over an edge list.
  *
  * The reference engine (tryfix/kstream) has no graph operator; this
  * extends the engine for the crawl-graph side of a training-data
  * pipeline, where a link-derived authority score is a standard
  * document-quality prior (the Common Crawl / OpenWebText recipe: rank
  * pages by incoming-link authority, keep the head). The iterative shape
  * reuses the engine's established patterns: per-round node-sized
  * frames against a pre-partitioned edge list, constant-depth lineage
  * via [[graft.plans.Materialize]] (same discipline as
  * [[Similarity.kMeansCentroids]] and [[Dedup.resolveComponentsStar]]).
  */
object Graph {

  /** Deterministic fixed-point PageRank: `iters` power-iteration rounds
    * with damping `dampNum/dampDen` (default 17/20 = 0.85), ranks held
    * as BIGINT multiples of 1/`scale` and every per-round operation an
    * integer multiply or floor division — no floating point anywhere, so
    * the result is a pure function of the edge set, independent of
    * partitioning, aggregation order, and engine (DuckDB computes the
    * identical values from the identical recurrence; `div` == `//` on
    * non-negatives). The floor divisions shave mass (as does any mass
    * arriving at a dangling node), which is the price of exactness: this
    * is the standard "discard dangling mass" PageRank variant, and the
    * per-round recurrence is
    *
    *   rank'(v) = base + Σ_{(u,v)∈E} ((rank(u)·dampNum) div dampDen) div outdeg(u)
    *   base     = (scale·(dampDen−dampNum)) div dampDen
    *
    * with rank₀(v) = scale for every node. Duplicate edges act as
    * parallel edges (each contributes once — multigraph semantics);
    * callers wanting simple-graph semantics distinct their edges first.
    *
    * OVERFLOW BOUND: total mass never exceeds N·scale (rounds only shave
    * mass), so every intermediate fits in a long iff
    * N·scale·dampNum < 2^63. The default scale=10^9 is safe to ~5·10^8
    * nodes; at web scale (10^10 nodes) pass scale=10^6 and the same
    * inequality holds with 10^12 of headroom. The require below enforces
    * a conservative static form of this bound when the caller supplies
    * `numNodes`.
    *
    * Scale shape: `edges` is joined once with its out-degrees,
    * repartitioned by `src`, and cached — each of the `iters` rounds
    * then (1) broadcasts nothing and shuffles only the node-sized rank
    * frame to the edge partitioning, (2) partial-aggregates the
    * contributions map-side before the dst-keyed shuffle, and (3)
    * left-joins back onto the node list so in-degree-0 nodes keep their
    * base rank. Nothing edge-sized ever reaches the driver; lineage is
    * cut per round. This is the Pregel message-passing shape expressed
    * in DataFrames — the form that survives a 100 TB edge list.
    *
    * Input: `edges` with long-compatible columns `src`, `dst`.
    * Output: (`node` long, `pr_rank` long) — one row per distinct node.
    */
  def pageRankExact(edges: DataFrame, iters: Int, scale: Long = 1000000000L,
      dampNum: Long = 17L, dampDen: Long = 20L,
      numNodes: Option[Long] = None): DataFrame =
    rankLoop(edges, None, None, iters, scale, dampNum, dampDen, numNodes)

  /** Personalized PageRank: identical integer recurrence, but the
    * teleport mass lands ONLY on the `seeds` node set — rank₀(v) = scale
    * and the per-round `base` term apply to seeds alone, every other
    * node starts at 0 and receives only link-propagated mass. This is
    * the trusted-seed quality-propagation signal of a crawl curation
    * pipeline ("how reachable is this page from the vetted set"): pages
    * no seed can reach stay at exactly 0, which makes the output
    * directly thresholdable. Seeds not present in the edge set still
    * emit (they hold teleport mass); determinism, overflow bound, and
    * the per-round plan are exactly [[pageRankExact]]'s.
    *
    * Input: `seeds` with a long-compatible column `node`.
    */
  def personalizedPageRankExact(edges: DataFrame, seeds: DataFrame,
      iters: Int, scale: Long = 1000000000L,
      dampNum: Long = 17L, dampDen: Long = 20L,
      numNodes: Option[Long] = None): DataFrame =
    rankLoop(edges, Some(seeds), None, iters, scale, dampNum, dampDen, numNodes)

  /** WARM-START PageRank rounds: run `rounds` rounds of the
    * [[pageRankExact]] recurrence over `edges` starting from a STANDING
    * rank frame instead of the all-`scale` initialization — the
    * incremental-refresh primitive ("edges arrived, refresh the ranks
    * from where they stood" — see
    * [[graft.streaming.StreamingGraph.pageRankAtIngest]]). Nodes absent
    * from `standing` (newly-arrived pages) start at `scale`, exactly the
    * batch initialization, so on a FROZEN edge set rounds COMPOSE:
    *
    *   pageRankRounds(e, pageRankRounds(e, r0, k), k')
    *     == pageRankRounds(e, r0, k + k') == pageRankExact(e, k + k')
    *
    * (an exact equality of integer recurrences, spec-pinned) — the
    * streaming form "catches up" to the batch answer round-for-round
    * rather than approximating it. The node universe is graph nodes ∪
    * standing nodes; a standing node that has no in-links in the current
    * edge set settles to the teleport base, as in batch.
    *
    * Input: `standing` with long-compatible (node, pr_rank); pass an
    * empty frame for a cold start. Per-round plan, overflow bound, and
    * determinism are exactly [[pageRankExact]]'s.
    */
  def pageRankRounds(edges: DataFrame, standing: DataFrame, rounds: Int,
      scale: Long = 1000000000L, dampNum: Long = 17L, dampDen: Long = 20L,
      numNodes: Option[Long] = None): DataFrame =
    rankLoop(edges, None, Some(standing), rounds, scale, dampNum, dampDen,
      numNodes)

  /** Deterministic integer HITS on a directed graph: `iters` full rounds
    * of the hub/authority mutual recursion, max-normalized in exact
    * integer arithmetic —
    *
    *   auth'(v) = Σ_{u→v} hub(u);  auth(v) = (auth'(v)·scale) div max auth'
    *   hub'(u)  = Σ_{u→v} auth(v); hub(u)  = (hub'(u)·scale) div max hub'
    *
    * with hub₀(u) = scale on every source node. Max-normalization (vs the
    * textbook L2 norm) keeps every value an exact integer in [0, scale]:
    * sums of longs and an integer max are order-independent, and the one
    * scaling step is a floor division of an exact decimal(38,0) product —
    * the same portable-arithmetic discipline as [[pageRankExact]], so any
    * engine replays the identical scores. The winner of each round's max
    * holds exactly `scale`.
    *
    * On a bipartite graph (the natural deployment: contributors→artifacts,
    * buyers→products, crawlers' page→host) hubs live on the src side and
    * authorities on the dst side, which is what makes the alternating
    * state single-valued per node. Overflow bound: Σ hub ≤ N·scale must
    * fit a long pre-normalization — the default scale=10^6 is safe to
    * ~9·10^12 nodes; the post-product decimal(38,0) has 10^12 headroom
    * beyond that.
    *
    * Scale shape: per half-round one edge join + dst- (or src-) keyed
    * partial-agg shuffle, a 1-row max broadcast, a narrow normalize, and
    * a checkpoint — nothing edge-sized at the driver, constant-depth
    * lineage. Output: (node, score, role) with role ∈ hub | auth, scores
    * from the final round.
    */
  def hitsBipartite(edges: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(scale > 0, s"need scale > 0, got $scale")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // ONE edge checkpoint serves both half-round join sides (r13):
    // pre-partitioned per-side copies bought nothing — every half-round
    // join re-exchanges the cached rows either way, and the second
    // materialization was pure cost
    val eCk = Materialize(e)
    // exact ⌊(raw·scale)/mx⌋: strip the remainder so the decimal divide is
    // of an exact multiple (the Corpus.ceilDivExact trick, floor flavor)
    def norm(raw: Column, mx: Column): Column = {
      val a = raw.cast("decimal(38,0)") * lit(scale).cast("decimal(19,0)")
      val b = mx.cast("decimal(38,0)")
      ((a - pmod(a, b)) / b).cast("long")
    }
    def halfRound(state: DataFrame, joinKey: String, outKey: String): DataFrame = {
      val raw = eCk.join(state.withColumnRenamed("node", joinKey), joinKey)
        .groupBy(col(outKey).as("node")).agg(sum(col("score")).as("_hRaw"))
      val mx = raw.agg(max(col("_hRaw")).as("_hMx"))
      raw.crossJoin(broadcast(mx))
        .select(col("node"), norm(col("_hRaw"), col("_hMx")).as("score"))
        .transform(Materialize(_))
    }
    val hubs0 = eCk.select(col("src").as("node")).distinct()
      .select(col("node"), lit(scale).as("score"))
      .transform(Materialize(_))
    val (auths, hubs) = (1 to iters).foldLeft((hubs0, hubs0)) {
      case ((prevA, h), _) =>
        val a = halfRound(h, "src", "dst")
        // the previous round's pair is superseded once `a` is stored
        if (prevA ne h) Materialize.release(prevA)
        Materialize.release(h)
        (a, halfRound(a, "dst", "src"))
    }
    auths.withColumn("role", lit("auth"))
      .unionByName(hubs.withColumn("role", lit("hub")))
  }

  /** Per-node neighborhood-size estimation — the HyperBall algorithm
    * (Boldi & Vigna, "In-Core Computation of Geometric Centralities with
    * HyperBall", 2013; all-public): every node carries a tiny HLL
    * register set seeded with itself, and each round bucket-wise-maxes in
    * its out-neighbors' registers, so after `radius` rounds node v's
    * sketch describes exactly the set of nodes reachable from v in ≤
    * radius hops. The per-node estimate then answers "how big is each
    * node's r-ball" — the reachability/centrality signal of a crawl
    * graph — without ever materializing the balls (which are quadratic
    * in the worst case).
    *
    * Everything is the engine's established portable arithmetic: the
    * registers are [[graft.functions.Sketches.hllRegisters]]' md5-derived
    * (bucket, rho) rows, the merge is an integer max, and the estimate is
    * [[graft.functions.Sketches.hllEstimate]]'s exact-integer denominator
    * with one correctly-rounded division — so a SQL engine replays the
    * identical estimates, and the op is oracle-checkable despite being
    * approximate. Self-loops are appended so the closed-ball recursion
    * needs no separate union-with-self: ball_r(v) = ⋃_{(v,w)∈E∪self}
    * ball_{r-1}(w), monotone by construction.
    *
    * Scale shape: state is ≤ m·N register rows (m = 2^p, p=4 default →
    * 16 per node); each round is one dst-keyed join against the
    * pre-partitioned closed edge list + a (node, bucket) partial-max
    * shuffle, checkpointed — the Pregel shape again, with counters
    * instead of ranks. Output: (node, m, v, s, est) per node, est ≈
    * |ball_radius(node)| including the node itself.
    */
  def neighborhoodSizes(edges: DataFrame, radius: Int, p: Int = 4): DataFrame = {
    require(radius >= 0, s"need radius >= 0, got $radius")
    // materialized once: the node-distinct (two scans) and the closed
    // edge list below would otherwise each re-execute the caller's
    // un-materialized edge subtree (r13, guide §1.2-1)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .transform(Materialize(_))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .transform(Materialize(_))
    // no pre-partitioning before the checkpoint (r13): the per-round
    // join re-exchanges the cached rows regardless, so the repartition
    // was a pure extra exchange
    val eplus = e
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .transform(Materialize(_))
    val regs0 = graft.functions.Sketches.hllRegisters(
      nodes, col("node").cast("string"), p, strata = Seq("node"))
    val regs = Materialize.rounds(regs0, radius) { (r, _) =>
      eplus.join(r.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("bucket"))
        .agg(max("rho").as("rho"))
    }
    graft.functions.Sketches.hllEstimate(regs, p, strata = Seq("node"))
  }

  /** Exact per-node triangle counts via degree orientation (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW'11; all-public) — the local-clustering signal of a
    * co-occurrence graph (spam farms triangulate, organic graphs have
    * characteristic coefficients), exact in one pass of equi-joins.
    *
    * Every undirected edge is oriented from its (degree, node)-smaller
    * endpoint to its larger one — a total order, so each edge is
    * oriented exactly once and each triangle is found exactly once: as
    * the wedge at its orientation-minimal vertex, closed by the edge
    * between the other two. The orientation is THE scale device: a
    * node's oriented out-degree is O(√m) regardless of its raw degree
    * (a hub's edges orient INTO it), so the wedge self-join's per-key
    * fanout — the "last reducer" that kills the naive algorithm on a
    * power-law graph — is bounded by arboricity, and total wedge work is
    * O(m^{3/2}).
    *
    * Plan: normalize to distinct undirected pairs [one shuffle] → degree
    * table [partial-agg shuffle] → orient (two bounded joins) → wedge
    * self-join on the oriented source + closure equi-join on the
    * node-ordered pair key → explode each triangle's 3 corners, count
    * per node. Self-loops are dropped; duplicate/bidirectional input
    * edges collapse in the normalize. Output: (node, degree,
    * n_triangles) for every node of the graph — all exact integers.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("_s"), col("dst").cast("long").as("_d"))
      .filter(col("_s") =!= col("_d"))
      .select(least(col("_s"), col("_d")).as("u"),
        greatest(col("_s"), col("_d")).as("v"))
      .distinct()
      .transform(Materialize(_))
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .transform(Materialize(_))
    val lower = struct(col("_du"), col("u")) < struct(col("_dv"), col("v"))
    val o = und
      .join(deg.select(col("n").as("u"), col("d").as("_du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("_dv")), Seq("v"))
      .select(when(lower, col("u")).otherwise(col("v")).as("a"),
        when(lower, col("v")).otherwise(col("u")).as("b"))
      .transform(Materialize(_)) // three consumers: two wedge sides + closure
    val wedges = o.select(col("a"), col("b").as("p"))
      .join(o.select(col("a"), col("b").as("q")), Seq("a"))
      .filter(col("p") < col("q"))
    val closing = o.select(least(col("a"), col("b")).as("p"),
      greatest(col("a"), col("b")).as("q"))
    val perNode = wedges.join(closing, Seq("p", "q"))
      .select(explode(array(col("a"), col("p"), col("q"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, all-public), made DETERMINISTIC the engine's way: `rounds`
    * full synchronous sweeps where every node adopts the most frequent
    * label among its in-neighbors, ties broken by the SMALLEST label —
    * an exact integer recurrence with no randomness, so a recursive-CTE
    * oracle replays it bit-for-bit (the async/random-order textbook
    * variant converges faster but is unreplayable; fixed-round sync is
    * the price of a provable answer). Communities are the label
    * partition after round `rounds`; labels are node ids, so the result
    * doubles as a canonical-member map. The DEDUP reading: where
    * connected components merge everything touching (the transitive
    * closure of near-dup pairs), label propagation splits a weakly
    * bridged blob into its dense cores — the finer clustering a curation
    * pipeline wants when chains over-merge.
    *
    * Scale shape: the Pregel shape of [[pageRankExact]] — edge list
    * pre-partitioned by src ONCE; each round shuffles (1) the node-sized
    * label frame to the edge partitioning, (2) map-side-combined
    * (dst, lbl) counts, (3) a dst-keyed argmax whose input is bounded by
    * the number of DISTINCT neighbor labels per node (≤ degree, collapses
    * toward 1 as communities form). The argmax is `max(struct(count,
    * -label))` — one aggregate, no window. Isolated or source-only nodes
    * (no in-edges) keep their current label via the node-table left join
    * (on a symmetrized graph every node has in-neighbors). Lineage cut
    * per round. Output: (node, lbl) long, one row per node.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    // no pre-partitioning before the checkpoints (r13, as in rankLoop)
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .transform(Materialize(_))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().transform(Materialize(_))
    val l0 = nodes.select(col("node"), col("node").as("lbl"))
    Materialize.rounds(l0, rounds) { (labels, _) =>
      val votes = e.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("_lpC"))
      val next = votes.groupBy("dst")
        .agg(max(struct(col("_lpC").as("c"), (-col("lbl")).as("nl"))).as("_lpM"))
        .select(col("dst").as("node"), (-col("_lpM.nl")).as("_lpNew"))
      labels.join(next, Seq("node"), "left")
        .select(col("node"), coalesce(col("_lpNew"), col("lbl")).as("lbl"))
    }
  }

  /** Unweighted single-source (really seed-SET) shortest paths: the
    * minimum hop count from any seed, up to `rounds` hops — the
    * crawl-frontier distance of a link-graph pipeline (how many clicks
    * from a trusted seed is this page?), and the standard BFS building
    * block. Exact and deterministic: distances are integers, the
    * recurrence is `dist(v, r) = min(dist(v, r-1), 1 + min over
    * in-neighbors u with dist(u) = r-1)`, so a recursive-CTE oracle
    * replays it bit-for-bit. Seeds hold distance 0 even when they never
    * appear in the edge list (an off-graph seed is still distance 0 from
    * itself); nodes unreached within `rounds` hops are ABSENT, not NULL —
    * the frame is a reachability certificate, not a node table.
    *
    * Scale shape: the [[pageRankExact]] Pregel discipline — the edge
    * list is shuffled ONCE (pre-partitioned by src, checkpointed); each
    * round joins only the FRONTIER (rows that gained their distance last
    * round, the BFS invariant that makes per-round work proportional to
    * newly-reached territory, not the whole reached set) against it,
    * then folds candidates into the distance frame with one map-side-
    * combined min aggregation over node-sized data. Lineage cut per
    * round. Output: (node, dist) long.
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .transform(Materialize(_))
    val d0 = seeds.select(col("node").cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
    Materialize.rounds(d0, rounds) { (dist, r) =>
      val frontier = dist.filter(col("dist") === lit(r - 1).cast("long"))
      val cand = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), lit(r.toLong).as("dist"))
      dist.union(cand)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }
  }

  /** Fixed-round k-core peeling on a SYMMETRIZED edge list (pass both
    * directions; degree is then out-degree): `rounds` synchronous sweeps,
    * each removing every node whose current degree is below `k` (and all
    * its edges) SIMULTANEOUSLY — the dense-subgraph extractor of a
    * curation pipeline (template farms and SEO link rings live in high
    * cores; long-tail organic content peels away). Synchronous fixed-round
    * semantics, like [[labelPropagation]], is the price of a provable
    * answer: the peel is an exact set recurrence, so an unrolled SQL
    * twin replays it bit-for-bit, and running it to the graph's
    * degeneracy depth yields the true k-core (each round is monotone; a
    * fixpoint round is idempotent, so overshooting `rounds` is safe).
    *
    * Scale shape: per round one partial-agg degree shuffle plus two
    * edge-sized shuffle semi-joins (survivor set is node-sized but not
    * bounded, so no forced broadcast); the surviving edge set only
    * shrinks, so per-round cost is monotone non-increasing; lineage cut
    * per round. Output: (node, deg) long — survivors after `rounds`
    * sweeps with their in-core degree.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1 and rounds >= 0, got $k, $rounds")
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
    val peeled = Materialize.rounds(e0, rounds) { (e, _) =>
      val keep = e.groupBy("src").agg(count(lit(1)).as("_kcD"))
        .filter(col("_kcD") >= k).select("src")
      e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    peeled.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("deg"))
  }

  private def rankLoop(edges: DataFrame, seeds: Option[DataFrame],
      standing: Option[DataFrame],
      iters: Int, scale: Long, dampNum: Long, dampDen: Long,
      numNodes: Option[Long]): DataFrame = {
    require(iters >= 0, s"need iters >= 0, got $iters")
    require(seeds.isEmpty || standing.isEmpty,
      "warm-start is defined for the plain (all-teleport) recurrence only")
    require(scale > 0 && dampNum > 0 && dampDen > dampNum,
      s"need scale > 0 and 0 < dampNum < dampDen, got $scale, $dampNum/$dampDen")
    numNodes.foreach { n =>
      require(n > 0 && n <= Long.MaxValue / scale / dampNum,
        s"overflow bound violated: $n nodes * scale $scale * dampNum " +
          s"$dampNum exceeds long range — shrink scale")
    }
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // out-degrees ride along with every edge so the per-round join is
    // rank-to-edge only. Checkpointed, and measured-preferred over
    // persist() (r13): each round DOES re-exchange the checkpointed edge
    // rows — but the persist()
    // alternative, whose InMemoryRelation would keep the hash(src)
    // partitioning and skip those exchanges, measured WORSE
    // (q_pagerank/q_ppr/q_hits/q_neighborhood batch 21.7 → 27.1 s at
    // sf0.1: the columnar cache build + per-round scan conversion cost
    // more than the saved exchanges). Raw checkpoint blocks re-shuffle
    // cheaper than a columnar cache reads.
    val eOut = e.join(e.groupBy("src").agg(count(lit(1)).as("_prD")), "src")
      .transform(Materialize(_))
    // warm-start mode widens the universe with standing nodes (a page
    // ranked in an earlier refresh stays ranked even if the current edge
    // slice never mentions it). Nodes derive from the CHECKPOINTED eOut
    // (same edge set — the degree join is inner on src and every edge
    // has a degree): deriving them from `e` would execute the caller's
    // un-materialized edge subtree two more times (r13, guide §1.2-1)
    val graphNodes = standing.foldLeft(
        eOut.select(col("src").as("node"))
          .union(eOut.select(col("dst").as("node")))) { (g, st) =>
      g.union(st.select(col("node").cast("long").as("node")))
    }.distinct()
    // seed mode: teleport targets are flagged; off-graph seeds still hold
    // mass, so the node universe is the union. The seed set is node-sized
    // at most and usually tiny — plain distinct+outer-join, no new shape.
    // node table, checkpointed once (same persist-vs-checkpoint
    // measurement as eOut)
    val nodes = seeds.fold(
        graphNodes.select(col("node"), lit(true).as("_prT"))) { sd =>
      graphNodes.join(
          sd.select(col("node").cast("long").as("node"), lit(true).as("_prT"))
            .distinct(),
          Seq("node"), "full_outer")
        .select(col("node"), coalesce(col("_prT"), lit(false)).as("_prT"))
    }.transform(Materialize(_))
    val base = scale * (dampDen - dampNum) / dampDen
    val baseCol = when(col("_prT"), lit(base)).otherwise(lit(0L))
    val coldR0 = when(col("_prT"), lit(scale)).otherwise(lit(0L))
    val r0 = standing.fold(nodes.select(col("node"), coldR0.as("pr_rank"))) { st =>
      // warm start: standing rank where one exists, batch init otherwise
      nodes.join(
          st.select(col("node").cast("long").as("node"),
            col("pr_rank").cast("long").as("_prR0")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("_prR0"), coldR0).as("pr_rank"))
    }
    Materialize.rounds(r0, iters) { (ranks, _) =>
      val contribs = eOut
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr(s"((pr_rank * ${dampNum}L) div ${dampDen}L) div _prD").as("_prC"))
        .groupBy("dst").agg(sum(col("_prC")).as("_prS"))
      nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (baseCol + coalesce(col("_prS"), lit(0L))).as("pr_rank"))
    }
  }

  /** Deterministic greedy matching by iterated MUTUAL best choice — the
    * similar-document PAIRING step of similarity-ordered pretraining
    * (Shi et al. 2023, "In-Context Pretraining": pack related documents
    * adjacently so the context window carries real long-range signal;
    * pairing near-dup-adjacent docs is the 2-chain core of that
    * ordering). Input: an undirected weighted pair list (a, b, score —
    * INTEGER scores, e.g. shared-shingle counts, for cross-engine
    * exactness). Per round, every unmatched node picks its best
    * available neighbor (score desc, partner id asc — a total order),
    * and exactly the MUTUAL picks marry; matched nodes leave the pool.
    * The classic parallel greedy: the globally best available edge is
    * always mutual, so every round commits ≥ 1 pair and the loop
    * terminates; `maxRounds` caps pathological preference chains and is
    * part of the operator contract (an oracle replays the same K
    * rounds, so capped and converged runs agree either way).
    *
    * Scale shape: rounds are Pregel-style — one partial-agg argmax over
    * the available edges (map-side combined), one self-equi-join of the
    * node-sized best table on (node, partner), two anti-joins to shrink
    * the pool; per-round lineage cut, no window, no global sort.
    * Matched output is node-sized; the edge frame is reused across
    * rounds from one checkpoint. Output: (node_a, node_b, score),
    * node_a < node_b, each node in at most one row.
    */
  def mutualBestMatching(pairs: DataFrame, a: String, b: String,
      score: String, maxRounds: Int = 16): DataFrame = {
    require(maxRounds >= 1, s"need maxRounds >= 1, got $maxRounds")
    // materialized BEFORE the symmetrizing union: `pairs` is usually an
    // expensive candidate-verify subtree (jaccardPairs), and the union's
    // two branches would each execute it (r13, guide §1.2-1). The union
    // itself stays a view — two cached scans + a filter per consumer is
    // cheaper than double-storing the edge list
    val half = pairs.select(col(a).cast("long").as("_mbN"),
      col(b).cast("long").as("_mbM"), col(score).cast("long").as("_mbS"))
      .transform(Materialize(_))
    val edges = half
      .unionByName(half.select(col("_mbM").as("_mbN"),
        col("_mbN").as("_mbM"), col("_mbS")))
      .filter(col("_mbN") =!= col("_mbM"))
    var out: DataFrame = null
    var matched: DataFrame = null
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      // full-edges anti-joins per round, NOT a shrinking materialized
      // pool: the shrinking-avail variant (anti-join the standing avail
      // against only the round's matches, checkpoint per round — the r13
      // deferred probe #4) was measured and REJECTED at BOTH scale
      // points (r14, back-to-back min_of_2): sf0.1 q_mutual_match
      // 6.15 → 6.08 reverted-vs-shrinking same-window (neutral) and
      // 10× scale10 q_mutual_match 15.00 → 15.61 / q_icp_attach
      // 24.51 → 26.93 (worse) — the per-round edge-sized checkpoint
      // write never repays the two anti-joins it saves; those plan as
      // hash probes of the static checkpointed edge list against
      // node-sized match tables and shrink their OUTPUT (not their
      // input) as the pool empties
      val avail =
        if (matched == null) edges
        else edges
          .join(matched, Seq("_mbN"), "left_anti")
          .join(matched.select(col("_mbN").as("_mbM")), Seq("_mbM"), "left_anti")
      // best available partner per node: max (score, -partner) — the
      // same total order the oracle replays as an integer pack
      val best = avail.groupBy("_mbN")
        .agg(max(struct(col("_mbS"), (-col("_mbM")).as("_mbG"))).as("_mbB"))
        .select(col("_mbN"), (-col("_mbB._mbG")).as("_mbP"),
          col("_mbB._mbS").as("_mbS"))
        .transform(Materialize(_)) // self-joined below; measured r13: an
        // un-materialized best re-executes avail's anti-joins per side
        // and regressed q_icp_attach 11.7 → 27 s — keep the checkpoint
      val mutual = best.select(col("_mbN").as("node_a"),
          col("_mbP").as("node_b"), col("_mbS").as("score"))
        .join(best.select(col("_mbP").as("node_a"), col("_mbN").as("node_b")),
          Seq("node_a", "node_b"))
        .filter(col("node_a") < col("node_b"))
        .transform(Materialize(_))
      Materialize.release(best)
      if (mutual.isEmpty) {
        done = true
        if (out == null) out = mutual else Materialize.release(mutual)
      } else {
        // the growing out/matched unions are RE-CHECKPOINTED each round
        // on purpose: keeping them as views over the per-round mutual
        // checkpoints (saving 2 node-sized materialization jobs/round)
        // was measured and REJECTED (r14, isolated back-to-back
        // min_of_2 at sf0.1: icp family 23.6 → 27.2 s; q_icp_attach
        // 7.75 → 9.01, q_icp_pack 6.06 → 7.20, q_mutual_match
        // 4.76 → 5.31) — matched is probed twice per round and a
        // union-of-k-scans right side re-pays k scans + an exchange per
        // probe, losing more than the one compact write saves
        val (prevOut, prevMatched) = (out, matched)
        out = if (out == null) mutual
          else Materialize(out.unionByName(mutual))
        val newM = mutual.select(col("node_a").as("_mbN"))
          .unionByName(mutual.select(col("node_b").as("_mbN")))
        matched = Materialize(if (matched == null) newM
          else matched.unionByName(newM))
        if (prevOut != null) {
          Materialize.release(prevOut)
          Materialize.release(mutual)
        }
        if (prevMatched != null) Materialize.release(prevMatched)
        round += 1
      }
    }
    if (matched != null) Materialize.release(matched)
    out
  }
}

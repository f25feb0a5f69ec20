package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala twin of the pageRankExact recurrence (Long `/` truncates
    * toward zero == floor on the non-negative values here).
    */
  private def model(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000L): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val base = scale * 3 / 20
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ((r(s) * 17) / 20) / out(s) }.sum).toMap
      r = nodes.map(n => n -> (base + contrib.getOrElse(n, 0L))).toMap
    }
    r
  }

  private val g = Seq( // hub 1, a cycle, a source-only node 4, one parallel edge
    (1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (4L, 1L))

  /** Ids of the session's persistent RDDs (local checkpoints included). */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("pageRankExact frees the rounds it replaced: as many frames stay " +
      "stored after 6 rounds as after 1") {
    // the result is materialized when the call returns; counted right
    // away, before driver GC can drop unreferenced frames from the map
    def stored(iters: Int): Int = {
      val before = persisted()
      val ranks = Graph.pageRankExact(g.toDF("src", "dst"), iters)
      val n = (persisted() -- before).size
      assert(ranks.as[(Long, Long)].collect().toMap === model(g, iters))
      n
    }
    assert(stored(6) === stored(1))
  }

  test("pageRankExact matches the integer recurrence exactly") {
    val got = Graph.pageRankExact(g.toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === model(g, 3))
  }

  test("pageRankExact: zero iterations returns the uniform start; " +
      "in-degree-0 nodes hold exactly base after any round") {
    val r0 = Graph.pageRankExact(g.toDF("src", "dst"), iters = 0)
      .as[(Long, Long)].collect().toMap
    assert(r0 === Map(1L -> 1000000000L, 2L -> 1000000000L,
      3L -> 1000000000L, 4L -> 1000000000L))
    val r2 = Graph.pageRankExact(g.toDF("src", "dst"), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2(4L) === 150000000L) // nothing points at 4: base only
  }

  test("pageRankRounds: warm-start rounds compose exactly with the batch recurrence") {
    val e = g.toDF("src", "dst")
    val cold = Seq.empty[(Long, Long)].toDF("node", "pr_rank")
    // k rounds then k' rounds from the standing frame == k+k' batch rounds
    val twoThenThree = Graph.pageRankRounds(e,
      Graph.pageRankRounds(e, cold, 2), 3)
      .as[(Long, Long)].collect().toMap
    assert(twoThenThree === model(g, 5))
    // a standing node the edge slice never mentions stays in the universe
    // (no in-links → settles to base), a new node enters at scale
    val standing = Seq((99L, 123456789L)).toDF("node", "pr_rank")
    val one = Graph.pageRankRounds(e, standing, 1)
      .as[(Long, Long)].collect().toMap
    assert(one(99L) === 1000000000L * 3 / 20)
    assert(one.keySet === model(g, 1).keySet + 99L)
    assert((one - 99L) === model(g, 1))
  }

  test("pageRankExact is partitioning-invariant and mass never grows") {
    val df = g.toDF("src", "dst")
    val a = Graph.pageRankExact(df, iters = 4).as[(Long, Long)].collect().toMap
    val b = Graph.pageRankExact(df.repartition(7), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    // floor divisions and dangling arrivals only shave mass
    assert(a.values.sum <= 4L * 1000000000L)
  }

  /** Seeded twin of [[model]]: teleport/start mass only on `seeds`. */
  private def modelPpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int,
      scale: Long = 1000000000L): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = ((edges.map(_._1) ++ edges.map(_._2)).toSet ++ seeds).toSeq
    val base = scale * 3 / 20
    var r = nodes.map(n => n -> (if (seeds(n)) scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ((r(s) * 17) / 20) / out(s) }.sum).toMap
      r = nodes.map(n =>
        n -> ((if (seeds(n)) base else 0L) + contrib.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("personalizedPageRankExact: seed-only teleport, unreachable nodes at 0, " +
      "off-graph seeds hold base") {
    val seeds = Set(1L, 9L) // 9 has no edges at all
    val got = Graph.personalizedPageRankExact(g.toDF("src", "dst"),
        seeds.toSeq.toDF("node"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === modelPpr(g, seeds, 3))
    assert(got(9L) === 150000000L) // isolated seed: base only after round 1
    assert(got(4L) === 0L) // nothing points at 4 and it is no seed
    assert(got(2L) > 0L) // reachable from seed 1
  }

  /** Plain-Scala twin of hitsBipartite (BigInt product, floor division). */
  private def modelHits(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Map[(Long, String), Long] = {
    def fd(v: Long, mx: Long): Long = (BigInt(v) * scale / mx).toLong
    var h = edges.map(_._1).distinct.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val rawA = edges.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
      a = rawA.view.mapValues(fd(_, rawA.values.max)).toMap
      val rawH = edges.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
      h = rawH.view.mapValues(fd(_, rawH.values.max)).toMap
    }
    a.map { case (n, v) => (n, "auth") -> v } ++
      h.map { case (n, v) => (n, "hub") -> v }
  }

  test("hitsBipartite matches the integer recurrence; max holders score exactly scale") {
    val bip = Seq((1L, 2L), (1L, 4L), (3L, 2L), (5L, 2L), (5L, 6L))
    val got = Graph.hitsBipartite(bip.toDF("src", "dst"), iters = 3)
      .as[(Long, Long, String)].collect()
      .map { case (n, v, r) => (n, r) -> v }.toMap
    assert(got === modelHits(bip, 3))
    // node 2 has every hub pointing at it: it is the max authority
    assert(got((2L, "auth")) === 1000000L)
    assert(got.values.forall(v => v >= 0 && v <= 1000000L))
    // partitioning invariance
    val re = Graph.hitsBipartite(bip.toDF("src", "dst").repartition(5), iters = 3)
      .as[(Long, Long, String)].collect()
      .map { case (n, v, r) => (n, r) -> v }.toMap
    assert(re === got)
  }

  test("neighborhoodSizes: converged ball equals the component's direct HLL estimate") {
    import graft.functions.Sketches
    // two components: {1,2,3} (a path) and {10,11}; radius 5 ≥ diameter
    val comp = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L))
    val got = Graph.neighborhoodSizes(comp.toDF("src", "dst"), radius = 5, p = 4)
      .select("node", "s", "est").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // every node of a component must report the identical converged sketch
    def direct(ns: Seq[Long]) = Sketches.hllEstimate(
        Sketches.hllRegisters(ns.toDF("x"), col("x").cast("string"), p = 4), p = 4)
      .select("s", "est").as[(Long, Double)].head()
    val a = direct(Seq(1L, 2L, 3L))
    val b = direct(Seq(10L, 11L))
    assert(Seq(1L, 2L, 3L).map(got) === Seq(a, a, a))
    assert(Seq(10L, 11L).map(got) === Seq(b, b))
    // radius 0: each node sees only itself
    val r0 = Graph.neighborhoodSizes(comp.toDF("src", "dst"), radius = 0, p = 4)
      .select("node", "s").as[(Long, Long)].collect().toMap
    val self1 = direct(Seq(1L))._1
    assert(r0(1L) === self1)
    // monotone: growing radius never shrinks the ball (s never grows)
    val r1 = Graph.neighborhoodSizes(comp.toDF("src", "dst"), radius = 1, p = 4)
      .select("node", "s").as[(Long, Long)].collect().toMap
    assert(r1.forall { case (n, s) => s <= r0(n) && got(n)._1 <= s })
  }

  test("neighborhoodSizes at p=8: second-precision registers converge and estimate tightly") {
    import graft.functions.Sketches
    // the precision parameter must be PROVEN, not just plumbed: the same
    // converged-ball property at p=8 (256 registers vs p=4's 16), where
    // the small-range estimator sits in its linear-counting regime and
    // the 3-node component estimates within a few percent (p=4's ~26%
    // relative error envelope is the documented demo trade-off)
    val comp = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L))
    val got = Graph.neighborhoodSizes(comp.toDF("src", "dst"), radius = 5, p = 8)
      .select("node", "s", "est", "v").as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3), r._4)).toMap
    def direct(ns: Seq[Long]) = Sketches.hllEstimate(
        Sketches.hllRegisters(ns.toDF("x"), col("x").cast("string"), p = 8), p = 8)
      .select("s", "est").as[(Long, Double)].head()
    val a = direct(Seq(1L, 2L, 3L))
    val b = direct(Seq(10L, 11L))
    assert(Seq(1L, 2L, 3L).map(n => got(n)._1) === Seq(a, a, a))
    assert(Seq(10L, 11L).map(n => got(n)._1) === Seq(b, b))
    // the estimator is deliberately raw (hllEstimate scaladoc: v is
    // returned so the caller applies range corrections); in the
    // small-range regime linear counting over v = untouched registers
    // recovers the ball size within a few percent at m = 256
    def lc(v: Long): Double = 256.0 * math.log(256.0 / v)
    assert(math.abs(lc(got(1L)._2) - 3.0) / 3.0 <= 0.05,
      s"p=8 linear-counting estimate of a 3-ball drifted: ${lc(got(1L)._2)}")
    assert(math.abs(lc(got(10L)._2) - 2.0) / 2.0 <= 0.05,
      s"p=8 linear-counting estimate of a 2-ball drifted: ${lc(got(10L)._2)}")
  }

  test("triangleCounts: exact per-node counts; orientation finds each triangle once") {
    // K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a pendant
    // node 5 and an isolated edge 6-7; input deliberately messy: both
    // directions, duplicates, and a self-loop
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (6L, 6L))
    val got = Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got === Seq(
      (1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 4L, 3L),
      (5L, 1L, 0L), (6L, 1L, 0L), (7L, 1L, 0L)))
    // partitioning invariance
    val re = Graph.triangleCounts(edges.toDF("src", "dst").repartition(5))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(re === got)
  }

  test("labelPropagation: two bridged triangles split into their cores; replay equals engine") {
    val raw = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (raw ++ raw.map(e => (e._2, e._1))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // the bridge does not merge the triangles: each keeps its own core label
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(1L) !== got(4L), "bridged triangles must stay separate communities")
  }

  test("labelPropagation: randomized graphs equal the sequential synchronous replay") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(8)
      val raw = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val sym = (raw ++ raw.map(e => (e._2, e._1))).distinct
      val rounds = 1 + rnd.nextInt(3)
      // sequential synchronous replay: most frequent in-neighbor label,
      // ties to smallest; nodes with no in-edges keep their label
      val nodes = sym.flatMap(e => Seq(e._1, e._2)).distinct
      var lbl = nodes.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        val next = sym.groupBy(_._2).map { case (dst, es) =>
          val cnts = es.map(e => lbl(e._1)).groupBy(identity).view
            .mapValues(_.size).toMap
          val best = cnts.toSeq.map { case (l, c) => (-c, l) }.min._2
          dst -> best
        }
        lbl = lbl.map { case (v, l) => v -> next.getOrElse(v, l) }
      }
      val got = Graph.labelPropagation(sym.toDF("src", "dst"), rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === lbl, s"trial $trial (n=$n rounds=$rounds) mismatch")
    }
  }

  test("shortestPaths: BFS distances from a seed set; off-graph seeds at 0; " +
      "rounds cap respected; unreached nodes absent") {
    // 1→2→3→4 chain, branch 2→5, cycle back 4→1, isolated seed 9
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (4L, 1L))
    val edges = raw.toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("node")
    val got = Graph.shortestPaths(edges, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 2L))
    // full depth: node 4 appears at 3; the cycle never shrinks 1 below 0
    val full = Graph.shortestPaths(edges, seeds, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(full === Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 2L, 4L -> 3L))
    // rounds = 0: exactly the distinct seed set
    val r0 = Graph.shortestPaths(edges, seeds.union(seeds), rounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(r0 === Map(1L -> 0L, 9L -> 0L))
  }

  test("shortestPaths: randomized graphs equal sequential BFS at every depth") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(8)
      val raw = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val seeds = Seq.fill(2)(rnd.nextInt(n).toLong).distinct
      val rounds = 1 + rnd.nextInt(4)
      var dist = seeds.map(_ -> 0L).toMap
      for (r <- 1 to rounds) {
        val frontier = dist.filter(_._2 == r - 1).keySet
        val cand = raw.filter(e => frontier(e._1)).map(_._2)
        dist = dist ++ cand.filterNot(dist.contains).map(_ -> r.toLong)
      }
      val got = Graph.shortestPaths(raw.toDF("src", "dst"),
          seeds.toDF("node"), rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === dist, s"trial $trial (n=$n rounds=$rounds) mismatch")
    }
  }

  test("kCore: path peels two endpoints per sweep (the cascade); clique is a fixpoint") {
    // P6 path + disjoint 4-clique, symmetrized; k=2
    val path = (1L to 5L).map(i => (i, i + 1))
    val kq = for (a <- 11L to 14L; b <- 11L to 14L if a < b) yield (a, b)
    val raw = path ++ kq
    val edges = (raw ++ raw.map(e => (e._2, e._1))).toDF("src", "dst")
    def surv(rounds: Int): Map[Long, Long] =
      Graph.kCore(edges, k = 2, rounds = rounds)
        .as[(Long, Long)].collect().toMap
    // sweep 1 drops path endpoints 1,6; sweep 2 drops 2,5; sweep 3 drops 3,4
    assert(surv(1).keySet === Set(2L, 3L, 4L, 5L, 11L, 12L, 13L, 14L))
    assert(surv(2).keySet === Set(3L, 4L, 11L, 12L, 13L, 14L))
    assert(surv(3).keySet === Set(11L, 12L, 13L, 14L))
    // overshooting rounds is safe: the clique (degree 3 >= 2) is a fixpoint
    assert(surv(8) === Map(11L -> 3L, 12L -> 3L, 13L -> 3L, 14L -> 3L))
    // k above the clique degree empties the graph
    assert(Graph.kCore(edges, k = 4, rounds = 8).count() === 0L)
  }

  test("kCore: randomized graphs equal the sequential synchronous peel") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 10 + rnd.nextInt(8)
      val raw = Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val sym = (raw ++ raw.map(e => (e._2, e._1))).distinct
      val k = 2 + rnd.nextInt(3)
      val rounds = 1 + rnd.nextInt(4)
      var es = sym.toSet
      for (_ <- 1 to rounds) {
        val deg = es.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        es = es.filter(e => keep(e._1) && keep(e._2))
      }
      val expect = es.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val got = Graph.kCore(sym.toDF("src", "dst"), k, rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === expect, s"trial $trial (n=$n k=$k rounds=$rounds) mismatch")
    }
  }

  test("pageRankExact enforces the static overflow bound when numNodes given") {
    val e = intercept[IllegalArgumentException] {
      Graph.pageRankExact(g.toDF("src", "dst"), iters = 1,
        numNodes = Some(Long.MaxValue / 2))
    }
    assert(e.getMessage.contains("overflow"))
  }

  /** Sequential model of [[Graph.mutualBestMatching]]'s round semantics. */
  private def localMbm(pairs: Seq[(Long, Long, Long)],
      maxRounds: Int): Set[(Long, Long, Long)] = {
    val edges = pairs.flatMap { case (x, y, s) => Seq((x, y, s), (y, x, s)) }
      .filter(e => e._1 != e._2)
    var matched = Set.empty[Long]
    var out = Set.empty[(Long, Long, Long)]
    var round = 0
    var go = true
    while (round < maxRounds && go) {
      val avail = edges.filter(e => !matched(e._1) && !matched(e._2))
      val best = avail.groupBy(_._1).map { case (n, es) =>
        val e = es.maxBy(x => (x._3, -x._2))
        n -> ((e._2, e._3))
      }
      val mutual = best.collect {
        case (n, (m, s)) if n < m && best.get(m).exists(_._1 == n) => (n, m, s)
      }.toSet
      if (mutual.isEmpty) go = false
      else {
        out ++= mutual
        matched ++= mutual.flatMap(p => Seq(p._1, p._2))
        round += 1
      }
    }
    out
  }

  test("mutualBestMatching: hand case needs two rounds; each node matched at most once") {
    // path 1-2-3-4: round 1 marries (2,3) (the mutual top edge; 1 and 4
    // point at taken partners), round 2 marries the freed (1,4)
    val pairs = Seq((1L, 2L, 9L), (2L, 3L, 10L), (3L, 4L, 8L), (1L, 4L, 1L))
    val got = Graph.mutualBestMatching(
        pairs.toDF("a", "b", "s"), "a", "b", "s")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 3L, 10L), (1L, 4L, 1L)))
    // maxRounds = 1 stops after the first marriage (the oracle contract)
    val one = Graph.mutualBestMatching(
        pairs.toDF("a", "b", "s"), "a", "b", "s", maxRounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(one === Set((2L, 3L, 10L)))
    // empty input: empty output, right schema
    val none = Graph.mutualBestMatching(
      Seq.empty[(Long, Long, Long)].toDF("a", "b", "s"), "a", "b", "s")
    assert(none.columns.toSeq === Seq("node_a", "node_b", "score"))
    assert(none.count() === 0)
  }

  test("mutualBestMatching equals the sequential round model on randomized graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val pairs = (0 until 60).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, rnd.nextInt(12).toLong + 1)
      }.distinct
      val got = Graph.mutualBestMatching(
          pairs.toDF("a", "b", "s"), "a", "b", "s")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === localMbm(pairs, 16), s"seed=$seed")
      // valid matching: no node appears twice
      val nodes = got.toSeq.flatMap(p => Seq(p._1, p._2))
      assert(nodes.distinct.size === nodes.size, s"seed=$seed not a matching")
    }
  }
}

package graft
import org.apache.spark.sql.SparkSession

import graft.plans.Materialize

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink: computes every output column (count() would let
      // Catalyst prune the projections away and overstate throughput)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // per-query isolation: drop cached frames and materializations
      // before the next query — 200+ plans through one JVM otherwise pile
      // blocks up in the block manager until GC, and one contended run can
      // overstate a query by >10x (BENCH_r03 recorded 57 s for a 3 s query)
      Materialize.releaseAll(spark)
      sec
    }
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (profiling aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // ---- machine-state calibration (VERDICT r11 task 3): same-code
    // bench drift used to need a cross-round forensic NOTES table each
    // time; record the evidence IN the artifact instead. loadavg at
    // start+end, plus a fixed 3-query canary run before AND after the
    // sweep — canaries disagreeing >20% flag the sweep as contended in
    // the JSON itself. Full sweeps only (a SPARK_GRAFT_ONLY profiling
    // run is not an artifact anyone adjudicates).
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "" }
    val canaryNames = Seq("q1_pricing_summary", "q_filter", "q_dedup_best")
    def runCanaries(): Map[String, Double] =
      if (only.isDefined) Map.empty
      else canaryNames.flatMap(n => SparkEntry.queries.get(n).flatMap { fn =>
        // a canary failure is recorded as absent, NOT thrown: the main
        // sweep loop survives per-query failures, and a broken canary
        // aborting the whole 200+-query artifact would invert the
        // calibration's purpose (the sweep still runs; the contended
        // flag just loses that canary's vote)
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Materialize.releaseAll(spark)
          Some(n -> (System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] canary $n FAILED: ${e.getMessage}")
            None
        }
      }).toMap
    val loadStart = loadavg()
    // warmup pass (JIT, codegen cache, parquet footers), then a timed
    // pass; each query records the MIN of the two. The environment's
    // noise is strictly one-sided (a shared disk measured swinging 3.3×
    // on identical writes — SCALING.md), so min-of-2 is the stable
    // statistic: a single contended pass can't poison the artifact in
    // either direction, and the stat is declared in the JSON.
    val warm: Map[String, Double] =
      if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1") {
        val w = ordered.map { case (n, fn) => n -> run(n, fn) }.toMap
        // a query that failed in warmup has a bogus time-to-failure, not a
        // measurement — it must not win the min
        val usable = w -- failed
        failed.clear() // only the timed pass decides the machine-readable marker
        usable
      } else Map.empty
    // canary_pre is sampled AFTER the warmup pass, so both canary
    // samples bracket the timed pass at the SAME JVM maturity. The
    // original pre-sweep placement (even behind a throwaway canary
    // pass) measured JIT/page-cache warm-up, not weather: every r12/r13
    // sweep — including ones launched at loadavg 0.1 on an idle box —
    // read pre≈2×post across all three canaries and self-flagged
    // contended, making the refusal gate unsatisfiable. With no warmup
    // pass (SPARK_GRAFT_WARMUP=0) a throwaway canary pass stands in as
    // the warmer, as before.
    if (warm.isEmpty) runCanaries()
    val canaryPre = runCanaries()
    // queries missing from `warm` under min_of_2 (they failed warmup) carry
    // a SINGLE cold sample despite the global stat — declared per query so
    // a comparator doesn't trust them as noise-resistant minima
    val singleSample = ordered.map(_._1).filterNot(warm.contains)
    val results = ordered.map { case (name, fn) =>
      val timed = run(name, fn)
      val best = warm.get(name).fold(timed)(math.min(timed, _))
      name -> (if (failed(name)) timed else best)
    }
    val stat = if (warm.nonEmpty) "min_of_2" else "single_cold"
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = results.collect { case (k, v) if !failed(k) => v }.sum
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + (if (failed(k)) "-1" else fmt(v)) }
        .mkString("{", ",", "}")
    // Full per-query timings go to a file; the stdout line carries only the
    // slowest queries. The driver keeps just the last ~2000 chars of stdout,
    // and a JSON line listing every query overflows that window and fails
    // to parse (this is exactly what happened to BENCH_r01/r02).
    val singleJson =
      if (stat == "min_of_2" && singleSample.nonEmpty)
        s""""single_sample":${singleSample.map(n => s""""$n"""").mkString("[", ",", "]")},"""
      else ""
    val canaryPost = runCanaries()
    // contended iff any canary got >20% SLOWER from pre to post. One-sided
    // on purpose (r14): external contention slows the canaries down,
    // while continued JIT maturation across a 200+-query sweep makes the
    // post canaries reliably FASTER than pre — the old symmetric
    // |Δ|>20% rule flagged every clean full sweep on this box as
    // contended (both r14 full sweeps: post ≈ pre/1.4 with an improving
    // canary on an idle machine), which is the same unsatisfiable-gate
    // failure mode the warmup-bracketing fix addressed
    val contended = !only.isDefined && canaryNames.exists(n =>
      (canaryPre.get(n), canaryPost.get(n)) match {
        case (Some(a), Some(b)) if a > 0 => b / a > 1.2
        case _ => false
      })
    val calibrationJson = if (only.isDefined) "" else {
      def cj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      s""""calibration":{"loadavg_start":"$loadStart",""" +
        s""""loadavg_end":"${loadavg()}","canary_pre":${cj(canaryPre)},""" +
        s""""canary_post":${cj(canaryPost)},"contended":$contended},"""
    }
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
        s""""queries":${qjson(results)},"failed":$failedJson,$singleJson$calibrationJson"stat":"$stat","sf":"$sfDir"}"""
    // restricted runs (SPARK_GRAFT_ONLY) are profiling aids — they must
    // not clobber the canonical full-suite artifact (a scale sweep once
    // overwrote BENCH_FULL.json with a 3-query run and the truncated
    // artifact got committed). SPARK_GRAFT_ARTIFACT names the output
    // explicitly — the standing 100× sweep writes BENCH_100x.json with it
    val named = sys.env.getOrElse("SPARK_GRAFT_ARTIFACT",
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json")
    // r13 lesson: the caller-named artifact ALWAYS gets the full per-query
    // JSON. The old refusal gate diverted a contended sweep targeting
    // BENCH_FULL.json to BENCH_CONTENDED.json — which hid the r13 driver's
    // own 32-core per-query data from the adjudicator (its 8-core sweep
    // then overwrote the diverted copy too). The contended verdict is
    // recorded INSIDE the JSON (calibration.contended), so the reader can
    // judge the sweep; protection of the git-committed canonical copy is
    // git's job, not a data-custody divert's. A contended full-suite sweep
    // additionally mirrors to BENCH_CONTENDED.json so a later clean run
    // can overwrite BENCH_FULL.json without losing the flagged evidence.
    val artifact = named
    def writeArtifact(path: String): Unit = {
      val out = new java.io.PrintWriter(path)
      try out.println(fullJson) finally out.close()
    }
    writeArtifact(artifact)
    if (named == "BENCH_FULL.json" && contended) {
      System.err.println("[bench] sweep flagged CONTENDED — " +
        "BENCH_FULL.json written with calibration.contended=true; " +
        "flagged mirror kept at BENCH_CONTENDED.json")
      writeArtifact("BENCH_CONTENDED.json")
    }
    // "slowest", not "queries": the stdout map is truncated to 20 entries,
    // and reusing the full-map field name would let an old parser silently
    // read partial data — the complete map lives in BENCH_FULL.json
    val slowest = results.sortBy(-_._2).take(20)
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""slowest":${qjson(slowest)},"failed":$failedJson,""" +
        s""""full":"$artifact","stat":"$stat","sf":"$sfDir"}""")
    spark.stop()
  }
}

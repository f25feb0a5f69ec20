package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** `batch_ops`: timed passes over heavy registry queries, in an order the
  * seed permutes, after untimed warm-up passes. Each query writes its result
  * as parquet for the DuckDB oracle check; a query's time includes releasing
  * the blocks it persisted, as the repository's own bench does. A full GC,
  * untimed, precedes every query.
  */
object BatchOps extends Workload {
  private def queries(ctx: Ctx): Seq[String] = ctx.manifest.str("queries").split(",").toSeq

  private def runQuery(ctx: Ctx, name: String, tables: String, out: String): Int = {
    SparkEntry.queries(name)(ctx.spark, tables).write.mode("overwrite").parquet(out)
    val sc = ctx.spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    ctx.spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    persisted
  }

  /** Untimed passes: the planner and scheduler paths these many-job
    * queries run keep getting faster for several passes. The first, cold
    * pass reads small tables of the same shape.
    */
  def warmup(ctx: Ctx): Unit =
    (0 until ctx.manifest.int("warmup_passes")).foreach { i =>
      val tables = s"${ctx.inputs}/${if (i == 0) "cold_tables" else "tables"}"
      queries(ctx).foreach { q =>
        System.gc()
        runQuery(ctx, q, tables, s"${ctx.workDir}/warmup/$i/$q")
      }
    }

  def pass(ctx: Ctx, p: Pass): Unit = {
    val qs = queries(ctx)
    // each pass rotates the seed's order by one, so that no query always
    // runs after the same one
    def order(i: Int): Seq[String] = qs.drop(i % qs.size) ++ qs.take(i % qs.size)
    val tables = s"${ctx.inputs}/tables"
    val times = qs.map(_ -> Seq.newBuilder[Double]).toMap
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val passes = ctx.manifest.int("timed_passes")
    var passNo = 0
    p.trace.span("timed") {
      // a fixed number of passes, sized to about --seconds on the parent
      while (passNo < passes) {
        order(passNo).foreach { q =>
          // every query starts from a collected heap, whatever ran before
          System.gc()
          val before = ctx.engine.map(_.counts)
          val s0 = System.nanoTime()
          val persisted = p.trace.span(s"query.$q") {
            runQuery(ctx, q, tables, s"${p.dir}/out/$passNo/$q")
          }
          val sec = (System.nanoTime() - s0) / 1e9
          times(q) += sec
          println(f"[perfbench] pass $passNo%d $q%s $sec%.3f s")
          ctx.engine.foreach { e =>
            val d = e.counts - before.get
            layer(s"queries.$q.stages") = d.stages.toDouble
            layer(s"queries.$q.shuffle_bytes") = d.shuffleWrite.toDouble
            layer(s"queries.$q.materializations") = persisted.toDouble
          }
        }
        passNo += 1
      }
    }
    Files.write(Paths.get(s"${p.dir}/passes.txt"), passNo.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"${p.dir}/oracle_sql.json"),
      qs.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
        .mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    val med = qs.map(q => q -> Stats.median(times(q).result()))
    val total = med.map(_._2).sum
    p.workS = total
    p.attempted = qs.size
    p.metrics ++= Seq(
      "records_per_s" -> ctx.manifest.double("input_rows") / total,
      "latency_p50_ms" -> Stats.median(med.map(_._2 * 1e3)),
      "latency_p90_ms" -> Stats.pct(med.map(_._2 * 1e3), 0.9),
      "queries.total_s" -> total,
      "queries.geomean_s" -> math.exp(med.map(x => math.log(x._2)).sum / med.size))
    if (p.trace.enabled) {
      med.foreach { case (q, s) => p.metrics(s"queries.$q.s") = s }
      p.metrics ++= layer
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

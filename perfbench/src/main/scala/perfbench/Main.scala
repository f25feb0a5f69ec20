package perfbench

import java.io.FileInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Inputs run.py generated, as a properties file (`manifest.properties`). */
final class Manifest(path: String) {
  private val p = new java.util.Properties()
  locally { val in = new FileInputStream(path); try p.load(in) finally in.close() }
  def str(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"manifest lacks $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
}

/** One measured pass: its own directory, its own recorder, its metrics. */
final class Pass(val dir: String, val trace: Trace) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  /** The wall time of the work the pass did, compared across passes. */
  var workS = 0.0
  Files.createDirectories(Paths.get(dir))
}

/** What a workload sees: the session, its inputs and the traced-run hooks. */
final class Ctx(
    val spark: SparkSession, val workDir: String, val seed: Long, val seconds: Double,
    val manifest: Manifest) {
  def inputs: String = s"$workDir/inputs"
  var engine: Option[EngineListener] = None
  var progress: Option[ProgressListener] = None
  var lookups: Option[LookupListener] = None
}

trait Workload {
  /** Untimed: run the workload's code paths once on the warm-up inputs. */
  def warmup(ctx: Ctx): Unit
  /** One timed pass. End-to-end metrics always; layer metrics when traced. */
  def pass(ctx: Ctx, p: Pass): Unit
}

/** Harness entry, launched by run.py:
  * `--workload W --seed N --seconds S --trace 0|1 --dir WORK --run-id ID --launch-ms T`,
  * or `--train W1,W2,... --dir D` after a build (see [[Main.train]]).
  * Writes `WORK/result.json` (metrics), `WORK/trace.jsonl` (spans, traced
  * runs) and each pass's outputs for run.py's checks.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("train")) return train(opt("dir"), opt("train").split(",").toSeq)
    val workDir = opt("dir")
    val traced = opt("trace") == "1"
    val trace = new Trace(opt("run-id"), traced)
    val launchMs = opt("launch-ms").toLong
    val mainMs = System.currentTimeMillis()
    val workload = workloads(opt("workload"))

    trace.record("setup.jvm_start", 0L, launchMs * 1000000L, mainMs * 1000000L)
    val ctx = trace.span("setup") {
      val spark = trace.span("setup.session")(Session.build(workDir))
      val c = new Ctx(spark, workDir, opt("seed").toLong, opt("seconds").toDouble,
        new Manifest(s"$workDir/inputs/manifest.properties"))
      trace.span("setup.warmup")(workload.warmup(c))
      c
    }
    val setupJvmS = (System.currentTimeMillis() - launchMs) / 1e3

    // end-to-end figures come from an untraced pass. A traced run adds a
    // traced pass for the layer figures and a second untraced pass after
    // it: the traced pass's work time against the mean of its untraced
    // neighbours is the tracing overhead, with the JVM's continued warming
    // over the three passes cancelling out
    val plain = new Pass(s"$workDir/pass0", new Trace(trace.runId, enabled = false))
    workload.pass(ctx, plain)
    val out = mutable.LinkedHashMap.empty[String, Double]
    var attempted = plain.attempted
    var failed = plain.failed
    if (!traced) out ++= plain.metrics
    else {
      val engine = new EngineListener
      val progress = new ProgressListener
      val lookups = new LookupListener
      ctx.spark.sparkContext.addSparkListener(engine)
      ctx.spark.streams.addListener(progress)
      ctx.spark.listenerManager.register(lookups)
      ctx.engine = Some(engine); ctx.progress = Some(progress); ctx.lookups = Some(lookups)
      val tp = new Pass(s"$workDir/pass1", trace)
      val before = engine.counts
      workload.pass(ctx, tp)
      val e = engine.counts - before
      ctx.spark.sparkContext.removeSparkListener(engine)
      ctx.spark.streams.removeListener(progress)
      ctx.spark.listenerManager.unregister(lookups)
      ctx.engine = None; ctx.progress = None; ctx.lookups = None
      val after = new Pass(s"$workDir/pass2", new Trace(trace.runId, enabled = false))
      workload.pass(ctx, after)
      attempted += tp.attempted + after.attempted
      failed += tp.failed + after.failed
      out ++= tp.metrics
      out ++= Seq(
        "engine.jobs" -> e.jobs.toDouble, "engine.stages" -> e.stages.toDouble,
        "engine.tasks" -> e.tasks.toDouble, "engine.executor_run_ms" -> e.runMs.toDouble,
        "engine.gc_ms" -> e.gcMs.toDouble,
        "engine.shuffle_read_bytes" -> e.shuffleRead.toDouble,
        "engine.shuffle_write_bytes" -> e.shuffleWrite.toDouble,
        "engine.spill_bytes" -> e.spill.toDouble,
        "engine.peak_exec_mem_mb" -> e.peakExecMem / 1048576.0,
        "trace.overhead_pct" -> 100.0 * (tp.workS / ((plain.workS + after.workS) / 2) - 1.0))
      val self = trace.selfTimes
      self.groupBy(_._1.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
        out(s"self.$name.s") = xs.map(_._2).sum / 1e9
      }
      // share of the timed region no measured call covers
      val timed = self.filter(_._1.name == "timed")
      out("trace.unattributed_pct") =
        100.0 * timed.map(_._2).sum / math.max(1L, timed.map(_._1.durNs).sum)
      out("trace.spans") = self.size.toDouble
      trace.writeJsonl(s"$workDir/trace.jsonl")
    }
    out("setup_jvm_s") = setupJvmS
    out("peak_rss_mb") = peakRssMb()
    ctx.spark.stop()

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val json = out.map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString(s"""{"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
    Files.write(Paths.get(s"$workDir/result.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  private def workloads(name: String): Workload = name match {
    case "enrich_drain" => EnrichDrain
    case "upsert_serve" => UpsertServe
    case "batch_ops"    => BatchOps
    case w              => sys.error(s"unknown workload $w")
  }

  /** `--train w1,w2,... --dir D`: one untimed pass of each workload over
    * inputs in `D/<w>`, so that a class-data-sharing archive written at
    * exit holds the classes every workload loads.
    */
  private def train(dir: String, names: Seq[String]): Unit = {
    val spark = Session.build(dir)
    names.foreach { w =>
      val ctx = new Ctx(spark, s"$dir/$w", 0L, 1.0,
        new Manifest(s"$dir/$w/inputs/manifest.properties"))
      workloads(w).pass(ctx, new Pass(s"$dir/$w/pass0", new Trace("", false)))
    }
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
}

object Session {
  def build(workDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Last-quarter median ÷ first-quarter median: how a per-call cost grew. */
  def growth(xs: Seq[Double]): Double =
    if (xs.size < 4) Double.NaN
    else {
      val q = xs.size / 4
      median(xs.takeRight(q)) / median(xs.take(q))
    }
}

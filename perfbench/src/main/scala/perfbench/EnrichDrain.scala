package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.dsl.{KGlobalTable, KStream}
import graft.io.{KafkaIO, WireLog}

/** `enrich_drain`: a backlog of large WireLog segments lands at once in
  * the log of a running query, goes through the example_1 topology
  * (decode → branch → filter → customer and nation global-table joins →
  * transformValues → to) and is produced back with `WireLog.append`, one
  * segment per micro-batch. Every record is due when the backlog lands.
  */
object EnrichDrain extends Workload {
  private val txn = StructType.fromDDL("typ STRING, acct BIGINT, amount DOUBLE, ts_ms BIGINT")

  def topology(spark: SparkSession, logDir: String, inputs: String, cutoffMs: Long): DataFrame = {
    val raw = WireLog.readStream(spark, logDir)
    val decoded = KafkaIO.decode(raw,
      keyExpr = col("key").cast("string"),
      valueExpr = from_json(col("value").cast("string"), txn))
    val src = KStream(decoded.select(
      col("key").as("txn_id"), col("value.typ").as("typ"), col("value.acct").as("acct"),
      col("value.amount").as("amount"), col("value.ts_ms").as("ts_ms"),
      KafkaIO.headerValue(col("headers"), "origin").cast("string").as("origin")),
      "txn_id")
    val customers = KGlobalTable.fromStatic(spark.read.parquet(s"$inputs/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"), "c_custkey")
    val nations = KGlobalTable.fromStatic(spark.read.parquet(s"$inputs/nation.parquet")
      .select("n_nationkey", "n_name"), "n_nationkey")
    val Seq(credited, debited) = src.branch(col("typ") === "credit", col("typ") === "debit")
    def leg(s: KStream, verb: String): KStream = s
      .filter(col("ts_ms") >= cutoffMs)
      .joinGlobalTable(customers, col("acct"))
      .joinGlobalTable(nations, col("c_nationkey"))
      .transformValues("text" -> concat(
        lit("Your a/c "), col("acct"), lit(s" is $verb with "),
        floor(col("amount") * 100 + 0.5).cast("long"), lit(" cents")))
    leg(credited, "credited").merge(leg(debited, "debited"))
      .to(
        keyExpr = col("txn_id"),
        valueExpr = concat(col("text"), lit(" ("), col("c_name"), lit(", "),
          col("n_name"), lit(")")),
        tombstoneWhen = Some(col("c_acctbal") < 0),
        headers = Some(array(struct(lit("origin").as("key"),
          col("origin").cast("binary").as("value")))))
  }

  /** One streaming query over `p.dir/log`, fed by renaming `segments`
    * into it. The first segment primes the query (started, planned, its
    * tables broadcast) untimed. The rest are released together at `t0` and
    * drained: returns `t0` and each drained batch's end time (nanoTime) and
    * `WireLog.append` duration in ms.
    */
  private def drain(
      ctx: Ctx, p: Pass, segments: Seq[Path],
      onBatch: DataFrame => Unit = _ => ()): (Long, Seq[(Long, Double)]) = {
    val logDir = Paths.get(p.dir, "log")
    val staged = Paths.get(p.dir, "staged")
    Files.createDirectories(logDir)
    Files.createDirectories(staged)
    segments.foreach(f => Files.copy(f, staged.resolve(f.getFileName)))
    def release(f: Path): Unit = {
      val src = staged.resolve(f.getFileName)
      Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, logDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    val ends = new ConcurrentLinkedQueue[(Long, Double)]()
    val parent = new java.util.concurrent.atomic.AtomicLong(0L)
    val out = topology(ctx.spark, logDir.toString, ctx.inputs, ctx.manifest.long("cutoff_ms"))
    val q = out.writeStream
      .option("checkpointLocation", s"${p.dir}/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (id == 0) WireLog.append(batch.sparkSession, s"${p.dir}/out",
          batch.withColumn("topic", lit("messages")), numPartitions = 2,
          orderBy = Seq(col("key")))
        else p.trace.span("mb.batch", parent.get) {
          if (id == 1) onBatch(batch)
          val t0 = System.nanoTime()
          p.trace.span("io.append") {
            WireLog.append(batch.sparkSession, s"${p.dir}/out",
              batch.withColumn("topic", lit("messages")),
              numPartitions = 2, orderBy = Seq(col("key")))
          }
          val t1 = System.nanoTime()
          ends.add((t1, (t1 - t0) / 1e6))
        }
        ()
      }.start()
    try {
      release(segments.head)
      q.processAllAvailable()
      p.trace.span("timed") {
        parent.set(p.trace.currentId)
        val t0 = System.nanoTime()
        segments.tail.foreach(release)
        q.processAllAvailable()
        (t0, ends.asScala.toVector)
      }
    } finally q.stop()
  }

  private def segmentFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)

  def warmup(ctx: Ctx): Unit =
    drain(ctx, new Pass(s"${ctx.workDir}/warmup", new Trace("", false)),
      segmentFiles(s"${ctx.inputs}/warmup"))

  def pass(ctx: Ctx, p: Pass): Unit = {
    val m = ctx.manifest
    val perSeg = m.long("records_per_segment")
    val segs = m.int("segments")
    var plan: Option[(Double, Double)] = None
    ctx.progress.foreach(_.clear())
    val (t0, batches) = drain(ctx, p, segmentFiles(s"${ctx.inputs}/backlog"), batch =>
      if (p.trace.enabled) {
        val ex = batch.queryExecution.executedPlan
        plan = Some((ex.collect { case e: ShuffleExchangeExec => e }.size.toDouble,
          ex.collect { case j: BroadcastHashJoinExec => j }.size.toDouble))
      })
    val wallS = (batches.map(_._1).max - t0) / 1e9
    p.workS = wallS
    p.attempted = segs * perSeg
    if (batches.size != segs) p.failed += (segs - batches.size).abs * perSeg
    // every record is due when the backlog lands and done when the append
    // holding its segment returns (segments are equal-sized)
    val done = batches.map(b => (b._1 - t0) / 1e6).sorted
    def recordPct(q: Double): Double = done(math.ceil(q * done.size).toInt.max(1) - 1)
    p.metrics ++= Seq(
      "records_per_s" -> segs * perSeg / wallS,
      "latency_p50_ms" -> recordPct(0.5),
      "latency_p90_ms" -> recordPct(0.9))
    if (p.trace.enabled) {
      val appendMs = batches.map(_._2)
      val e = ctx.engine.get.counts
      p.metrics ++= Seq(
        "io.append_ms_p50" -> Stats.median(appendMs),
        "io.append_ms_total" -> appendMs.sum,
        "io.append_growth" -> Stats.growth(appendMs),
        "io.records_out" -> e.outRecords.toDouble,
        "io.bytes_out" -> e.outBytes.toDouble,
        "dsl.plan_exchanges" -> plan.map(_._1).getOrElse(Double.NaN),
        "dsl.plan_broadcast_joins" -> plan.map(_._2).getOrElse(Double.NaN))
      p.metrics ++= Streams.progressMetrics(ctx, p, segs, segs * perSeg)
    }
  }
}

object Streams {
  /** `durationMs` phase medians and source rows per released record. Each
    * trigger also becomes an `mb.trigger` span holding its batch's body.
    */
  def progressMetrics(
      ctx: Ctx, p: Pass, batches: Int, recordsReleased: Long): Seq[(String, Double)] = {
    // the last `batches` reports: a query's untimed priming batch comes first
    val bs = ctx.progress.get.await(batches + 1).takeRight(batches)
    val root = p.trace.all.find(_.name == "timed").map(_.id).getOrElse(0L)
    bs.foreach { b =>
      val start = b.startEpochMs * 1000000L
      p.trace.record("mb.trigger", root, start,
        start + b.durationMs.getOrElse("triggerExecution", 0L) * 1000000L)
    }
    p.trace.nest("mb.batch", "mb.trigger", slackNs = 2000000L)
    def phase(k: String) = Stats.median(bs.map(_.durationMs.getOrElse(k, 0L).toDouble))
    Seq(
      "mb.trigger_ms_p50" -> phase("triggerExecution"),
      "mb.add_batch_ms_p50" -> phase("addBatch"),
      "mb.latest_offset_ms_p50" -> phase("latestOffset"),
      "mb.query_planning_ms_p50" -> phase("queryPlanning"),
      "mb.wal_commit_ms_p50" -> phase("walCommit"),
      "mb.commit_offsets_ms_p50" -> phase("commitOffsets"),
      "mb.batches" -> bs.size.toDouble,
      "dsl.source_rows_per_record" -> bs.map(_.inputRows).sum.toDouble / recordsReleased)
  }
}

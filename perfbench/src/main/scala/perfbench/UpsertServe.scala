package perfbench

import java.io.{FileWriter, PrintWriter}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{KafkaIO, WireLog}
import graft.state.{StoreHttp, StoreRegistry}

/** `upsert_serve`: small segments are released into the input log by
  * atomic rename on a fixed schedule, each micro-batch is upserted with
  * `StoreRegistry.upsert`, and an open-loop client sends
  * `GET /stores/accounts/{key}` to `StoreHttp` at a fixed rate. Keys are a
  * hot set plus a growing tail, so the store grows throughout. Every
  * segment and request is timed from its due time.
  */
object UpsertServe extends Workload {
  private val store = "accounts"
  private val update = StructType.fromDDL("seq BIGINT, v STRING")

  final case class Lookup(phase: String, key: String, dueNs: Long, endNs: Long,
      status: Int, body: String)

  /** One stream + HTTP server over a fresh registry, fed from `staged`. */
  private final class Loop(ctx: Ctx, p: Pass, staged: String) {
    val m = ctx.manifest
    val logDir = s"${p.dir}/log"
    Files.createDirectories(Paths.get(logDir))
    val registry = new StoreRegistry(ctx.spark)
    val http = new StoreHttp(registry)
    val port = http.start()
    val committed = new AtomicInteger(0)
    val committedMaxId = new AtomicLong(0)
    val upsertMs = new ConcurrentLinkedQueue[(Long, Double)]() // (batch, ms)
    val doneNs = new ConcurrentLinkedQueue[(Long, Long)]() // (segment, nanoTime)
    @volatile var parent = 0L

    private val decoded = KafkaIO.decode(WireLog.readStream(ctx.spark, logDir),
      keyExpr = col("key").cast("string"),
      valueExpr = from_json(col("value").cast("string"), update))
      .select(col("key"), col("value.seq").as("seq"), col("value.v").as("v"))

    val query = decoded.writeStream
      .option("checkpointLocation", s"${p.dir}/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        p.trace.span("mb.batch", parent) {
          val t0 = System.nanoTime()
          p.trace.span("state.upsert") {
            registry.upsert(store, batch, Seq("key"), Seq(col("seq")))
          }
          val t1 = System.nanoTime()
          upsertMs.add((id, (t1 - t0) / 1e6))
          // one released segment per batch, in release order
          committedMaxId.set(m.long(s"seg.$id.max_id"))
          committed.incrementAndGet()
          doneNs.add((id, t1))
        }
        ()
      }.start()

    /** Release segment `j` into the log: stamp, then atomic rename. */
    def release(j: Int): Unit = {
      val name = f"seg-$j%06d-000.parquet"
      val src = Paths.get(staged, name)
      Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, Paths.get(logDir, name), StandardCopyOption.ATOMIC_MOVE)
    }

    def awaitCommitted(n: Int, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (committed.get < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
      require(committed.get >= n, s"only ${committed.get} of $n segments committed")
    }

    /** GET one key; the due time is when the request should have been sent. */
    def lookup(phase: String, key: String, dueNs: Long): Lookup = {
      val c = URI.create(s"http://127.0.0.1:$port/stores/$store/$key").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      try {
        val status = c.getResponseCode
        val in = if (status < 400) c.getInputStream else c.getErrorStream
        val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
        Lookup(phase, key, dueNs, System.nanoTime(), status, body)
      } catch {
        case e: Exception =>
          Lookup(phase, key, dueNs, System.nanoTime(), -1, "\"" + e.getClass.getName + "\"")
      } finally c.disconnect()
    }

    def close(): Unit = {
      query.stop()
      http.stop()
    }
  }

  private def key(id: Long): String = f"k$id%08d"

  def warmup(ctx: Ctx): Unit = {
    val p = new Pass(s"${ctx.workDir}/warmup", new Trace("", false))
    val n = ctx.manifest.int("warmup_segments")
    val loop = new Loop(ctx, p, s"${ctx.inputs}/warmup")
    try {
      (0 until n).foreach { j =>
        loop.release(j)
        loop.awaitCommitted(j + 1, 60000)
        (0 until 5).foreach(i => loop.lookup("warmup", key(i), System.nanoTime()))
      }
    } finally loop.close()
  }

  def pass(ctx: Ctx, p: Pass): Unit = {
    val m = ctx.manifest
    val segments = m.int("segments")
    val perSeg = m.long("records_per_segment")
    val intervalNs = (m.double("interval_ms") * 1e6).toLong
    val rate = m.double("lookup_rate")
    val hot = m.long("hot_keys")
    val windowNs = (ctx.seconds * 1e9).toLong
    val staged = s"${p.dir}/staged"
    Files.createDirectories(Paths.get(staged))
    Files.list(Paths.get(ctx.inputs, "staged")).iterator().asScala.foreach { f =>
      Files.copy(f, Paths.get(staged).resolve(f.getFileName))
    }
    ctx.progress.foreach(_.clear())
    val loop = new Loop(ctx, p, staged)
    // segment 0 bootstraps the store before the clock starts, so every
    // request has a store to read
    loop.release(0)
    loop.awaitCommitted(1, 120000)

    val lookups = new ConcurrentLinkedQueue[Lookup]()
    val lateness = new ConcurrentLinkedQueue[Double]()
    val lag = new ConcurrentLinkedQueue[Int]()
    val released = new AtomicInteger(1)
    val due = new Array[Long](segments)
    val threads = m.int("lookup_threads")
    val pool = Executors.newFixedThreadPool(threads)
    val rng = new scala.util.Random(ctx.seed)
    var t0 = 0L

    p.trace.span("timed") {
      val root = p.trace.currentId
      loop.parent = root
      t0 = System.nanoTime()
      val gen = new Thread(() => {
        var j = 1
        while (j < segments && (j - 1) * intervalNs < windowNs) {
          due(j) = t0 + (j - 1) * intervalNs
          sleepUntil(due(j))
          lateness.add((System.nanoTime() - due(j)) / 1e6)
          p.trace.span("gen.release", root)(loop.release(j))
          released.incrementAndGet()
          lag.add(released.get - loop.committed.get)
          j += 1
        }
      })
      gen.start()
      // open-loop client: request i is due at t0 + i / rate whatever the
      // state of earlier requests; a free pool thread sends it
      var i = 0L
      var next = t0
      while (next - t0 < windowNs) {
        sleepUntil(next)
        lateness.add((System.nanoTime() - next) / 1e6)
        val k = if (rng.nextBoolean()) key((rng.nextDouble() * hot).toLong)
          else key((rng.nextDouble() * loop.committedMaxId.get).toLong)
        val dueNs = next
        pool.submit(new Runnable {
          def run(): Unit = lookups.add(p.trace.span("http.lookup", root) {
            loop.lookup("open", k, dueNs)
          })
        })
        i += 1
        next = t0 + (i * 1e9 / rate).toLong
      }
      gen.join()
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      loop.awaitCommitted(released.get, 120000)
    }

    val open = lookups.asScala.toSeq
    val rows = ctx.lookups.map(_.await(open.size))
    // outside the timed region: the final store and post-drain lookups
    val snapshot = loop.registry.store(store)
    snapshot.write.parquet(s"${p.dir}/store")
    val storeRows = snapshot.count()
    val prng = new scala.util.Random(ctx.seed + 1)
    val maxId = loop.committedMaxId.get
    (0 until 40).foreach { i =>
      val k = key(((if (i % 2 == 0) hot else maxId) * prng.nextDouble()).toLong)
      lookups.add(loop.lookup("post", k, System.nanoTime()))
    }
    val persisted = ctx.spark.sparkContext.getPersistentRDDs.size
    val blockMb = ctx.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    loop.close()
    writeLookups(s"${p.dir}/lookups.jsonl", lookups.asScala.toSeq)

    val n = released.get
    val done = loop.doneNs.asScala.toMap
    val fresh = (1 until n).map(j => (done(j) - due(j)) / 1e6)
    val upserts = loop.upsertMs.asScala.toSeq.sortBy(_._1).map(_._2)
    val timedUpserts = upserts.drop(1)
    val lookupMs = open.map(l => (l.endNs - l.dueNs) / 1e6)
    p.workS = timedUpserts.sum / 1e3
    p.attempted = (n - 1) * perSeg + lookups.size
    p.failed = lookups.asScala.count(_.status != 200).toLong
    p.metrics ++= Seq(
      "records_per_s" -> (n - 1) * perSeg / (timedUpserts.sum / 1e3),
      "latency_p50_ms" -> Stats.median(fresh),
      "latency_p90_ms" -> Stats.pct(fresh, 0.9))
    if (p.trace.enabled) {
      val storeRowsAfter = (0 until n).map(j => m.double(s"seg.$j.distinct"))
      val e = ctx.engine.get
      p.metrics ++= Seq(
        "io.source_lag_segments_max" -> lag.asScala.max.toDouble,
        "gen.lateness_ms_max" -> lateness.asScala.max,
        "state.upsert_ms_p50" -> Stats.median(timedUpserts),
        "state.upsert_ms_p90" -> Stats.pct(timedUpserts, 0.9),
        "state.upsert_growth" -> Stats.growth(timedUpserts),
        "state.rows_rewritten_per_input_row" -> storeRowsAfter.sum / (n * perSeg),
        "state.store_rows_end" -> storeRows.toDouble,
        "state.lookup_p50_ms" -> Stats.median(lookupMs),
        "state.lookup_p95_ms" -> Stats.pct(lookupMs, 0.95),
        "state.lookup_rows_examined_p50" -> Stats.median(rows.get.map(_.toDouble)),
        "state.lookup_jobs" -> e.jobsFrom("StoreHttp.scala").toDouble / lookups.size,
        "state.persisted_rdds_end" -> persisted.toDouble,
        "state.block_mem_mb_end" -> blockMb)
      p.metrics ++= Streams.progressMetrics(ctx, p, n - 1, (n - 1) * perSeg)
    }
  }

  private def sleepUntil(ns: Long): Unit = {
    var left = ns - System.nanoTime()
    while (left > 0) {
      if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L)
      else Thread.onSpinWait()
      left = ns - System.nanoTime()
    }
  }

  private def writeLookups(path: String, ls: Seq[Lookup]): Unit = {
    val w = new PrintWriter(new FileWriter(path))
    try ls.foreach { l =>
      // the body is the server's JSON, embedded as is
      w.println(s"""{"phase":"${l.phase}","key":"${l.key}","status":${l.status},""" +
        s""""latency_ms":${(l.endNs - l.dueNs) / 1e6},"body":${if (l.body.isEmpty) "null" else l.body}}""")
    } finally w.close()
  }
}

package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.dsl.KStream
import graft.state.{StoreHttp, StoreRegistry, Upserts}

/** An upserted store is a hash-partitioned, key-indexed state: it must
  * hold exactly `Upserts.latestByKey` over every row upserted so far,
  * serve the same lookup bodies as a filter over it, and declare the
  * partitioning it has.
  */
class KeyedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val ord = Seq(col("o"), col("seq"))

  private def schema(keys: Seq[(String, DataType)]): StructType =
    StructType(keys.map { case (n, t) => StructField(n, t) } ++ Seq(
      StructField("o", IntegerType), StructField("seq", LongType), StructField("v", StringType)))

  /** `batches` batches of 0-25 rows over a small key space: in-batch
    * duplicates, stale ords (a later row with a smaller `o`), null `o`
    * fields, a verbatim re-delivery of an earlier row (an equal ord) and
    * an empty batch. `seq` is unique per distinct row, so ties are only
    * re-deliveries.
    */
  private def batches(seed: Int, keyOf: Random => Seq[Any], n: Int = 6): Seq[Seq[Row]] = {
    val rnd = new Random(seed)
    var seq = 0L
    val sent = scala.collection.mutable.ArrayBuffer.empty[Row]
    (0 until n).map { b =>
      val size = if (b == 2) 0 else rnd.nextInt(26)
      val rows = (0 until size).map { _ =>
        if (sent.nonEmpty && rnd.nextInt(8) == 0) sent(rnd.nextInt(sent.size))
        else {
          seq += 1
          val o = if (rnd.nextInt(5) == 0) null else Integer.valueOf(rnd.nextInt(4))
          Row.fromSeq(keyOf(rnd) ++ Seq(o, seq, s"v$seq"))
        }
      }
      sent ++= rows
      rows
    }
  }

  private def frame(rows: Seq[Row], s: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, s)

  private def json(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  /** Upserts every batch into a fresh store `name`; returns the registry
    * and the union of the batches.
    */
  private def fill(name: String, keys: Seq[(String, DataType)], bs: Seq[Seq[Row]])
      : (StoreRegistry, DataFrame) = {
    val registry = new StoreRegistry(spark)
    val s = schema(keys)
    bs.foreach(b => registry.upsert(name, frame(b, s), keys.map(_._1), ord))
    (registry, frame(bs.flatten, s))
  }

  private val keySpaces: Seq[(String, Seq[(String, DataType)], Random => Seq[Any])] = Seq(
    ("int", Seq("k" -> IntegerType), r => Seq(r.nextInt(12))),
    ("long", Seq("k" -> LongType), r => Seq(r.nextInt(12).toLong * 1000003L)),
    ("string", Seq("k" -> StringType), r => Seq(s"key-${r.nextInt(12)}")),
    ("composite", Seq("k" -> IntegerType, "k2" -> StringType),
      r => Seq(r.nextInt(5), s"s${r.nextInt(3)}")))

  /** Materializes every batch through the DSL into store `name`. */
  private def materialized(registry: StoreRegistry, name: String,
      keys: Seq[(String, DataType)], bs: Seq[Seq[Row]], ord: Seq[Column]): DataFrame = {
    bs.foreach(b => KStream(frame(b, schema(keys)), keys.map(_._1): _*)
      .materialize(registry, name, ord))
    registry.store(name)
  }

  keySpaces.foreach { case (label, keys, keyOf) =>
    test(s"random batch sequences reproduce latestByKey over their union ($label keys)") {
      (1 to 4).foreach { seed =>
        val bs = batches(seed, keyOf)
        val (registry, all) = fill(s"ks_$label", keys, bs)
        val latest = json(Upserts.latestByKey(all, keys.map(_._1), ord))
        assert(json(registry.store(s"ks_$label")) === latest, s"seed $seed")
        assert(json(materialized(registry, s"ks_${label}_dsl", keys, bs, ord)) === latest,
          s"seed $seed, materialize")
      }
      // versioned: the greatest version wins, ties keep the earliest arrival
      val bs = batches(5, keyOf)
      val versioned = materialized(new StoreRegistry(spark), s"ks_${label}_versioned", keys, bs,
        Seq(col("o"), -col("seq")))
      assert(json(versioned) === json(Upserts.versionedUpsert(
        frame(bs.flatten, schema(keys)), keys.map(_._1), col("o"), col("seq"))))
      // a second materialize on the name merges: a key only the first call
      // had stays in the store
      def keyOfRow(r: Row) = r.toSeq.take(keys.size)
      val only = keyOfRow(bs.flatten.head)
      val (first, rest) = bs.flatten.partition(r => keyOfRow(r) == only)
      val twice = materialized(new StoreRegistry(spark), s"ks_${label}_twice", keys,
        Seq(first, rest), ord)
      assert(twice.collect().exists(r => keyOfRow(r) == only))
      assert(json(twice) === json(Upserts.latestByKey(frame(bs.flatten, schema(keys)),
        keys.map(_._1), ord)))
    }
  }

  private def get(port: Int, path: String): String =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def filtered(df: DataFrame, k: String, key: String): String =
    df.filter(col(k) === lit(key).cast(df.schema(k).dataType))
      .toJSON.collect().mkString("[", ",", "]")

  test("lookup bodies are byte-identical to a filter over the store") {
    Seq(false, true).foreach { ansi =>
      val session = spark.newSession()
      session.conf.set("spark.sql.ansi.enabled", ansi.toString)
      val registry = new StoreRegistry(session)
      batches(7, r => Seq(r.nextInt(12).toLong)).foreach { b =>
        registry.upsert("ks_acc", frame(b, schema(Seq("k" -> LongType))), Seq("k"), ord)
      }
      batches(8, r => Seq(r.nextInt(3), s"s${r.nextInt(4)}")).foreach { b =>
        registry.upsert("ks_pair",
          frame(b, schema(Seq("k" -> IntegerType, "k2" -> StringType))), Seq("k", "k2"), ord)
      }
      val acc = registry.store("ks_acc")
      val pair = registry.store("ks_pair")
      // the same rows, registered: served by a filter over the whole frame
      registry.register("ks_acc_filtered", acc, keyCol = "k")
      registry.register("ks_pair_filtered", pair, keyCol = "k")
      val http = new StoreHttp(registry)
      val port = http.start()
      try {
        def same(s: String, key: String): String = {
          val body = get(port, s"/stores/$s/$key")
          assert(body === get(port, s"/stores/${s}_filtered/$key"), s"$s/$key, ansi=$ansi")
          body
        }
        val hit = acc.select("k").as[Long].head().toString
        assert(same("ks_acc", hit) === filtered(acc, "k", hit))
        assert(same("ks_acc", hit).contains(s""""k":$hit"""))
        assert(same("ks_acc", "99999") === filtered(acc, "k", "99999"))
        assert(same("ks_acc", "99999") === "[]")
        // a key that does not cast matches no row, under ANSI too
        assert(same("ks_acc", "abc") === "[]")
        // a composite-key store is addressed by its first key column
        (0 until 3).foreach { k =>
          assert(same("ks_pair", k.toString) === filtered(pair, "k", k.toString))
        }
        assert(pair.filter(col("k") === 1).count() > 1)
      } finally http.stop()
    }
  }

  test("a batch with a missing, added or retyped column fails naming it; the store stays") {
    val registry = new StoreRegistry(spark)
    registry.upsert("ks_guard", Seq((1L, 1, 1L, "a")).toDF("k", "o", "seq", "v"), Seq("k"), ord)
    val before = registry.store("ks_guard")
    val rows = json(before)
    val bad = Seq(
      "v" -> Seq((2L, 1, 2L)).toDF("k", "o", "seq"),
      "v" -> Seq((2L, 1, 2L, 7)).toDF("k", "o", "seq", "v"),
      "x" -> Seq((2L, 1, 2L, "b", "x")).toDF("k", "o", "seq", "v", "x"))
    bad.foreach { case (column, batch) =>
      val e = intercept[IllegalArgumentException](
        registry.upsert("ks_guard", batch, Seq("k"), ord))
      assert(e.getMessage.contains(s"column $column"), e.getMessage)
      assert(registry.store("ks_guard") eq before)
      assert(json(registry.store("ks_guard")) === rows)
    }
    // reordered columns are fine: they are matched by name
    registry.upsert("ks_guard", Seq(("b", 2L, 2L, 1)).toDF("v", "k", "seq", "o"), Seq("k"), ord)
    assert(registry.store("ks_guard").count() === 2)
  }

  private def exchanges(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.inputPlan)
    case other => other.collect { case e: ShuffleExchangeLike => e }
  }

  test("the view declares HashPartitioning(head, P): a group-by on it plans no Exchange") {
    val keys = Seq("k" -> IntegerType, "k2" -> StringType)
    val (registry, all) = fill("ks_plan", keys,
      batches(11, r => Seq(r.nextInt(6), s"s${r.nextInt(4)}")))
    val view = registry.store("ks_plan")
    view.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n) =>
        assert(a.name === "k")
        assert(n === spark.conf.get("spark.sql.shuffle.partitions").toInt)
      case other => fail(s"view partitioning is $other")
    }
    val counts = view.groupBy("k").count()
    assert(exchanges(counts.queryExecution.executedPlan).isEmpty,
      counts.queryExecution.executedPlan.toString)
    assert(json(counts) ===
      json(Upserts.latestByKey(all, keys.map(_._1), ord).groupBy("k").count()))
    val viaSql = spark.sql("SELECT k, count(*) AS n FROM ks_plan GROUP BY k")
    assert(exchanges(viaSql.queryExecution.executedPlan).isEmpty)
    // the declared partitioning is Spark's own: a join against a frame
    // hash-partitioned on k exchanges only that frame and misses no row
    val other = all.select("k").distinct()
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("k"))
    val joined = view.join(other.hint("shuffle_merge"), "k")
    assert(joined.count() === view.count())
    assert(exchanges(joined.queryExecution.executedPlan).size === 1,
      joined.queryExecution.executedPlan.toString)
  }

  test("a point lookup runs one task") {
    val keys = Seq("k" -> LongType)
    val bs = batches(13, r => Seq(r.nextInt(40).toLong))
    val (registry, _) = fill("ks_one", keys, bs)
    materialized(registry, "ks_one_dsl", keys, bs, ord)
    val http = new StoreHttp(registry)
    val port = http.start()
    val stages = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.name, e.stageInfo.numTasks))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq("ks_one", "ks_one_dsl").foreach { s =>
        val key = registry.store(s).select("k").as[Long].head()
        assert(get(port, s"/stores/$s/$key").contains(s""""k":$key"""))
      }
      def lookups = stages.asScala.filter(_._1.contains("StoreHttp.scala")).toSeq
      eventually(timeout(Span(30, Seconds)))(assert(lookups.size >= 2))
      assert(lookups.map(_._2) === Seq(1, 1))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      http.stop()
    }
  }

  test("a superseded version stays readable; register and upsert hand a name over") {
    val registry = new StoreRegistry(spark)
    registry.register("ks_hand", Seq((1L, 0, 1L, "r1"), (2L, 0, 2L, "r2"))
      .toDF("k", "o", "seq", "v"), keyCol = "k")
    // an upsert continues from the registered frame's rows
    registry.upsert("ks_hand", Seq((1L, 1, 3L, "u1")).toDF("k", "o", "seq", "v"), Seq("k"), ord)
    val v1 = registry.store("ks_hand")
    registry.upsert("ks_hand", Seq((3L, 0, 4L, "u3")).toDF("k", "o", "seq", "v"), Seq("k"), ord)
    assert(v1.select("v").as[String].collect().sorted.toSeq === Seq("r2", "u1"))
    assert(registry.store("ks_hand").select("v").as[String].collect().sorted.toSeq ===
      Seq("r2", "u1", "u3"))
    // another ord rebuilds from the stored rows: `-seq` keeps the oldest
    registry.upsert("ks_hand", Seq((1L, 9, 0L, "old")).toDF("k", "o", "seq", "v"),
      Seq("k"), Seq(-col("seq")))
    assert(spark.sql("SELECT v FROM ks_hand WHERE k = 1").as[String].head() === "old")
    // register replaces the upserted store, lookups included
    registry.register("ks_hand", Seq((5L, 0, 1L, "r5")).toDF("k", "o", "seq", "v"), keyCol = "k")
    val http = new StoreHttp(registry)
    val port = http.start()
    try assert(get(port, "/stores/ks_hand/5").contains("r5"))
    finally http.stop()
  }
}

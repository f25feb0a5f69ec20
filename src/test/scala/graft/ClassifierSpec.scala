package graft

import org.apache.spark.sql.functions._

import graft.operators.Classifier

class ClassifierSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("scoreLinear: margin is the exact weighted bucket sum; empty doc scores bias") {
    val w = Array.tabulate(8)(b => (b * 3 - 5).toLong)
    val docs = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val got = Classifier.scoreLinear(docs, "text", w, bias = 7L)
      .select("doc_id", "margin").as[(Long, Long)].collect().toMap
    // recompute with the same portable hash, driver-side
    def bucketOf(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(15), 16) % 8).toInt
    }
    val expected1 = 7L + Seq("alpha", "beta", "alpha").map(t => w(bucketOf(t))).sum
    assert(got(1L) === expected1)
    assert(got(2L) === 7L, "empty doc must score exactly the bias")
    assert(got(3L) === 7L, "whitespace-only doc must score exactly the bias")
  }

  test("scoreLinear refuses to shadow an existing output column") {
    val docs = Seq((1L, "x", 0L)).toDF("doc_id", "text", "margin")
    intercept[IllegalArgumentException] {
      Classifier.scoreLinear(docs, "text", Array(1L))
    }
  }

  test("scoreLinear is narrow and stream-safe (no shuffle, stays streaming)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = Classifier.scoreLinear(docs, "text", Array.fill(16)(1L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val scored = Classifier.scoreLinear(
      mem.toDF.toDF("doc_id", "text"), "text", Array.fill(16)(1L))
    assert(scored.isStreaming, "scoring must compose onto a streaming frame")
  }

  test("trainPerceptron learns a planted separable task and converges") {
    // +1 docs contain the marker token; −1 docs don't. 256 buckets keeps
    // the tiny vocab collision-free, so the task is linearly separable.
    val pos = (0 until 20).map(i => (s"filler$i quality gold marker", 1L))
    val neg = (0 until 20).map(i => (s"filler$i junk noise spam", -1L))
    val docs = (pos ++ neg).toDF("text", "y")
    val (w, bias) = Classifier.trainPerceptron(
      docs, "text", col("y"), numBuckets = 256, epochs = 50)
    val scored = Classifier.scoreLinear(docs, "text", w, bias)
      .select(col("y"), col("margin")).as[(Long, Long)].collect()
    assert(scored.forall { case (y, m) => m * y > 0 },
      s"trained model must separate the training set; got ${scored.toSeq}")
    // determinism: retraining yields the identical model
    val (w2, bias2) = Classifier.trainPerceptron(
      docs, "text", col("y"), numBuckets = 256, epochs = 50)
    assert(w.toSeq == w2.toSeq && bias == bias2, "training must be deterministic")
  }

  test("trainPerceptron leaves no materialization stored") {
    val docs = Seq(("gold marker", 1L), ("junk noise", -1L)).toDF("text", "y")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Classifier.trainPerceptron(docs, "text", col("y"), numBuckets = 16, epochs = 5)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before === Set.empty[Int])
  }

  test("q_quality_classifier matches a driver-side recomputation at sf0.001") {
    val out = SparkEntry.queries("q_quality_classifier")(spark, sf)
    val viaOp = graft.operators.Classifier.scoreLinear(
        graft.queries.Tables.t(spark, sf, "documents").select("doc_id", "text"),
        "text", Array.tabulate(64)(b => (b % 7 - 3).toLong))
      .select("doc_id", "margin")
    val n = graft.queries.Tables.t(spark, sf, "documents").count()
    assert(out.count() === n, "one scored row per document")
    assert(out.join(viaOp, Seq("doc_id", "margin")).count() === n)
  }
}

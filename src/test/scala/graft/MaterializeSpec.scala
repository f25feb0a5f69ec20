package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.plans.Materialize

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a Materialize job's stage is named after the calling file") {
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        names.add(e.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Materialize((1 to 20).toDF("x").groupBy(col("x") % 3).count())
      eventually(timeout(Span(30, Seconds))) {
        assert(names.asScala.exists(_.startsWith("localCheckpoint at ")))
      }
      val named = names.asScala.filter(_.startsWith("localCheckpoint at ")).toSeq
      assert(named.forall(_.startsWith("localCheckpoint at MaterializeSpec.scala:")), named)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("rounds frees each replaced round, keeps the last and what the step reads") {
    val before = persisted()
    val side = Materialize((1 to 5).toDF("x"))
    val out = Materialize.rounds((1 to 5).toDF("x"), 4) { (prev, _) =>
      prev.join(side, "x")
    }
    assert(out.as[Int].collect().sorted.toSeq === (1 to 5))
    // `side` and the last round stay; init and rounds 1-3 were freed
    assert((persisted() -- before).size === 2)
    assert(side.count() === 5)
    Materialize.release(out)
    Materialize.release(side)
    assert(persisted() -- before === Set.empty[Int])
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (saves ~5 s JVM+session boot
  * per suite; suites only read, never reconfigure it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Session.quietReleases()
    GraftExtensions.ensure(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `df`'s rows as sorted strings, for comparing two frames as multisets. */
  protected def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs `body` under AQE on, then off, and restores the setting. */
  protected def eachAqe(body: String => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.getOption(key)
    try Seq("true", "false").foreach { v => spark.conf.set(key, v); body(v) }
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

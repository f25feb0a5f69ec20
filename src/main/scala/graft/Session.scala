package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session builder of the command-line mains (Bench, Verify,
  * ScaleCheck, Explain, EntrySmoke): `local[SPARK_GRAFT_CPUS]` (default:
  * the JVM's available processors), shuffle partitions from
  * `SPARK_GRAFT_SHUFFLE` (default: one per core), UI off, UTC, log level
  * WARN (ERROR for the logger of the release warning). Any other setting
  * rides in as a `-Dspark.*` system property, which the builder picks up
  * like every Spark conf.
  */
object Session {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(): SparkSession = {
    // shuffle partitions default to one per core (right for sf0.1), but at
    // the synthetic 10x/100x scale points per-partition shuffle size is the
    // invariant to hold — a real cluster scales partition count with data,
    // so the scale sweeps pass SPARK_GRAFT_SHUFFLE to do the same
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietReleases()
    spark
  }

  /** Every Materialize.release logs "RDD N was locally checkpointed, its
    * lineage has been truncated..." at WARN under this one logger; call
    * after `setLogLevel`, which resets it.
    */
  def quietReleases(): Unit =
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
}

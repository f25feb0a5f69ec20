package graft

/** Plan inspector: prints the formatted physical plan for the named
  * queries (or all) at the given SF dir — the tool used to keep every
  * operator's plan shape honest (pushed filters, pruned schemas, broadcast
  * joins, partial aggregation, whole-stage codegen spans).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}

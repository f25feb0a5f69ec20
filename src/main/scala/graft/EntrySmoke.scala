package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(3)
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (comma-separated names); driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escape every control char too — a tab or CR in the SQL would
    // otherwise make the comparer's json.load fail on the whole file
    import graft.state.StoreHttp.jstr
    val json = SparkEntry.oracleSql.filter(o => keep(o._1))
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

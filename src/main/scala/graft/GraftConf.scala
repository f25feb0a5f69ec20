package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Typed read of a session conf value. A value that does not parse fails
  * with an IllegalArgumentException naming the key and the bad value, not
  * a bare NumberFormatException from deep inside an operator.
  */
object GraftConf {
  def get[T](spark: SparkSession, key: String)(parse: String => T): Option[T] =
    spark.conf.getOption(key).map { raw =>
      try parse(raw.trim)
      catch {
        case NonFatal(e) =>
          throw new IllegalArgumentException(
            s"malformed value for $key: '$raw' (${e.getMessage})", e)
      }
    }
}

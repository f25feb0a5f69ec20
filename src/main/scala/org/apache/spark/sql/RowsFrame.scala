package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** A frame over internal rows that declares `partitioning`, bound to `spark`. */
object RowsFrame {
  def apply(spark: SparkSession, output: Seq[Attribute], rows: RDD[InternalRow],
      partitioning: Partitioning): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(output, rows, partitioning)(s))
  }
}

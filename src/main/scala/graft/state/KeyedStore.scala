package graft.state

import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, RowsFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast, EvalMode,
  InterpretedOrdering, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{TypeUtils, UnsafeRowUtils}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._

import graft.plans.Materialize

/** One version of an upserted store: the latest row per key, held in P
  * partitions, each one hash map from the key columns to the row and its
  * `ord`. A row lives in the partition Spark's own
  * `HashPartitioning(Seq(head), P)` assigns to its first key column, so the
  * [[view]] declares that partitioning truthfully: a `groupBy` on the head
  * key plans no Exchange, and a point lookup on it reads one partition.
  *
  * A merge shuffles only the batch's rows. Each partition copies its
  * previous map and puts a batch row where the key is new or the row's
  * `ord` is strictly greater than the stored one's, under the ascending,
  * nulls-first struct ordering that `max_by` uses, so a version equals
  * [[Upserts.latestByKey]] over every row upserted so far. A stored
  * `ord` was evaluated when its row arrived; an upsert with other key
  * columns or another `ord` rebuilds the store from its rows.
  *
  * Keys compare by their bytes. A group-by compares floats by value
  * (±0.0, NaN payloads) and strings by their collation, so key columns of
  * those types are refused.
  */
private[state] final class KeyedStore private (
    spark: SparkSession,
    keyCols: Seq[String],
    ordSig: Seq[String],
    val schema: StructType,
    partitioner: KeyedStore.HeadPartitioner,
    parts: RDD[KeyedStore.Part]) {
  import KeyedStore._

  private val n = schema.size

  /** The store's rows, partitioned on the head key. */
  val view: DataFrame = {
    val out = DataTypeUtils.toAttributes(schema)
    RowsFrame(spark, out, parts.mapPartitions(rowsOf(n), preservesPartitioning = true),
      HashPartitioning(Seq(out(schema.fieldIndex(keyCols.head))), partitioner.numPartitions))
  }

  def keyedBy(keys: Seq[String], ord: Seq[Column]): Boolean =
    keys == keyCols && ord.map(_.toString) == ordSig

  /** The next version: `batch` (checked against [[schema]]) merged in. */
  def merge(batch: DataFrame, ord: Seq[Column]): KeyedStore = {
    val (rows, beats) = shuffled(aligned(batch, schema), keyCols, ord, partitioner)
    val merged = parts.zipPartitions(rows, preservesPartitioning = true) { (prev, in) =>
      Iterator(fold(new Part(prev.next()), in, beats))
    }
    new KeyedStore(spark, keyCols, ordSig, schema, partitioner, Materialize(merged))
  }

  /** The rows a point lookup on the head key can match, as a one-partition
    * frame over the one map the key hashes to. A key that does not cast to
    * the head key's type matches no row, so its frame is empty.
    */
  def point(key: String): DataFrame = {
    val head = schema(keyCols.head).dataType
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val hits = Option(Cast(Literal(key), head, tz, EvalMode.TRY).eval()) match {
      case None => spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      case Some(v) =>
        val probe = UnsafeProjection.create(Array(head)).apply(InternalRow(v)).copy()
        val pid = partitioner.getPartition(probe)
        val (n, single) = (this.n, keyCols.size == 1)
        val sameHead = new InterpretedOrdering(
          Seq(SortOrder(BoundReference(0, head, nullable = true), Ascending)))
        PartitionPruningRDD.create(parts, _ == pid)
          .mapPartitions(_.flatMap { m =>
            if (single) Option(m.get(probe)).iterator
            else m.entrySet.iterator.asScala
              .collect { case e if sameHead.compare(e.getKey, probe) == 0 => e.getValue }
          }.map(e => e.getStruct(1, n): InternalRow))
    }
    RowsFrame(spark, DataTypeUtils.toAttributes(schema), hits, SinglePartition)
  }
}

private[state] object KeyedStore {

  /** A partition's map: key columns → the (ord, row) pair stored for them. */
  type Part = java.util.HashMap[UnsafeRow, UnsafeRow]

  /** A fresh store of `rows`' latest row per key, in P partitions, where P
    * is the session's `spark.sql.shuffle.partitions`.
    */
  def apply(spark: SparkSession, rows: DataFrame, keyCols: Seq[String],
      ord: Seq[Column]): KeyedStore = {
    keyCols.foreach { k =>
      val t = rows.schema(k).dataType
      require(byteComparable(t), s"key column $k is $t, whose values do not compare by bytes")
    }
    val schema = StructType(rows.schema.map(_.copy(nullable = true)))
    val partitioner = new HeadPartitioner(schema(keyCols.head).dataType,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val (pairs, beats) = shuffled(rows, keyCols, ord, partitioner)
    val parts = pairs.mapPartitions(in => Iterator(fold(new Part, in, beats)),
      preservesPartitioning = true)
    new KeyedStore(spark, keyCols, ord.map(_.toString), schema, partitioner, Materialize(parts))
  }

  /** `batch`'s columns in the order of `schema`. A column missing, added or
    * of another type fails, naming the column.
    */
  def aligned(batch: DataFrame, schema: StructType): DataFrame = {
    val types = batch.schema.map(f => f.name -> f.dataType).toMap
    schema.foreach { f =>
      val t = types.getOrElse(f.name,
        throw new IllegalArgumentException(s"batch lacks store column ${f.name}"))
      require(t == f.dataType, s"batch column ${f.name} is $t, the store's is ${f.dataType}")
    }
    batch.columns.find(c => !schema.fieldNames.contains(c)).foreach { c =>
      throw new IllegalArgumentException(s"batch column $c is not a store column")
    }
    batch.select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Places a key (or a row whose first field is the head key) where
    * `HashPartitioning(Seq(head), numPartitions)` does.
    */
  final class HeadPartitioner(head: DataType, val numPartitions: Int) extends Partitioner {
    private val id = HashPartitioning(Seq(BoundReference(0, head, nullable = true)),
      numPartitions).partitionIdExpression
    def getPartition(key: Any): Int = id.eval(key.asInstanceOf[InternalRow]).asInstanceOf[Int]
  }

  /** Whether a new (ord, row) pair replaces a stored one. */
  type Beats = (UnsafeRow, UnsafeRow) => Boolean

  /** `rows` as (key, (ord, row)) pairs in the partitions of `partitioner`,
    * and the test for an ord strictly greater under `max_by`'s ordering.
    */
  private def shuffled(rows: DataFrame, keyCols: Seq[String], ord: Seq[Column],
      partitioner: HeadPartitioner): (RDD[(UnsafeRow, UnsafeRow)], Beats) = {
    val nk = keyCols.size
    val pairs = rows.select(struct(keyCols.map(col): _*),
      struct(struct(ord: _*), struct(rows.columns.toIndexedSeq.map(col): _*)))
    val ordType = pairs.schema(1).dataType.asInstanceOf[StructType].fields(0).dataType
    val ordering = TypeUtils.getInterpretedOrdering(ordType)
    val no = ordType.asInstanceOf[StructType].size
    val beats: Beats = (e, stored) => ordering.gt(e.getStruct(0, no), stored.getStruct(0, no))
    (pairs.queryExecution.toRdd
      .map { r =>
        // a physical plan's rows are UnsafeRows, and so are their structs
        val u = r.asInstanceOf[UnsafeRow]
        (u.getStruct(0, nk).copy(), u.getStruct(1, 2).copy())
      }
      .partitionBy(partitioner), beats)
  }

  /** Puts each pair of `in` into `m` where its key is new or it beats the
    * stored pair.
    */
  private def fold(m: Part, in: Iterator[(UnsafeRow, UnsafeRow)], beats: Beats): Part = {
    in.foreach { case (k, e) =>
      val stored = m.get(k)
      if (stored == null || beats(e, stored)) m.put(k, e)
    }
    m
  }

  private def rowsOf(n: Int): Iterator[Part] => Iterator[InternalRow] =
    _.flatMap(_.values.iterator.asScala.map(_.getStruct(1, n)))

  private def byteComparable(t: DataType): Boolean = UnsafeRowUtils.isBinaryStable(t) && (t match {
    case FloatType | DoubleType => false
    case s: StructType => s.fields.forall(f => byteComparable(f.dataType))
    case a: ArrayType => byteComparable(a.elementType)
    case _ => true
  })
}

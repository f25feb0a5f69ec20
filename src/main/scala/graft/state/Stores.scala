package graft.state

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store registry + query surface: the batch analog of the reference's
  * store registry and HTTP interactive-query layer
  * (`/root/reference/kstream/store/registry.go:12-160`, store/http.go:120-399).
  * A "store" is a named keyed DataFrame registered as a temp view, so
  * `GET /stores/{s}/{key}` becomes a `WHERE key = ...` over it — the HTTP
  * layer itself is a transport detail, not an engine capability.
  *
  * A store fed by [[upsert]] is a [[KeyedStore]]: its rows are
  * hash-partitioned on the first key column and indexed by key in each
  * partition, as the reference keeps one local KV store per partition
  * (store/store.go:151-173). Its frame declares
  * `HashPartitioning(head, spark.sql.shuffle.partitions)`, and a point
  * lookup reads the one map its key hashes to. A store added by
  * [[register]] is any frame, read by filtering it.
  */
final class StoreRegistry(spark: SparkSession) {
  private val stores = TrieMap.empty[String, DataFrame]
  private val keys = TrieMap.empty[String, String]
  private val keyed = TrieMap.empty[String, KeyedStore]

  def register(name: String, df: DataFrame): Unit = {
    keyed.remove(name)
    keys.putIfAbsent(name, df.columns.head)
    publish(name, df)
  }

  def register(name: String, df: DataFrame, keyCol: String): Unit = {
    keys.put(name, keyCol)
    register(name, df)
  }

  /** Streaming materialize (S4): called per micro-batch from
    * `writeStream.foreachBatch` — merge the batch into the keyed store,
    * latest `ord` wins. Only the batch's rows are shuffled, each to the
    * partition of its head key, where it replaces the stored row if its
    * `ord` is strictly greater ([[KeyedStore]]). The new version is
    * materialized by [[graft.plans.Materialize]], so its lineage ends at
    * its own blocks. A batch that lacks a store column, adds one or
    * changes a column's type fails naming the column, and the store stays
    * at its previous version. A superseded version is never released
    * here: a temp-view query planned on it may still run after the swap,
    * and reading a released checkpoint throws. The ContextCleaner frees
    * it once nothing references it. The durable production form of this
    * is a MERGE into a transactional table or the state store itself
    * ([[graft.streaming.StreamingState.latestByKey]]).
    */
  def upsert(name: String, batch: DataFrame, keyCols: Seq[String], ord: Seq[Column]): Unit = {
    // foreachBatch hands us a DataFrame bound to a per-stream session
    // clone; every version's frame is bound to the registry's session so
    // the temp view is visible to interactive queries
    val next = (stores.get(name), keyed.get(name)) match {
      case (_, Some(cur)) if cur.keyedBy(keyCols, ord) => cur.merge(batch, ord)
      case (Some(cur), _) =>
        KeyedStore(spark, cur.unionByName(KeyedStore.aligned(batch, cur.schema)), keyCols, ord)
      case (None, _) => KeyedStore(spark, batch, keyCols, ord)
    }
    keys.put(name, keyCols.head)
    keyed.put(name, next)
    publish(name, next.view)
  }

  /** The rows of store `name` a point lookup of `key` on its key column
    * can match: one partition of an upserted store; `None` for a
    * registered one, whose whole frame is filtered instead.
    */
  def pointRows(name: String, key: String): Option[DataFrame] =
    keyed.get(name).map(_.point(key))

  private def publish(name: String, df: DataFrame): Unit = {
    stores.put(name, df)
    df.createOrReplaceTempView(name)
  }

  /** `GET /stores` — registry.go:131-141. */
  def storeNames: Seq[String] = stores.keys.toSeq.sorted
  def store(name: String): DataFrame =
    stores.getOrElse(name, sys.error(s"unknown store $name"))
  def keyOf(name: String): String =
    keys.getOrElse(name, sys.error(s"unknown store $name"))
  def sql(q: String): DataFrame = spark.sql(q)
}

/** A4 range/scan and A5 secondary-index lookups over keyed snapshots
  * (store/store.go:175-218, store/indexed_store.go:59-160).
  */
object Stores {

  /** Point lookup: store.Get (store/store.go:151-173); missing key ⇒ empty. */
  def get(store: DataFrame, keyCol: String, key: Any): DataFrame =
    store.filter(col(keyCol) === lit(key))

  /** A4 GetRange(from, to) — inclusive, like the backend's RangeIterator
    * (backend/backend.go:22). A predicate, so it partition-prunes / pushes
    * down to the scan instead of iterating.
    */
  def range(store: DataFrame, keyCol: String, from: Any, to: Any): DataFrame =
    store.filter(col(keyCol).between(lit(from), lit(to)))

  /** A5 GetIndexedRecords(index, key): rows whose index expression equals
    * the probe (store/indexed_store.go:139-160). The reference maintains a
    * hash multimap index eagerly; as a Spark predicate the same lookup
    * pushes down and scans only matching row groups.
    */
  def indexLookup(store: DataFrame, indexExpr: Column, indexKey: Any): DataFrame =
    store.filter(indexExpr === lit(indexKey))

  /** The materialized form of an A5 index: indexValue -> sorted set of
    * primary keys (store/hash_index.go:21-130). One partial-agg shuffle.
    */
  def invertedIndex(store: DataFrame, keyCol: String, indexExpr: Column): DataFrame =
    store.groupBy(indexExpr.as("index_key"))
      .agg(sort_array(collect_set(col(keyCol))).as("keys"))
}

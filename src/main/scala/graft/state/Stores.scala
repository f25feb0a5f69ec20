package graft.state

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store registry + query surface: the batch analog of the reference's
  * store registry and HTTP interactive-query layer
  * (`/root/reference/kstream/store/registry.go:12-160`, store/http.go:120-399).
  * A "store" is a named keyed DataFrame registered as a temp view, and
  * [[lookup]] answers `GET /stores/{s}/{key}` as a `WHERE key = ...` over
  * it — the HTTP layer itself is a transport detail, not an engine
  * capability.
  *
  * Each name holds one entry: the published frame, its key column and,
  * for a store fed by [[upsert]] (`KStream.materialize` included), its
  * [[KeyedStore]]. Such a store's rows are hash-partitioned on the first
  * key column and indexed by key in each partition, as the reference
  * keeps one local KV store per partition (store/store.go:151-173). Its
  * frame declares `HashPartitioning(head, spark.sql.shuffle.partitions)`,
  * and a point lookup reads the one map its key hashes to. A store added
  * by [[register]] is any frame, read by filtering it whole.
  */
final class StoreRegistry(spark: SparkSession) {
  /** A store: its published frame, its key column, and its keyed store
    * if it was upserted.
    */
  private final case class Entry(df: DataFrame, keyCol: String, keyed: Option[KeyedStore])

  private val entries = TrieMap.empty[String, Entry]

  def register(name: String, df: DataFrame, keyCol: String): Unit =
    publish(name, Entry(df, keyCol, None))

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
    val next = entries.get(name) match {
      case Some(Entry(_, _, Some(cur))) if cur.keyedBy(keyCols, ord) => cur.merge(batch, ord)
      case Some(Entry(df, _, _)) =>
        KeyedStore(spark, df.unionByName(KeyedStore.aligned(batch, df.schema)), keyCols, ord)
      case None => KeyedStore(spark, batch, keyCols, ord)
    }
    publish(name, Entry(next.view, keyCols.head, Some(next)))
  }

  /** `GET /stores/{s}/{key}`: the rows of store `name` whose key column
    * equals `key`. An upserted store filters the one partition the key
    * hashes to ([[KeyedStore.point]]), a registered one its whole frame.
    * A key that does not cast to the key column's type matches no row,
    * under ANSI too: it is outside input, not a failure. `None` for an
    * unknown store.
    */
  def lookup(name: String, key: String): Option[DataFrame] = entries.get(name).map { e =>
    e.keyed.fold(e.df)(_.point(key))
      .filter(col(e.keyCol) === lit(key).try_cast(e.df.schema(e.keyCol).dataType))
  }

  private def publish(name: String, e: Entry): Unit = {
    entries.put(name, e)
    e.df.createOrReplaceTempView(name)
  }

  /** `GET /stores` — registry.go:131-141. */
  def storeNames: Seq[String] = entries.keys.toSeq.sorted
  def store(name: String): DataFrame = get(name).getOrElse(sys.error(s"unknown store $name"))
  private[state] def get(name: String): Option[DataFrame] = entries.get(name).map(_.df)
}

/** A4 range/scan and A5 secondary-index lookups over keyed snapshots
  * (store/store.go:175-218, store/indexed_store.go:59-160).
  */
object Stores {

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

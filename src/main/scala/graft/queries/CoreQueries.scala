package graft.queries

import org.apache.spark.sql.functions._

import graft.dsl.{KGlobalTable, KStream}
import graft.io.KafkaIO
import graft.state.{Stores, Upserts}
import graft.queries.Tables.t

/** Batch instantiations of every SURVEY §2 operator over the driver
  * testdata, with DuckDB oracle SQL. Column names are aligned on both sides
  * (the driver sorts columns by name before hashing).
  */
object CoreQueries {

  val all: Seq[Q] = Seq(

    // S1 source + decode (kSource, k_source.go:51-67): raw record → keyed
    // typed stream. key=user_id, value=props plays Encoder.Decode.
    Q("q_source_decode", Some(
      "SELECT event_id, user_id AS key, props AS value FROM events"))(
      (s, d) => {
        val decoded = KafkaIO.decode(t(s, d, "events"), col("user_id"), col("props"))
        KStream(decoded, "key").toDF.select("event_id", "key", "value")
      }),

    // S1 decode, JSON body: the real Encoder.Decode analog
    // (encoding/json_encoder.go:5-17) — typed fields out of a JSON value
    // column via from_json, inside whole-stage codegen.
    Q("q_json_decode", Some(
      "SELECT event_id, user_id AS key, " +
      "CAST(json_extract(props, '$.k') AS BIGINT) AS k_decoded " +
      "FROM events"))(
      (s, d) =>
        t(s, d, "events").select(
          col("event_id"), col("user_id").as("key"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType))))
            .getField("k").as("k_decoded"))),

    // P1 filter (processors/filter.go:72-90)
    Q("q_filter", Some(
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice " +
      "FROM lineitem WHERE l_quantity < 25 AND l_returnflag = 'R'"))(
      (s, d) =>
        KStream(t(s, d, "lineitem"), "l_orderkey")
          .filter(col("l_quantity") < 25 && col("l_returnflag") === "R")
          .toDF.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),

    // P3 transformValues (value_transformer.go:54-70): key untouched, no shuffle
    Q("q_transform_value", Some(
      "SELECT l_orderkey, l_linenumber, " +
      // scale-4 round: l_extendedprice/l_discount carry 2 decimals, so the
      // product is an exact multiple of 1e-4 — no .5-boundary divergence
      // between Spark (shortest-repr) and DuckDB (binary) rounding.
      "round(l_extendedprice * (1 - l_discount), 4) AS net_price FROM lineitem"))(
      (s, d) =>
        KStream(t(s, d, "lineitem"), "l_orderkey")
          .transformValues("net_price" -> round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
          .toDF.select("l_orderkey", "l_linenumber", "net_price")),

    // P4 selectKey (key_selector.go:54-70): new key ⇒ keyChanged
    Q("q_select_key", Some(
      "SELECT event_id, user_id % 10 AS key, event_type FROM events"))(
      (s, d) =>
        KStream(t(s, d, "events"), "user_id")
          .selectKey("key", col("user_id") % 10)
          .toDF.select("event_id", "key", "event_type")),

    // P2 transform — map key AND value (transformer.go:54-70)
    Q("q_transform", Some(
      "SELECT event_id, concat(event_type, ':', CAST(user_id AS VARCHAR)) AS key, " +
      "CAST(round(value * 100, 0) AS BIGINT) AS value_cents FROM events"))(
      (s, d) =>
        KStream(t(s, d, "events"), "user_id")
          .transform(
            "key" -> concat(col("event_type"), lit(":"), col("user_id").cast("string")),
            "value_cents" -> round(col("value") * 100, 0).cast("bigint"))
          .toDF.select("event_id", "key", "value_cents")),

    // P5 process — side-effecting pass-through (processor.go:41-56)
    Q("q_process", Some(
      "SELECT event_id, user_id, event_type FROM events"))(
      (s, d) => {
        val counter = s.sparkContext.longAccumulator("graft.processed")
        KStream(t(s, d, "events").select("event_id", "user_id", "event_type"), "user_id")
          .process(_ => counter.add(1))
          .toDF
      }),

    // P6 branch — first-match-wins exclusive split (branch/branch.go:65-86).
    // Predicates deliberately overlap to prove exclusivity.
    Q("q_branch_0", Some(
      "SELECT event_id, user_id, event_type, value FROM events WHERE value >= 100"))(
      (s, d) => branches(s, d)(0).toDF),
    Q("q_branch_1", Some(
      "SELECT event_id, user_id, event_type, value FROM events " +
      "WHERE event_type = 'purchase' AND NOT value >= 100"))(
      (s, d) => branches(s, d)(1).toDF),
    Q("q_branch_2", Some(
      "SELECT event_id, user_id, event_type, value FROM events " +
      "WHERE value >= 10 AND NOT value >= 100 AND NOT event_type = 'purchase'"))(
      (s, d) => branches(s, d)(2).toDF),

    // P6 single-pass branch tag (one scan, first-match CASE)
    Q("q_branch_tag", Some(
      "SELECT event_id, CASE WHEN value >= 100 THEN 0 " +
      "WHEN event_type = 'purchase' THEN 1 WHEN value >= 10 THEN 2 END AS branch " +
      "FROM events"))(
      (s, d) =>
        KStream(t(s, d, "events"), "user_id")
          .branchTag("branch",
            col("value") >= 100, col("event_type") === "purchase", col("value") >= 10)
          .toDF.select("event_id", "branch")),

    // merge (README.md:20 "merging" — unimplemented in the reference)
    Q("q_merge", Some(
      "SELECT event_id, user_id, event_type FROM events " +
      "WHERE event_type IN ('click', 'view')"))(
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "user_id", "event_type")
        val clicks = KStream(ev, "user_id").filter(col("event_type") === "click")
        val views = KStream(ev, "user_id").filter(col("event_type") === "view")
        clicks.merge(views).toDF
      }),

    // set ops the reference's README advertises but never implements
    // (SURVEY §2.4): distinct-set intersection/difference, planned as
    // partial-agg'd semi/anti joins — no full materialization of either
    // side. Users who clicked AND purchased; users who clicked but never
    // purchased.
    Q("q_set_intersect", Some(
      "SELECT user_id FROM events WHERE event_type = 'click' " +
      "INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'"))(
      (s, d) => {
        val ev = t(s, d, "events")
        ev.filter(col("event_type") === "click").select("user_id")
          .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
      }),

    // (user, day) pairs with clicks but no purchase — day granularity
    // because every user has every event type over the full range.
    Q("q_set_except", Some(
      "SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events " +
      "WHERE event_type = 'click' " +
      "EXCEPT SELECT user_id, epoch_ns(ts) // 86400000000000 FROM events " +
      "WHERE event_type = 'purchase'"))(
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("day", expr("ts div 86400000000000"))
        ev.filter(col("event_type") === "click").select("user_id", "day")
          .except(ev.filter(col("event_type") === "purchase").select("user_id", "day"))
      }),

    // pivot/reshape: per-user event-type counts as columns — one
    // partial-agg shuffle with the pivot values enumerated (never inferred:
    // inference scans the data once to list values first).
    Q("q_pivot", Some(
      "SELECT user_id, " +
      "count(*) FILTER (event_type = 'click') AS click, " +
      "count(*) FILTER (event_type = 'view') AS view, " +
      "count(*) FILTER (event_type = 'purchase') AS purchase, " +
      "count(*) FILTER (event_type = 'signup') AS signup, " +
      "count(*) FILTER (event_type = 'error') AS error " +
      "FROM events GROUP BY user_id"))(
      (s, d) =>
        t(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .count()
          // empty pivot cells are NULL in Spark but 0 under FILTER counts
          .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))),

    // unpivot/melt — the inverse reshape: measure columns to (measure,
    // value) rows, a narrow 1→N projection (no shuffle).
    Q("q_unpivot", Some(
      "SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value " +
      "FROM lineitem WHERE l_orderkey < 1000 " +
      "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice " +
      "FROM lineitem WHERE l_orderkey < 1000 " +
      "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount " +
      "FROM lineitem WHERE l_orderkey < 1000"))(
      (s, d) =>
        t(s, d, "lineitem").filter(col("l_orderkey") < 1000)
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
            "measure", "value")),

    // S3 through — explicit repartition point (k_stream.go:540-556)
    Q("q_through", Some(
      "SELECT user_id, event_id, value FROM events"))(
      (s, d) =>
        KStream(t(s, d, "events").select("user_id", "event_id", "value"), "user_id")
          .through(Some(32)).toDF),

    // S2 sink framing with tombstone (k_sink.go:195-249): error events are
    // produced as deletes (NULL value)
    Q("q_sink_tombstone", Some(
      "SELECT event_id AS key, " +
      "CASE WHEN event_type = 'error' THEN NULL ELSE props END AS value FROM events"))(
      (s, d) =>
        KafkaIO.sinkFrame(t(s, d, "events"),
          keyExpr = col("event_id"), valueExpr = col("props"),
          tombstoneWhen = Some(col("event_type") === "error"))),

    // S6 DLQ — failed records diverted with a reason (dlq/dlq.go:14-87)
    Q("q_dlq", Some(
      "SELECT event_id, user_id, value, 'value_out_of_range' AS dlq_reason " +
      "FROM events WHERE NOT value < 400"))(
      (s, d) => {
        val (_, dead) = KafkaIO.dlqSplit(
          t(s, d, "events").select("event_id", "user_id", "value"),
          valid = col("value") < 400, reason = lit("value_out_of_range"))
        dead
      }),

    // A1 / S4 materialize, batch form — latest record per key
    // (global_table.go:31-60); one partial-agg shuffle (max_by), no window
    // sort. Not KStream.materialize: its keyed store is built eagerly by a
    // shuffle of every row with no map-side combine, slower on a one-shot
    // query.
    Q("q_latest_by_key", Some(
      "SELECT user_id, event_id, event_type, value FROM (" +
      "SELECT user_id, event_id, event_type, value, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn " +
      "FROM events) WHERE rn = 1"))(
      (s, d) => Upserts.latestByKey(t(s, d, "events"), Seq("user_id"), Seq(col("event_id")))
        .select("user_id", "event_id", "event_type", "value")),

    // A1 with tombstones: key deleted iff its newest record is a tombstone
    Q("q_latest_tombstone", Some(
      "WITH marked AS (SELECT user_id, event_id, " +
      "CASE WHEN event_type = 'error' THEN NULL ELSE props END AS latest_props FROM events), " +
      "ranked AS (SELECT user_id, event_id, latest_props, " +
      "row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM marked) " +
      "SELECT user_id, event_id, latest_props FROM ranked " +
      "WHERE rn = 1 AND latest_props IS NOT NULL"))(
      (s, d) => {
        val marked = t(s, d, "events").select(
          col("user_id"), col("event_id"),
          when(col("event_type") === "error", lit(null)).otherwise(col("props"))
            .as("latest_props"))
        Upserts.latestByKeyWithTombstones(
          marked, Seq("user_id"), Seq(col("event_id")), "latest_props")
      }),

    // A2 versioned upsert — strict `new > current` comparator: max version
    // wins, ties keep the EARLIEST arrival (builder.go:231-233)
    Q("q_versioned_upsert", Some(
      "WITH v AS (SELECT user_id, event_id, event_type, " +
      "CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS version FROM events) " +
      "SELECT user_id, event_id, event_type, version FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY user_id " +
      "ORDER BY version DESC, event_id ASC) AS rn FROM v) WHERE rn = 1"))(
      (s, d) => {
        val versioned = t(s, d, "events").select(
          col("user_id"), col("event_id"), col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("int").as("version"))
        Upserts.versionedUpsert(versioned, Seq("user_id"), col("version"), col("event_id"))
      }),

    // A3 exactly-once dedup — first record per identity wins
    // (changelog replay dedup, state_changelog.go:285-305)
    Q("q_dedup_first", Some(
      "SELECT user_id, event_type, event_id, value FROM (" +
      "SELECT user_id, event_type, event_id, value, " +
      "row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn " +
      "FROM events) WHERE rn = 1"))(
      (s, d) =>
        Upserts.firstByKey(
          t(s, d, "events").select("user_id", "event_type", "event_id", "value"),
          Seq("user_id", "event_type"), Seq(col("event_id")))),

    // A4 range scan (store.go:175-218) — predicate pushdown, not iteration
    Q("q_range_scan", Some(
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer " +
      "WHERE c_custkey BETWEEN 100 AND 200"))(
      (s, d) =>
        Stores.range(t(s, d, "customer"), "c_custkey", 100L, 200L)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")),

    // A5 secondary-index lookup (indexed_store.go:139-160)
    Q("q_index_lookup", Some(
      "SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_nationkey = 5"))(
      (s, d) =>
        Stores.indexLookup(t(s, d, "customer"), col("c_nationkey"), 5)
          .select("c_custkey", "c_name", "c_nationkey")),

    // A5 materialized inverted index (hash_index.go:21-130)
    Q("q_inverted_index", Some(
      "SELECT c_nationkey AS index_key, " +
      "array_to_string(list_sort(list(DISTINCT c_custkey)), ',') AS keys_csv " +
      "FROM customer GROUP BY c_nationkey"))(
      (s, d) =>
        Stores.invertedIndex(t(s, d, "customer"), "c_custkey", col("c_nationkey"))
          .select(col("index_key"), concat_ws(",", col("keys")).as("keys_csv"))),

    // J1 stream ⋈ global table, inner (global_table_joiner.go:94-127):
    // miss ⇒ record dropped. Table is broadcast (the Spark form of "fully
    // replicated to every instance").
    Q("q_join_global_inner", Some(
      "SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment " +
      "FROM orders JOIN customer ON o_custkey = c_custkey"))(
      (s, d) => {
        val table = KGlobalTable.fromStatic(
          t(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment"), "c_custkey")
        KStream(t(s, d, "orders"), "o_orderkey")
          .joinGlobalTable(table, col("o_custkey"))
          .toDF.select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
      }),

    // J2 left variant: miss ⇒ NULL right side into the ValueMapper.
    // Table side filtered to force real misses.
    Q("q_join_global_left", Some(
      "SELECT o_orderkey, o_custkey, c.c_name, c.c_acctbal " +
      "FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c " +
      "ON o_custkey = c.c_custkey"))(
      (s, d) => {
        val table = KGlobalTable.fromStatic(
          t(s, d, "customer").filter(col("c_acctbal") > 0)
            .select("c_custkey", "c_name", "c_acctbal"), "c_custkey")
        KStream(t(s, d, "orders"), "o_orderkey")
          .joinGlobalTable(table, col("o_custkey"), "left")
          .toDF.select("o_orderkey", "o_custkey", "c_name", "c_acctbal")
      }),

    // A1+J1: global table built from a changelog (latest-per-key) joined
    // from a stream — the reference's GlobalTable sync + join path
    // (global_table_stream_instance.go:200-234 → global_table_joiner.go)
    Q("q_join_global_changelog", Some(
      "WITH latest AS (SELECT user_id AS gt_key, props AS latest_props FROM (" +
      "SELECT user_id, props, row_number() OVER (PARTITION BY user_id " +
      "ORDER BY event_id DESC) AS rn FROM events) WHERE rn = 1) " +
      "SELECT event_id, user_id, latest_props FROM events JOIN latest " +
      "ON user_id = gt_key WHERE event_type = 'purchase'"))(
      (s, d) => {
        val changelog = t(s, d, "events").select(
          col("user_id").as("gt_key"), col("event_id").as("gt_ord"),
          col("props").as("latest_props"))
        val table = KGlobalTable.fromChangelog(changelog, "gt_key", Seq(col("gt_ord")))
        KStream(t(s, d, "events"), "user_id")
          .filter(col("event_type") === "purchase")
          .joinGlobalTable(table, col("user_id"))
          .toDF.select("event_id", "user_id", "latest_props")
      }),

    // J6 star join — one fold of broadcast joins over two dimension tables
    // (the reference's global_table_star_joiner.go, dead code there)
    Q("q_star_join", Some(
      "SELECT l_orderkey, l_linenumber, s_name, p_name FROM lineitem " +
      "JOIN supplier ON l_suppkey = s_suppkey " +
      "JOIN part ON l_partkey = p_partkey"))(
      (s, d) => {
        val sup = KGlobalTable.fromStatic(
          t(s, d, "supplier").select("s_suppkey", "s_name"), "s_suppkey")
        val part = KGlobalTable.fromStatic(
          t(s, d, "part").select("p_partkey", "p_name"), "p_partkey")
        KStream(t(s, d, "lineitem"), "l_orderkey")
          .starJoin(sup -> col("l_suppkey"), part -> col("l_partkey"))
          .toDF.select("l_orderkey", "l_linenumber", "s_name", "p_name")
      }),

    // J3 stream-stream join, batch form: each left record pairs with the
    // FIRST right record per key (the single-slot buffer of
    // join/side_joiner.go:54-97 + join/window.go:5-28)
    Q("q_join_stream", Some(
      "WITH r AS (SELECT user_id AS r_user_id, event_id AS r_event_id FROM (" +
      "SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id " +
      "ORDER BY event_id ASC) AS rn FROM events WHERE event_type = 'purchase') " +
      "WHERE rn = 1) " +
      "SELECT event_id, user_id, r_event_id FROM events JOIN r " +
      "ON user_id = r_user_id WHERE event_type = 'click'"))(
      (s, d) => {
        val ev = t(s, d, "events")
        val left = KStream(ev.filter(col("event_type") === "click"), "user_id")
        val right = KStream(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("r_user_id"), col("event_id").as("r_event_id")),
          "r_user_id")
        left.joinStream(right, Seq(col("r_event_id")))
          .toDF.select("event_id", "user_id", "r_event_id")
      }),

    // example_1's full banking topology, batch twin (the streaming form —
    // identical combinators on a MemoryStream with checkpoint restart — is
    // StreamingOpsSpec "example_1 banking topology end-to-end"). Mirrors
    // /root/reference/examples/example_1/stream/init.go:24-89 +
    // account_credited.go:24-40 / account_debited.go: transaction stream →
    // first-match branch (credited/debited) → timestamp filter → global-
    // table join #1 (account details → message text, key-mapped to the
    // customer id) → global-table join #2 (customer profile enrich) →
    // tombstone-aware sink frame. Amounts render as integer cents
    // (floor(x·100 + 0.5)) so the message text is bit-identical across
    // engines.
    Q("q_example1_pipeline", Some(
      "SELECT e.event_id AS key, " +
      "CASE WHEN c.c_acctbal < 0 THEN NULL ELSE " +
      "concat('Your a/c ', e.user_id, ' is ', " +
      "CASE WHEN e.event_type = 'purchase' THEN 'credited' ELSE 'debited' END, " +
      "' with ', CAST(floor(e.value * 100 + 0.5) AS BIGINT), ' cents (', " +
      "c.c_name, ', ', n.n_name, ')') END AS value " +
      "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
      "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "WHERE e.event_type IN ('purchase', 'signup') " +
      "AND epoch_ms(e.ts) >= 1704240000000"))(
      (s, d) => {
        val accountDetails = KGlobalTable.fromStatic(
          t(s, d, "customer")
            .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
          "c_custkey")
        val profiles = KGlobalTable.fromStatic(
          t(s, d, "nation").select("n_nationkey", "n_name"), "n_nationkey")
        val src = KStream(t(s, d, "events"), "event_id")
        val Seq(credited, debited) = src.branch(
          col("event_type") === "purchase", col("event_type") === "signup")
        def leg(stream: KStream, verb: String): KStream = stream
          .filter(Tables.tsMillis(col("ts")) >= 1704240000000L)
          .joinGlobalTable(accountDetails, col("user_id"))
          .transformValues("text" -> concat(
            lit("Your a/c "), col("user_id"), lit(s" is $verb with "),
            floor(col("value") * 100 + 0.5).cast("long"), lit(" cents (")))
          .joinGlobalTable(profiles, col("c_nationkey"))
        leg(credited, "credited").merge(leg(debited, "debited"))
          .to(
            keyExpr = col("event_id"),
            valueExpr = concat(col("text"), col("c_name"), lit(", "),
              col("n_name"), lit(")")),
            tombstoneWhen = Some(col("c_acctbal") < 0))
      }),
  )

  private def branches(s: org.apache.spark.sql.SparkSession, d: String): Seq[KStream] =
    KStream(t(s, d, "events").select("event_id", "user_id", "event_type", "value"), "user_id")
      .branch(col("value") >= 100, col("event_type") === "purchase", col("value") >= 10)
}

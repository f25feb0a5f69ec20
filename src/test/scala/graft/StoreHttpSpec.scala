package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._

import graft.dsl.KStream
import graft.state.{StoreHttp, StoreRegistry}

/** Interactive-query REST surface, mirroring the reference's
  * /root/reference/kstream/store/http.go endpoints over registered stores.
  */
class StoreHttpSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, path: String): String = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
  }

  test("GET /stores, scan, point lookup, index lookup") {
    val registry = new StoreRegistry(spark)
    registry.register("accounts",
      Seq((1L, "alice", 100.0), (2L, "bob", 250.0)).toDF("id", "name", "balance"),
      keyCol = "id")
    val http = new StoreHttp(registry)
    http.registerIndex("accounts", "by_name", col("name"))
    val port = http.start()
    try {
      assert(get(port, "/stores") === """["accounts"]""")
      assert(get(port, "/stores/accounts").contains(""""name":"bob""""))
      val point = get(port, "/stores/accounts/2")
      assert(point.contains(""""balance":250.0""") && !point.contains("alice"))
      val byIdx = get(port, "/stores/accounts/indexes/by_name/alice")
      assert(byIdx.contains(""""id":1""") && !byIdx.contains("bob"))
      assert(get(port, "/stores/accounts/indexes") === """["by_name"]""")
      assert(get(port, "/indexes") ===
        """[{"store":"accounts","index":"by_name"}]""")
      // /meta (kstream/store/meta.go:10-81 analog): single process, so
      // every store maps to this server's own authority, reference key
      // format `<topic>_<partition>`
      val meta = get(port, "/meta")
      assert(meta.matches("""\[\{"tp":"accounts_0","host":"[^"]+:""" + port + """"\}\]"""),
        s"unexpected /meta payload: $meta")
      assert(get(port, "/stores/nope").contains("error"))
    } finally http.stop()
  }

  test("GET /stores escapes store names: the body parses as JSON") {
    // Spark accepts both as backtick-quoted view names
    val names = Seq("`a\"b`", "`c\\d`", "plain")
    val registry = new StoreRegistry(spark)
    names.foreach(n => registry.register(n, Seq((1L, "x")).toDF("id", "v"), keyCol = "id"))
    val http = new StoreHttp(registry)
    val port = http.start()
    try {
      val body = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(get(port, "/stores"))
      assert(body.isArray)
      assert((0 until body.size).map(body.get(_).asText) === names.sorted)
    } finally {
      http.stop()
      names.foreach(n => spark.sql(s"DROP VIEW IF EXISTS $n"))
    }
  }

  test("unknown store/index is 404; internal failures are 500 with valid JSON") {
    val registry = new StoreRegistry(spark)
    registry.register("acc", Seq((1L, "a\"b")).toDF("id", "name"), keyCol = "id")
    val http = new StoreHttp(registry)
    // an index expression that fails at evaluation: cast-invalid column ref
    http.registerIndex("acc", "boom", col("does_not_exist"))
    val port = http.start()
    def getStatus(path: String): (Int, String) = {
      val client = HttpClient.newHttpClient()
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      assert(getStatus("/stores/nope")._1 === 404)
      assert(getStatus("/stores/acc/indexes/missing/x")._1 === 404)
      val (code, body) = getStatus("/stores/acc/indexes/boom/x")
      assert(code === 500)
      // message must be escaped into parseable JSON (quotes, newlines)
      assert(body.startsWith("""{"error":""") && body.endsWith("}"))
      assert(!body.dropWhile(_ != ':').drop(1).dropRight(1).drop(1).dropRight(1)
        .contains("\n"))
    } finally http.stop()
  }

  test("scan limit is clamped: a huge ?limit= cannot collect a whole store") {
    val registry = new StoreRegistry(spark)
    registry.register("big",
      (1 to 50).map(i => (i.toLong, s"row$i")).toDF("id", "v"), keyCol = "id")
    val http = new StoreHttp(registry, maxScanLimit = 5)
    val port = http.start()
    try {
      def count(path: String): Int =
        get(port, path).split("\\{").length - 1
      assert(count("/stores/big?limit=2000000000") === 5)
      assert(count("/stores/big") === 5)       // default 1000 clamps too
      assert(count("/stores/big?limit=3") === 3) // under the cap passes through
      assert(count("/stores/big?limit=-7") === 0)
      // outside input: a non-integer limit is the caller's error (400), not 500
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/stores/big?limit=abc"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 400)
      assert(r.body() === """{"error":"limit must be an integer, got 'abc'"}""")
    } finally http.stop()
  }

  test("foreachBatch streaming materialize keeps latest per key (S4)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val registry = new StoreRegistry(spark)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, String)]
    val q = mem.toDF().toDF("k", "off", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        registry.upsert("live_store", batch, Seq("k"), Seq(col("off")))
      }.start()
    try {
      mem.addData(("a", 1L, "a1"), ("b", 1L, "b1"))
      q.processAllAvailable()
      mem.addData(("a", 2L, "a2"), ("a", 0L, "stale"))
      q.processAllAvailable()
    } finally q.stop()
    val snap = registry.store("live_store")
      .select("k", "v").as[(String, String)].collect().toMap
    assert(snap === Map("a" -> "a2", "b" -> "b1"))
    // and it is queryable as a temp view (the "interactive query" path)
    assert(spark.sql("SELECT v FROM live_store WHERE k = 'a'")
      .as[String].head() === "a2")
  }

  test("KStream.materialize refuses a streaming frame at the call, naming the fix") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val registry = new StoreRegistry(spark)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, String)]
    val e = intercept[IllegalArgumentException](
      KStream(mem.toDF().toDF("k", "off", "v"), "k")
        .materialize(registry, "live_dsl", Seq(col("off"))))
    assert(e.getMessage.contains("foreachBatch") && e.getMessage.contains("StoreRegistry.upsert"),
      e.getMessage)
    assert(registry.storeNames.isEmpty)
  }
}

package graft.state

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame

/** Interactive queries over registered stores — the reference's REST
  * surface (`/root/reference/kstream/store/http.go:120-399`):
  *
  *   GET /stores                      → store names
  *   GET /indexes                     → all (store, index) pairs
  *   GET /stores/{s}?limit=N          → scan (default 1000 rows)
  *   GET /stores/{s}/{key}            → point lookup on the store's key
  *   GET /stores/{s}/indexes          → the store's index names
  *   GET /stores/{s}/indexes/{i}/{k}  → secondary-index lookup (A5)
  *   GET /meta                        → store→host discovery (meta.go analog)
  *
  * Rows render via `Dataset.toJSON` (schema-faithful JSON). A point
  * lookup is [[StoreRegistry.lookup]], collected to the driver: on an
  * upserted store one task over the one partition the key hashes to, on
  * a registered store a filter over the whole frame. Built on the JDK's
  * HttpServer: no dependencies, ephemeral port for tests.
  *
  * The HTTP layer is the one legitimately driver-side collect in the
  * engine, so the caller-controlled `limit` query param is clamped to
  * `maxScanLimit` — `?limit=2000000000` must not pull a whole store onto
  * the driver.
  */
final class StoreHttp(
    registry: StoreRegistry, port: Int = 0, maxScanLimit: Int = 10000) {

  private var server: HttpServer = _

  /** index name → (store name, index expression column name builder) */
  private val indexes = scala.collection.concurrent.TrieMap
    .empty[(String, String), org.apache.spark.sql.Column]

  def registerIndex(store: String, indexName: String, expr: org.apache.spark.sql.Column): Unit =
    indexes.put((store, indexName), expr)

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/stores", (ex: HttpExchange) => handle(ex))
    server.createContext("/indexes", (ex: HttpExchange) => handle(ex))
    server.createContext("/meta", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  import StoreHttp.{jstr, Refused}

  private def handle(ex: HttpExchange): Unit = {
    val resp =
      try route(ex)
      catch {
        case Refused(c, m) => (c, s"""{"error":${jstr(m)}}""")
        case e: Throwable  => (500, s"""{"error":${jstr(e.getMessage)}}""")
      }
    val bytes = resp._2.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(resp._1, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def route(ex: HttpExchange): (Int, String) = {
    val parts = ex.getRequestURI.getPath.stripPrefix("/").split("/").toList
    val limit = Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").collectFirst {
        case q if q.startsWith("limit=") =>
          val v = q.stripPrefix("limit=")
          v.toIntOption.getOrElse(throw Refused(400, s"limit must be an integer, got '$v'"))
      }).getOrElse(1000)
      .max(0).min(maxScanLimit)
    def unknown(s: String) = Refused(404, s"unknown store $s")
    def storeOr404(s: String): DataFrame = registry.get(s).getOrElse(throw unknown(s))
    parts match {
      case "meta" :: Nil =>
        // host-metadata discovery (`kstream/store/meta.go:10-81`): the
        // reference maps each `topic_partition` to the consumer-group
        // member hosting it so a router can forward interactive queries.
        // (Dead code there — never wired into http.go — implemented here
        // for surface parity.) Single-process Spark serves EVERY store
        // from this authority, so each store renders one entry keyed in
        // the reference's `%s_%d` format with partition 0.
        val a = server.getAddress
        val host = jstr(s"${a.getHostString}:${a.getPort}")
        (200, registry.storeNames
          .map(n => s"""{"tp":${jstr(n + "_0")},"host":$host}""")
          .mkString("[", ",", "]"))
      case "stores" :: Nil =>
        (200, registry.storeNames.map(jstr).mkString("[", ",", "]"))
      case "indexes" :: Nil => // store/http.go GET /indexes
        (200, indexes.keys.toSeq.sorted
          .map { case (s, i) => s"""{"store":${jstr(s)},"index":${jstr(i)}}""" }
          .mkString("[", ",", "]"))
      case "stores" :: s :: "indexes" :: Nil =>
        val _ = storeOr404(s)
        (200, indexes.keys.collect { case (`s`, i) => jstr(i) }
          .toSeq.sorted.mkString("[", ",", "]"))
      case "stores" :: s :: Nil =>
        (200, rows(storeOr404(s).limit(limit)))
      case "stores" :: s :: key :: Nil =>
        (200, rows(registry.lookup(s, key).getOrElse(throw unknown(s))))
      case "stores" :: s :: "indexes" :: i :: key :: Nil =>
        val df = storeOr404(s)
        val expr = indexes.getOrElse((s, i), throw Refused(404, s"unknown index $i"))
        (200, rows(df.filter(expr.cast("string") === key).limit(limit)))
      case _ => (404, """{"error":"not found"}""")
    }
  }

  private def rows(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")
}

object StoreHttp {
  /** JSON string literal for `s` (null renders as the string "null"):
    * quotes, backslashes and ALL control chars (< 0x20) escaped. Every
    * string this server puts in a payload goes through it — store names
    * (a backtick-quoted view name may hold `"` or `\`) and error messages
    * (easy via a store or SQL failure) must not break the JSON — and so
    * does Verify's oracle_sql.json.
    */
  private[graft] def jstr(s: String): String = "\"" + Option(s).getOrElse("null").flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Unknown store/index → 404, malformed `?limit=` → 400; anything else
    * is an internal failure (500). */
  private final case class Refused(status: Int, msg: String) extends RuntimeException(msg)
}

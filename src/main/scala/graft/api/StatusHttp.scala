package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ExecutorService, Executors}
import java.nio.charset.StandardCharsets

/** The reference's HTTP serving facade over the status queries — the two
  * GET endpoints its deploy script provisions as Cloud Functions
  * (`/root/reference/csv-processor-function/deploy.sh:16-37`,
  * `README.md:48-64`):
  *
  *   - `GET /get-upload-status?upload_id=X` — point lookup
  *   - `GET /list-uploads[?status=S][&limit=N]` — filtered newest-first list
  *
  * Served from the JDK's built-in `com.sun.net.httpserver` (zero added
  * dependencies) over [[StatusQueries]], whose plans are the ones the
  * driver oracles (`s8_list_filtered_limit`, `d2_point_lookup`). Responses
  * are JSON arrays of row objects via Spark's own `toJSON` (correct
  * escaping, null fields omitted — matching Firestore-style sparse docs).
  *
  * Scale note: the per-request `.collect()` is bounded by construction —
  * a point lookup returns ≤ 1 row and list-uploads ≤ `limit` (capped) —
  * and the ledger it scans is upload METADATA (one row per upload), not
  * data. Each request filters the ledger's head: once the ledger's chains
  * are read more than once, `LedgerStore` persists each chain's
  * merge-on-read resolution, and a request on a resolved head is one scan
  * job. Requests are served concurrently from a fixed pool sized to the
  * available processors; the serving semantics — and everything the tests
  * assert — are in the query layer, which is shared.
  */
class StatusHttp(queries: StatusQueries, maxLimit: Int = 1000) {

  private var server: Option[(HttpServer, ExecutorService)] = None

  /** Start on `port` (0 = ephemeral); returns the bound port. Binds
    * loopback by default — a status surface over ingest metadata has no
    * business on every interface; callers that really want a wide bind
    * pass the address explicitly. */
  def start(port: Int = 0, bindAddress: String = "127.0.0.1"): Int =
      synchronized {
    require(server.isEmpty, "already started")
    val s = HttpServer.create(new InetSocketAddress(bindAddress, port), 0)
    s.createContext("/get-upload-status", handler { params =>
      params.get("upload_id") match {
        case None | Some("") =>
          Left(400 -> """{"error":"upload_id is required"}""")
        case Some(id) =>
          Right(queries.getUploadStatus(id))
      }
    })
    s.createContext("/list-uploads", handler { params =>
      val limit = params.get("limit") match {
        case None => Right(10)
        // toInt is safe only once the digit count bounds the magnitude —
        // a 12-digit "limit" must be a 400, not a NumberFormatException
        // surfacing as a 500
        case Some(n) if n.nonEmpty && n.length <= 9 && n.forall(_.isDigit) =>
          Right(math.min(n.toInt, maxLimit))
        case Some(_) =>
          Left(400 -> """{"error":"limit must be a non-negative integer"}""")
      }
      limit.map(n => queries.listUploads(params.get("status"), n))
    })
    val pool = Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors(), { (r: Runnable) =>
        val t = new Thread(r, "status-http")
        t.setDaemon(true)
        t
      })
    s.setExecutor(pool)
    s.start()
    server = Some((s, pool))
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    server.foreach { case (s, pool) => s.stop(0); pool.shutdown() }
    server = None
  }

  /** Wrap a parameter-map → (error | DataFrame) function as a GET-only
    * JSON handler. The DataFrame is rendered as a JSON array of row
    * objects; every response is UTF-8 `application/json`. */
  private def handler(
      f: Map[String, String] => Either[(Int, String),
        org.apache.spark.sql.DataFrame]): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, body) =
          try {
            if (ex.getRequestMethod != "GET")
              405 -> """{"error":"method not allowed"}"""
            else f(queryParams(ex)) match {
              case Left((c, err)) => c -> err
              case Right(df) =>
                200 -> df.toJSON.collect().mkString("[", ",", "]")
            }
          } catch {
            // malformed percent-encoding in the query string is the
            // CLIENT's error (URLDecoder throws IllegalArgumentException)
            case e: IllegalArgumentException =>
              400 -> s"""{"error":${jsonString(
                "bad query string: " + e.getMessage)}}"""
            case e: Throwable =>
              // server-side detail stays server-side: exception class,
              // message, and any filesystem paths Spark embeds would leak
              // internals to the client on an HTTP surface
              System.err.println(s"[status-http] 500: $e")
              500 -> """{"error":"internal error"}"""
          }
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set(
          "Content-Type", "application/json; charset=utf-8")
        ex.sendResponseHeaders(code, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }

  /** Decode `?k=v&k2=v2` (application/x-www-form-urlencoded rules; later
    * duplicates win, bare keys map to ""). */
  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
      java.net.URLDecoder.decode(k, "UTF-8") ->
        java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  private def jsonString(s: String): String = graft.JsonEscape(s)
}

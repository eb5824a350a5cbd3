package graft

import graft.api.{StatusHttp, StatusQueries}
import graft.ledger.LedgerStore
import graft.model.UploadStatus
import java.net.{HttpURLConnection, URI}

/** The HTTP serving facade: both reference endpoints
  * (get-upload-status, list-uploads) served end-to-end over a real
  * ledger, including the error contract (400/404/405) and JSON shape.
  */
class StatusHttpSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, path: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = try new String(is.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally is.close()
    (code, body)
  }

  private def withServer(f: Int => Unit): Unit = {
    val store = new LedgerStore(spark, tmpDir("http-ledger") + "/ledger")
    store.merge(Seq(
      ("u1", UploadStatus.Done, 10L, "a.csv"),
      ("u2", UploadStatus.Failed, 0L, "b.csv"),
      ("u3", UploadStatus.Done, 7L, "c.csv"))
      .toDF("upload_id", "status", "lines_processed", "file_name"))
    val http = new StatusHttp(new StatusQueries(store))
    val port = http.start()
    try f(port) finally http.stop()
  }

  private def nObjects(jsonArray: String): Int =
    "\"upload_id\"".r.findAllIn(jsonArray).length

  test("get-upload-status serves the point lookup as JSON") {
    withServer { port =>
      val (code, body) = get(port, "/get-upload-status?upload_id=u2")
      assert(code == 200, body)
      assert(body.startsWith("[") && body.endsWith("]"))
      assert(nObjects(body) == 1)
      assert(body.contains("\"upload_id\":\"u2\""))
      assert(body.contains("\"status\":\"failed\""))
      // unknown id: empty result, not an error — same as the query layer
      val (c2, b2) = get(port, "/get-upload-status?upload_id=nope")
      assert(c2 == 200 && b2 == "[]")
    }
  }

  test("get-upload-status without upload_id is a 400") {
    withServer { port =>
      val (code, body) = get(port, "/get-upload-status")
      assert(code == 400 && body.contains("upload_id"))
    }
  }

  test("list-uploads filters by status and honors limit") {
    withServer { port =>
      val (code, body) = get(port, "/list-uploads")
      assert(code == 200 && nObjects(body) == 3)
      val (c2, b2) = get(port, "/list-uploads?status=done")
      assert(c2 == 200 && nObjects(b2) == 2)
      assert(b2.contains("u1") && b2.contains("u3") && !b2.contains("u2"))
      // all queued_at are null → nulls-last tie broken by upload_id: u1
      val (c3, b3) = get(port, "/list-uploads?status=done&limit=1")
      assert(c3 == 200 && nObjects(b3) == 1 && b3.contains("u1"))
      val (c4, b4) = get(port, "/list-uploads?limit=abc")
      assert(c4 == 400 && b4.contains("limit"))
      // an Int-overflowing limit is still the CLIENT's error: 400, not a
      // NumberFormatException surfacing as 500
      val (c5, b5) = get(port, "/list-uploads?limit=99999999999")
      assert(c5 == 400 && b5.contains("limit"))
    }
  }

  test("malformed percent-encoding is a 400, not a 500") {
    withServer { port =>
      // java.net.URI refuses to even build this URL, so speak raw HTTP —
      // which is exactly what a hostile client does
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        out.write(("GET /get-upload-status?upload_id=%zz HTTP/1.1\r\n" +
          s"Host: 127.0.0.1:$port\r\nConnection: close\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        out.flush()
        val resp = new String(sock.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        // the JDK server layer itself 400s a malformed request URI before
        // the handler runs; the handler's own IllegalArgumentException →
        // 400 mapping covers decode failures that get past it. Either
        // way the wire contract is: client error, never a 500.
        assert(resp.startsWith("HTTP/1.1 400"), s"got: ${resp.take(120)}")
      } finally sock.close()
    }
  }

  test("concurrent clients on one head all get the query layer's bodies") {
    val store = new LedgerStore(spark, tmpDir("http-concurrent") + "/ledger")
    store.merge((1 to 30).map(i => (f"u$i%02d",
        if (i % 4 == 0) UploadStatus.Failed else UploadStatus.Done, i.toLong))
      .toDF("upload_id", "status", "lines_processed"))
    val queries = new StatusQueries(store)
    def body(df: org.apache.spark.sql.DataFrame) =
      df.toJSON.collect().mkString("[", ",", "]")
    // the expected bodies: the query layer over the same (unchanged) head
    val expected = (1 to 30 by 3).map { i =>
      val id = f"u$i%02d"
      s"/get-upload-status?upload_id=$id" -> body(queries.getUploadStatus(id))
    } ++ Seq(None -> 10, Some(UploadStatus.Done) -> 5,
        Some(UploadStatus.Failed) -> 100).map { case (status, limit) =>
      val q = status.map(s => s"status=$s&").getOrElse("") + s"limit=$limit"
      s"/list-uploads?$q" -> body(queries.listUploads(status, limit))
    }
    val http = new StatusHttp(queries)
    val port = http.start()
    val clients = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    try {
      val got = Await.result(Future.sequence((0 until clients).map { c =>
        // each client walks every request, starting at its own offset
        Future {
          expected.indices.map { k =>
            val (path, _) = expected((k + c) % expected.size)
            path -> get(port, path)
          }
        }
      }), 5.minutes).flatten
      assert(got.size == clients * expected.size)
      val want = expected.toMap
      got.foreach { case (path, (code, b)) =>
        assert(code == 200, s"$path: $b")
        assert(b == want(path), s"$path served a body the query layer did not")
      }
    } finally { http.stop(); pool.shutdown() }
  }

  test("non-GET methods and unknown paths are rejected") {
    withServer { port =>
      val conn = URI.create(s"http://127.0.0.1:$port/list-uploads").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      assert(conn.getResponseCode == 405)
      // JDK server answers contexts it has; an unknown root path is 404
      val (code, _) = get(port, "/nope")
      assert(code == 404)
    }
  }
}

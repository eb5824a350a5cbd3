package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.StatusHttp
import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.Row
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Expected ledger row, as the status API should render it. Timestamps are
  * whole seconds (epoch micros), which the JSON rendering keeps exactly. */
final case class Up(id: String, file: String, size: Long, status: String,
    queuedUs: Long, startedUs: Option[Long], completedUs: Option[Long],
    failedUs: Option[Long], error: Option[String], lines: Option[Long],
    attempts: Option[Int])

/** Status API client shared by `status_read` and `ingest_stream_mixed`:
  * sends one request, times it, and checks the body. */
final class StatusClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  /** (status code, parsed body, seconds). */
  def get(pathAndQuery: String): (Int, JsonNode, Double) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build()
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    val dt = (System.nanoTime() - t0) / 1e9
    (resp.statusCode, scala.util.Try(mapper.readTree(resp.body)).getOrElse(null), dt)
  }
}

object Up {
  private def micros(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map { v =>
      val i = java.time.Instant.parse(v.asText)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
  private def str(n: JsonNode, f: String) = Option(n.get(f)).filterNot(_.isNull).map(_.asText)
  private def lng(n: JsonNode, f: String) = Option(n.get(f)).filterNot(_.isNull).map(_.asLong)

  /** Does the rendered row `n` equal the expected upload `u`? */
  def matches(n: JsonNode, u: Up): Boolean =
    str(n, "upload_id").contains(u.id) && str(n, "file_name").contains(u.file) &&
      lng(n, "file_size").contains(u.size) && str(n, "status").contains(u.status) &&
      micros(n, "queued_at").contains(u.queuedUs) &&
      micros(n, "processing_started_at") == u.startedUs &&
      micros(n, "processing_completed_at") == u.completedUs &&
      micros(n, "failed_at") == u.failedUs && str(n, "error_message") == u.error &&
      lng(n, "lines_processed") == u.lines &&
      lng(n, "attempts").map(_.toInt) == u.attempts

  def hexId(seed: Long, i: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$seed-$i".getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }
}

/** `status_read`: a 20k-upload ledger (one base plus two deltas, below
  * the compaction threshold) served by `StatusHttp` on loopback to one
  * closed-loop client per core. Every response is checked against the
  * rows set-up wrote, in the documented newest-first order with
  * `upload_id` as tie-break. */
final class StatusRead extends Workload {
  final class State(val root: File, val store: MeteredLedgerStore,
      val queries: MeteredStatusQueries, val http: StatusHttp, val port: Int,
      val ups: IndexedSeq[Up], val byId: Map[String, Up],
      val lists: Map[Option[String], IndexedSeq[Up]]) {
    var window = 0
  }
  private val BaseN = 18000
  private val DeltaN = 1000
  private val Deltas = 2
  private val T0Us = 1767225600L * 1000000L // 2026-01-01T00:00:00Z
  private val Statuses = Seq("done", "failed", "pending")

  private def rowOf(u: Up): Row = Row(u.id, "bucket", u.file, u.size, u.status,
    new java.sql.Timestamp(u.queuedUs / 1000),
    u.startedUs.map(t => new java.sql.Timestamp(t / 1000)).orNull,
    u.completedUs.map(t => new java.sql.Timestamp(t / 1000)).orNull,
    u.failedUs.map(t => new java.sql.Timestamp(t / 1000)).orNull,
    u.error.orNull, u.lines.map(Long.box).orNull, u.attempts.map(Int.box).orNull)

  /** Upload `i` as first written: queued three to a second (ties broken by
    * upload_id), and already terminal unless it lands in the last delta. */
  private def fresh(seed: Long, r: scala.util.Random, i: Int, terminal: Boolean): Up = {
    val q = T0Us + (i / 3) * 1000000L
    val base = Up(Up.hexId(seed, i), f"f_$i%06d.csv", 100L + r.nextInt(2000000),
      "pending", q, None, None, None, None, None, None)
    if (!terminal) base
    else if (r.nextInt(10) == 0)
      base.copy(status = "failed", startedUs = Some(q + 1000000L),
        failedUs = Some(q + 2000000L),
        error = Some(graft.functions.IngestFunctions.ValidationError),
        attempts = Some(1 + r.nextInt(5)))
    else base.copy(status = "done", startedUs = Some(q + 1000000L),
      completedUs = Some(q + 2000000L), lines = Some(2L + r.nextInt(50000)))
  }

  private def complete(u: Up): Up = u.copy(status = "done",
    startedUs = Some(u.queuedUs + 1000000L), completedUs = Some(u.queuedUs + 3000000L),
    lines = Some(2L + (u.size % 9973)))

  def setup(run: Run, round: Int): State = {
    val spark = run.spark
    val root = run.dir(s"status-$round")
    val store = new MeteredLedgerStore(spark, new File(root, "ledger").getPath, run.tracer)
    val r = new scala.util.Random(run.seed)
    val ups = mutable.ArrayBuffer.tabulate(BaseN)(i => fresh(run.seed, r, i, terminal = true))
    val schema = graft.model.Ledger.schema
    def write(rows: Seq[Up]): Unit =
      store.merge(spark.createDataFrame(rows.map(rowOf).asJava, schema), requireExisting = false)
    write(ups.toSeq)
    // each delta queues a block of new uploads (pending) and completes
    // the block the previous delta queued — a merge of new and
    // existing keys, as an ingest pass writes them
    (1 to Deltas).foreach { d =>
      val from = BaseN + (d - 1) * DeltaN
      val added = (from until from + DeltaN).map(i => fresh(run.seed, r, i, terminal = false))
      val done = if (d == 1) Seq.empty else
        (from - DeltaN until from).map { i => ups(i) = complete(ups(i)); ups(i) }
      ups ++= added
      write(added ++ done)
    }
    val all = ups.toIndexedSeq
    val order = Ordering.by[Up, (Long, String)](u => (-u.queuedUs, u.id))
    val sorted = all.sorted(order)
    val lists = (None +: Statuses.map(Some(_))).map(s =>
      s -> sorted.filter(u => s.forall(_ == u.status))).toMap
    val queries = new MeteredStatusQueries(store, run.tracer)
    val http = new StatusHttp(queries)
    val port = http.start(0)
    new State(root, store, queries, http, port, all,
      all.map(u => u.id -> u).toMap, lists)
  }

  /** Both endpoints once. */
  def warm(run: Run, st: State): Unit = {
    val c = new StatusClient(st.port)
    c.get(s"/get-upload-status?upload_id=${st.ups.last.id}")
    c.get("/list-uploads?limit=10")
    ()
  }

  def dispose(run: Run, st: State): Unit = { st.http.stop(); Dirs.deleteTree(st.root) }

  def measure(run: Run, st: State, seconds: Double): Window = {
    st.window += 1
    st.store.reset()
    st.queries.opened.clear()
    val res = StatusLoad.closedLoop(run, st.port, run.cpus, seconds,
      run.seed * 7919L + st.window, () => Some(st.ups),
      (u, body) => st.byId.get(u.id) match {
        case None => body.size == 0
        case Some(want) => body.size == 1 && Up.matches(body.get(0), want)
      }, st.lists)
    val e2e = Map("latency_ms" -> Stats.mean(res.gets) * 1000)
    val layers =
      if (!run.tracer.enabled) Map.empty[String, Double]
      else {
        val (gens, files, bytes) = st.store.footprint()
        res.layers ++ StatusLoad.serviceLayer(run, st.queries, res) ++
          LedgerLayer(st.store, gens, files, bytes, st.ups.size.toDouble)
      }
    Window(e2e, layers)
  }

  def finish(run: Run, st: State): Unit = dispose(run, st)
}

/** Latencies of one client loop. */
final case class LoadResult(gets: Seq[Double], lists: Seq[Double], rps: Double) {
  def layers: Map[String, Double] = Map(
    "api.get_p50_ms" -> Stats.median(gets) * 1000,
    "api.get_p90_ms" -> Stats.pct(gets, 0.9) * 1000,
    "api.list_p50_ms" -> Stats.median(lists) * 1000,
    "api.list_p90_ms" -> Stats.pct(lists, 0.9) * 1000,
    "api.rps" -> rps)
}

object StatusLoad {
  /** A get for an id the ledger does not hold. */
  def unknown(id: String): Up = Up(id, "", 0L, "unknown", 0L, None, None, None, None, None, None)

  /** `clients` closed-loop clients for `seconds`. Mix: 80% get-upload-status
    * (ids skewed toward the newest uploads, 4% unknown ids), 20%
    * list-uploads (no filter or one status, limit 10 or 100). `known`
    * gives the uploads a get may ask for; `checkGet` judges a get's body;
    * `lists` the full expected order per status filter (empty: list
    * bodies are checked for shape only). */
  def closedLoop(run: Run, port: Int, clients: Int, seconds: Double, seed: Long,
      known: () => Option[IndexedSeq[Up]], checkGet: (Up, JsonNode) => Boolean,
      lists: Map[Option[String], IndexedSeq[Up]]): LoadResult =
    load(run, port, clients, seconds, seed, known, checkGet, lists, None)

  /** One open-loop poller: a request every `intervalS`, timed from when it
    * was due, so a stalled server shows as latency on the requests behind
    * it. Same mix and checks as [[closedLoop]]. */
  def poller(run: Run, port: Int, intervalS: Double, seconds: Double, seed: Long,
      known: () => Option[IndexedSeq[Up]], checkGet: (Up, JsonNode) => Boolean): LoadResult =
    load(run, port, 1, seconds, seed, known, checkGet, Map.empty, Some(intervalS))

  private def load(run: Run, port: Int, clients: Int, seconds: Double, seed: Long,
      known: () => Option[IndexedSeq[Up]], checkGet: (Up, JsonNode) => Boolean,
      lists: Map[Option[String], IndexedSeq[Up]], intervalS: Option[Double]): LoadResult = {
    val gets = new ConcurrentLinkedQueue[Double]()
    val listsT = new ConcurrentLinkedQueue[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { ci =>
      new Thread(() => {
        val c = new StatusClient(port)
        val r = new scala.util.Random(seed * 131L + ci)
        var k = 0L
        while (System.nanoTime() < deadline) {
          intervalS.foreach { iv =>
            val due = t0 + (k * iv * 1e9).toLong
            val w = due - System.nanoTime()
            if (w > 0) Thread.sleep(w / 1000000L, (w % 1000000L).toInt)
          }
          val lateS = intervalS.map(iv => math.max(0.0,
            (System.nanoTime() - t0 - k * iv * 1e9) / 1e9)).getOrElse(0.0)
          k += 1
          val s0 = run.tracer.nowNs
          if (r.nextInt(100) < 80) {
            val ups = known().getOrElse(IndexedSeq.empty)
            val up =
              if (ups.isEmpty || r.nextInt(100) < 4) unknown(f"ffff${r.nextLong()}%016x".take(16))
              else ups(ups.size - 1 - (ups.size * math.pow(r.nextDouble(), 4)).toInt)
            val (code, body, dt) = c.get(s"/get-upload-status?upload_id=${up.id}")
            run.tracer.record("client.get", s0, run.tracer.nowNs, up.id)
            gets.add(dt + lateS); run.attempt()
            val ok = code == 200 && body != null && body.isArray && checkGet(up, body)
            if (!ok) run.fail(s"get ${up.id}: HTTP $code ${String.valueOf(body).take(200)}")
          } else {
            val status = Seq(None, Some("done"), Some("failed"), Some("pending"))(r.nextInt(4))
            val limit = if (r.nextBoolean()) 10 else 100
            val q = status.map(s => s"status=$s&").getOrElse("") + s"limit=$limit"
            val (code, body, dt) = c.get(s"/list-uploads?$q")
            run.tracer.record("client.list", s0, run.tracer.nowNs, q)
            listsT.add(dt + lateS); run.attempt()
            val ok = code == 200 && body != null && body.isArray && (lists.get(status) match {
              case Some(exp) =>
                val want = exp.take(limit)
                body.size == want.size &&
                  want.indices.forall(i => Up.matches(body.get(i), want(i)))
              case None => body.size <= limit
            })
            if (!ok) run.fail(s"list $q: HTTP $code ${String.valueOf(body).take(200)}")
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    LoadResult(gets.asScala.toSeq, listsT.asScala.toSeq, (gets.size + listsT.size) / wall)
  }

  /** Server-side view of the traced requests: Spark jobs per request and
    * service time (call into `StatusQueries` to the request's last job
    * end); `wait_ms` is client latency minus service time, at the median. */
  def serviceLayer(run: Run, q: MeteredStatusQueries, res: LoadResult): Map[String, Double] =
    run.sparkListener.map { l =>
      run.drain()
      val per = q.opened.asScala.toSeq.map { case (kind, id, startNs) =>
        val c = l.of(id)
        val end = c.lastJobEndMs.get * 1000000L
        run.tracer.record(s"api.$kind", startNs, math.max(end, startNs), kind, id)
        (kind, c.jobs.sum.toDouble, math.max(0L, end - startNs) / 1e6)
      }
      val service = Stats.median(per.map(_._3))
      val lat = Stats.median(res.gets ++ res.lists) * 1000
      Map(
        "api.jobs_per_get" -> Stats.median(per.filter(_._1 == "get").map(_._2)),
        "api.jobs_per_list" -> Stats.median(per.filter(_._1 == "list").map(_._2)),
        "api.service_ms" -> service,
        "api.wait_ms" -> (lat - service))
    }.getOrElse(Map.empty)
}

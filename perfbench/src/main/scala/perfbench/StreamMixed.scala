package perfbench

import graft.api.StatusHttp
import graft.streaming.StreamingIngest
import java.io.File
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_stream_mixed`: open loop. A generator thread lands a file every
  * `SpacingS` into a live `StreamingIngest.start` with a processing-time
  * trigger, while one status client polls every two seconds (open loop):
  * `get-upload-status` for recently landed files, plus `list-uploads`.
  * Latency runs from each file's scheduled land time to its terminal
  * timestamp in the ledger.
  *
  * The spacing is longer than a one-file trigger takes on a 4-cpu host
  * (3-8 s beside the poller, the longest with a ledger compaction), far
  * below the capacity `ingest_batch` shows, so each file is normally
  * ingested by a trigger of its own: the latency is that of one file. At
  * spacings shorter than a trigger, files queue behind the running trigger
  * and the latency follows how the landings batch, which shifts from run
  * to run with small changes in trigger time. */
final class StreamMixed extends Workload {
  final class State(val root: File, val inbox: File, val quarantine: File,
      val store: MeteredLedgerStore, val queries: MeteredStatusQueries,
      val http: StatusHttp, val port: Int, val query: StreamingQuery,
      val gen: FileGen, val triggers: TriggerListener, val pipeline: MeteredIngestPipeline) {
    var window = 0
  }
  private val SpacingS = 7.5
  private val TriggerMs = 500L
  private val PollS = 2.0

  def setup(run: Run, round: Int): State = {
    val spark = run.spark
    val root = run.dir(s"stream-$round")
    val staging = new File(root, "staging"); staging.mkdirs()
    val inbox = new File(root, "inbox"); inbox.mkdirs()
    val quarantine = new File(root, "quarantine")
    val store = new MeteredLedgerStore(spark, new File(root, "ledger").getPath, run.tracer)
    val pipeline = new MeteredIngestPipeline(spark, store, quarantine.getPath, run.tracer)
    val triggers = new TriggerListener
    spark.streams.addListener(triggers)
    val query = new StreamingIngest(spark, pipeline).start(inbox.getPath,
      new File(root, "checkpoint").getPath, Trigger.ProcessingTime(TriggerMs))
    val queries = new MeteredStatusQueries(store, run.tracer)
    val http = new StatusHttp(queries)
    val port = http.start(0)
    val gen = new FileGen(run.seed, staging, inbox, run.tracer, FileGen.StreamSpecials)
    new State(root, inbox, quarantine, store, queries, http, port,
      query, gen, triggers, pipeline)
  }

  /** One plain CSV through the live query, and one status request. */
  def warm(run: Run, st: State): Unit = {
    st.gen.landWarm(0, -1)
    st.query.processAllAvailable()
    new StatusClient(st.port).get("/list-uploads?limit=10")
    ()
  }

  def dispose(run: Run, st: State): Unit = {
    st.query.stop(); st.http.stop()
    run.spark.streams.removeListener(st.triggers)
    Dirs.deleteTree(st.root)
  }

  /** upload_id of a landed file, by the reference's metadata formula. */
  private def uploadId(st: State, l: Landed): String = {
    val iso = java.time.Instant.ofEpochMilli(l.mtimeMs).atOffset(java.time.ZoneOffset.UTC)
    val created = {
      val base = iso.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      val us = iso.getNano / 1000
      base + (if (us == 0) "" else f".$us%06d") + "+00:00"
    }
    val key = s"file:${st.inbox.getPath}-${l.name}-${l.size}-$created"
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
  }

  def measure(run: Run, st: State, seconds: Double): Window = {
    st.window += 1
    st.store.reset()
    st.queries.opened.clear()
    st.triggers.durationsMs.clear(); st.triggers.inputRows.clear()
    st.pipeline.passes.clear()
    val first = st.gen.landed.size
    val startNs = run.tracer.nowNs + 200000000L
    val n = (seconds / SpacingS).toInt + 1
    val lateness = mutable.ArrayBuffer.empty[Double]
    val recent = new java.util.concurrent.atomic.AtomicReference[IndexedSeq[Up]](IndexedSeq.empty)
    val genThread = new Thread(() => {
      (0 until n).foreach { k =>
        val sched = startNs + (k * SpacingS * 1e9).toLong
        val waitNs = sched - run.tracer.nowNs
        if (waitNs > 0) Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
        run.tracer.span("gen.land", s"land-$k") {
          st.gen.landNext(-1, sched)
        }
        val l = st.gen.landed.last
        lateness += (l.landNs - sched) / 1e9
        if (l.name.endsWith(".csv")) {
          val up = Up(uploadId(st, l), l.name, l.size, "", 0L, None, None, None, None, None, None)
          recent.set((recent.get :+ up).takeRight(20))
        }
      }
    })
    genThread.start()
    // the poller runs alongside for the generator's whole schedule. The
    // head moves under it: a landed file is absent until its trigger
    // commits, then its one row carries its id and name.
    val res = StatusLoad.poller(run, st.port, PollS, n * SpacingS,
      run.seed * 104729L + st.window, () => Some(recent.get).filter(_.nonEmpty),
      (u, body) => body.size == 0 || (body.size == 1 &&
        body.get(0).path("upload_id").asText == u.id &&
        body.get(0).path("file_name").asText == u.file))
    genThread.join()
    // drain: every landed file that the source can see reaches the ledger
    st.query.processAllAvailable()
    val landed = st.gen.landed.drop(first).toSeq
    val ledger = LedgerDump.rows(st.store.read())
      .map(r => r("upload_id").asInstanceOf[String] -> r).toMap
    final case class T(land: Landed, queuedNs: Long, terminalNs: Long)
    val done = landed.filter(_.name.endsWith(".csv")).flatMap { l =>
      ledger.get(uploadId(st, l)).flatMap { r =>
        val term = Option(r("processing_completed_at")).orElse(Option(r("failed_at")))
          .map(_.asInstanceOf[Long] * 1000L)
        term.map(t => T(l, r("queued_at").asInstanceOf[Long] * 1000L, t))
      }
    }
    val l2d = done.map(t => (t.terminalNs - t.land.schedNs) / 1e9)
    run.phase(s"window ${st.window}: land to done, s: " + l2d.map(x => f"$x%.2f").mkString(" "))
    val e2e = Map("latency_ms" -> Stats.mean(l2d) * 1000)
    val layers =
      if (!run.tracer.enabled) Map.empty[String, Double]
      else {
        val trig = st.triggers.durationsMs.toArray.map(_.asInstanceOf[Long] / 1e3).toSeq
        val rows = st.triggers.inputRows.toArray.map(_.asInstanceOf[Long].toDouble).toSeq
        // backlog: files landed but not yet terminal, at each land instant
        val backlog = landed.map(l => landed.count(_.landNs <= l.landNs) -
          done.count(_.terminalNs <= l.landNs)).maxOption.getOrElse(0)
        val (gens, files, bytes) = st.store.footprint()
        Map(
          "stream.triggers" -> trig.size.toDouble,
          "stream.trigger_s" -> Stats.median(trig),
          "stream.files_per_trigger" -> Stats.median(rows),
          "stream.backlog_max_files" -> backlog.toDouble,
          "stream.discover_wait_s" -> Stats.median(done.map(t => (t.queuedNs - t.land.landNs) / 1e9)),
          "stream.process_s" -> Stats.median(done.map(t => (t.terminalNs - t.queuedNs) / 1e9)),
          "stream.gen_lateness_s" -> Stats.pct(lateness.toSeq, 0.9),
          "stream.land_to_done_p50_s" -> Stats.median(l2d),
          "stream.land_to_done_p90_s" -> Stats.pct(l2d, 0.9)) ++
          st.pipeline.layer(run, st.pipeline.passes.asScala.toSeq, _ => false) ++
          Map("ingest.content_mb" -> landed.map(_.size).sum / 1048576.0) ++
          res.layers ++ StatusLoad.serviceLayer(run, st.queries, res) ++
          LedgerLayer(st.store, gens, files, bytes, ledger.size.toDouble)
      }
    Window(e2e, layers)
  }

  def finish(run: Run, st: State): Unit = {
    st.query.processAllAvailable()
    run.oracle("mode") = "stream"
    run.oracle("inbox") = st.inbox.getPath
    run.oracle("landed") = st.gen.landed.toSeq.map(l => Map("name" -> l.name,
      "kind" -> l.kind, "size" -> l.size, "mtime_ms" -> l.mtimeMs, "pass" -> l.pass))
    run.oracle("ledger") = LedgerDump.rows(st.store.read())
    run.oracle("quarantine") = LedgerDump.quarantine(run.spark, st.quarantine)
    st.query.stop(); st.http.stop()
  }
}

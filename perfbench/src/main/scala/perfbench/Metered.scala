package perfbench

import graft.api.StatusQueries
import graft.ledger.LedgerStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `LedgerStore` with its public `merge` and `read` timed and traced from
  * outside. In traced runs each merge also inspects the generation log
  * (`history()`) for the live chain length and for compactions, which show
  * as a new base generation. */
final class MeteredLedgerStore(spark: SparkSession, dir: String,
    tracer: Tracer) extends LedgerStore(spark, dir) {
  val merges = new CallStats
  val reads = new CallStats
  @volatile var chainLenMax = 0
  @volatile var compactions = 0
  @volatile private var lastBase = -1L

  override def merge(updates: DataFrame, requireExisting: Boolean): Unit = {
    tracer.span("ledger.merge")(merges.timed(super.merge(updates, requireExisting)))
    if (tracer.enabled) inspect()
  }

  override def read(): DataFrame =
    tracer.span("ledger.read")(reads.timed(super.read()))

  def reset(): Unit = {
    Seq(merges, reads).foreach { c => c.calls.reset(); c.ns.reset() }
    chainLenMax = 0; compactions = 0
  }

  private def inspect(): Unit = synchronized {
    val gens = history().collect().map(r => (r.getLong(0), r.getString(1)))
    val base = gens.filter(_._2 == "base").map(_._1).maxOption.getOrElse(0L)
    chainLenMax = math.max(chainLenMax, gens.count(g => g._1 > base))
    if (lastBase >= 0 && base > lastBase) compactions += 1
    lastBase = base
  }

  /** Generation count and on-disk footprint: (generations, files, bytes). */
  def footprint(): (Long, Long, Long) = {
    val gens = history().count()
    val root = new java.io.File(dir)
    val files = Option(root.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten else Seq(f)
    }.filterNot(_.getName.startsWith("."))
    (gens, files.size.toLong, files.map(_.length).sum)
  }
}

/** `StatusQueries` with each request's Spark work tied to a request span.
  * The HTTP handler runs the returned plan on the same thread right after
  * this call, so the `perfbench.span` local property set here stays on for
  * that request's jobs; the service time is the interval from this call to
  * the request's last job end, recorded by [[SparkLayerListener]]. */
final class MeteredStatusQueries(store: LedgerStore, tracer: Tracer)
    extends StatusQueries(store) {
  /** (kind, span id, start epoch nanos) of every traced request. */
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def open(kind: String): Unit =
    if (tracer.enabled) tracer.spark.foreach { s =>
      val id = tracer.nextId()
      opened.add((kind, id, tracer.nowNs))
      s.sparkContext.setLocalProperty(tracer.SpanProp, id.toString)
    }

  override def getUploadStatus(uploadId: String): DataFrame = {
    open("get"); super.getUploadStatus(uploadId)
  }

  override def listUploads(status: Option[String], limit: Int): DataFrame = {
    open("list"); super.listUploads(status, limit)
  }
}

/** One call of `IngestPipeline.processEvents`: a batch pass or a streaming
  * trigger's ingest step. */
final case class PassRecord(wall: Double, span: Long, terminal: Long,
    compacted: Boolean)

/** `IngestPipeline` with `processEvents` (which `runOnce` and every
  * streaming trigger call) timed and traced from outside. */
final class MeteredIngestPipeline(spark: SparkSession,
    store: MeteredLedgerStore, quarantineDir: String, tracer: Tracer)
    extends graft.ingest.IngestPipeline(spark, store, quarantineDir) {
  val passes = new java.util.concurrent.ConcurrentLinkedQueue[PassRecord]()

  override def processEvents(events: DataFrame): graft.ingest.IngestResult = {
    val c0 = store.compactions
    var span = 0L
    val t0 = System.nanoTime()
    val r = tracer.span("ingest.pass") {
      span = Option(spark.sparkContext.getLocalProperty(tracer.SpanProp))
        .flatMap(_.toLongOption).getOrElse(0L)
      super.processEvents(events)
    }
    passes.add(PassRecord((System.nanoTime() - t0) / 1e9, span,
      r.done + r.failed, store.compactions > c0))
    r
  }

  /** The `ingest.*` per-layer values of the recorded passes; `idle` picks
    * the passes that landed nothing (batch only). */
  def layer(run: Run, recs: Seq[PassRecord], idle: PassRecord => Boolean): Map[String, Double] = {
    val counts = run.sparkListener.map { l =>
      run.drain(); recs.map(p => p -> l.of(p.span)).toMap
    }.getOrElse(Map.empty)
    def jobs(ps: Seq[PassRecord]) = ps.flatMap(counts.get).map(_.jobs.sum.toDouble)
    val busy = recs.filterNot(idle)
    Map(
      "ingest.passes" -> recs.size.toDouble,
      "ingest.pass_s" -> Stats.median(busy.map(_.wall)),
      "ingest.pass_p90_s" -> Stats.pct(busy.map(_.wall), 0.9),
      "ingest.jobs_per_pass" -> Stats.median(jobs(busy)),
      "ingest.tasks_per_pass" -> Stats.median(busy.flatMap(counts.get).map(_.tasks.sum.toDouble)),
      "ingest.todo_files" -> recs.map(_.terminal).sum.toDouble,
      "ingest.files_per_s" -> recs.map(_.terminal).sum / recs.map(_.wall).sum,
      "ingest.noop_pass_s" -> Stats.median(recs.filter(idle).map(_.wall)),
      "ingest.noop_pass_jobs" -> Stats.median(jobs(recs.filter(idle))),
      "ingest.compaction_pass_s" -> Stats.median(recs.filter(_.compacted).map(_.wall)))
  }
}

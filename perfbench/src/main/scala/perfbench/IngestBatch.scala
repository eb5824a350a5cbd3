package perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Outcome rows handed to the ingest outcome oracle: the ledger and the
  * quarantine log, timestamps as epoch micros. */
object LedgerDump {
  private val tsCols = Seq("queued_at", "processing_started_at",
    "processing_completed_at", "failed_at")

  def rows(df: DataFrame): Seq[Map[String, Any]] = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.toSeq.map(c =>
      if (tsCols.contains(c)) unix_micros(col(c)).as(c) else col(c))
    df.select(cols: _*).collect().toSeq.map(r =>
      r.schema.fieldNames.toSeq.map(n => n -> r.getAs[Any](n)).toMap)
  }

  /** The quarantine log; its directory exists once a first row is written. */
  def quarantine(spark: org.apache.spark.sql.SparkSession, dir: File): Seq[Map[String, Any]] =
    if (!dir.exists) Seq.empty
    else rows(spark.read.parquet(dir.getPath).select("upload_id", "file_name", "attempts"))
}

/** `ingest_batch`: closed loop on one driver thread. Each step lands a
  * batch of files and calls `IngestPipeline.runOnce` over the growing
  * inbox; every third pass lands nothing and times the scheduled re-run
  * (which still retries failures not yet quarantined). */
final class IngestBatch extends Workload {
  final class State(val root: File, val inbox: File, val quarantine: File,
      val store: MeteredLedgerStore, val pipeline: MeteredIngestPipeline, val gen: FileGen) {
    var pass = 0
    var bigLanded = false
  }
  private val BatchFiles = 12

  def setup(run: Run, round: Int): State = {
    val root = run.dir(s"batch-$round")
    val staging = new File(root, "staging"); staging.mkdirs()
    val inbox = new File(root, "inbox"); inbox.mkdirs()
    val quarantine = new File(root, "quarantine")
    val store = new MeteredLedgerStore(run.spark, new File(root, "ledger").getPath, run.tracer)
    val pipeline = new MeteredIngestPipeline(run.spark, store, quarantine.getPath, run.tracer)
    new State(root, inbox, quarantine, store, pipeline,
      new FileGen(run.seed, staging, inbox, run.tracer, FileGen.BatchSpecials))
  }

  /** A first few files through the cold pipeline. */
  def warm(run: Run, st: State): Unit = {
    (0 until 3).foreach(i => st.gen.landWarm(i, 0))
    st.pipeline.runOnce(st.inbox.getPath)
    st.pass = 1
  }

  def dispose(run: Run, st: State): Unit = Dirs.deleteTree(st.root)

  def measure(run: Run, st: State, seconds: Double): Window = {
    final case class P(rec: PassRecord, lands: Boolean, csvBytes: Long)
    val ps = mutable.ArrayBuffer.empty[P]
    st.store.reset()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val lands = st.pass % 3 != 2
      val before = st.gen.landed.size
      if (lands) {
        st.gen.landBatch(BatchFiles, st.pass, 1)
        if (!st.bigLanded) { st.gen.landBig(st.pass); st.bigLanded = true }
      }
      val csvBytes = st.gen.landed.drop(before)
        .filter(l => l.name.endsWith(".csv")).map(_.size).sum
      st.pipeline.runOnce(st.inbox.getPath)
      run.attempt()
      ps += P(st.pipeline.passes.asScala.last, lands, csvBytes)
      st.pass += 1
    }
    val recs = ps.map(_.rec).toSeq
    val e2e = Map(
      "latency_ms" -> Stats.mean(ps.filter(_.lands).map(_.rec.wall)) * 1000)
    val layers =
      if (!run.tracer.enabled) Map.empty[String, Double]
      else {
        val (gens, files, bytes) = st.store.footprint()
        val uploads = st.store.read().count().toDouble
        val idle = ps.filterNot(_.lands).map(_.rec).toSet
        st.pipeline.layer(run, recs, idle) ++
          Map("ingest.content_mb" -> ps.map(_.csvBytes).sum / 1048576.0) ++
          LedgerLayer(st.store, gens, files, bytes, uploads)
      }
    Window(e2e, layers)
  }

  def finish(run: Run, st: State): Unit = {
    run.oracle("mode") = "batch"
    run.oracle("inbox") = st.inbox.getPath
    run.oracle("passes") = st.pass
    run.oracle("landed") = st.gen.landed.toSeq.map(l => Map("name" -> l.name,
      "kind" -> l.kind, "size" -> l.size, "mtime_ms" -> l.mtimeMs, "pass" -> l.pass))
    run.oracle("ledger") = LedgerDump.rows(st.store.read())
    run.oracle("quarantine") = LedgerDump.quarantine(run.spark, st.quarantine)
  }

}

/** The `ledger.*` per-layer values of a metered store. */
object LedgerLayer {
  def apply(s: MeteredLedgerStore, gens: Long, files: Long, bytes: Long,
      uploads: Double): Map[String, Double] = Map(
    "ledger.merge_calls" -> s.merges.calls.sum.toDouble,
    "ledger.merge_s" -> s.merges.seconds,
    "ledger.read_calls" -> s.reads.calls.sum.toDouble,
    "ledger.read_s" -> s.reads.seconds,
    "ledger.chain_len_max" -> s.chainLenMax.toDouble,
    "ledger.compactions" -> s.compactions.toDouble,
    "ledger.generations" -> gens.toDouble,
    "ledger.files" -> files.toDouble,
    "ledger.bytes_per_upload" -> (if (uploads > 0) bytes / uploads else 0.0))
}

object Dirs {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }
}

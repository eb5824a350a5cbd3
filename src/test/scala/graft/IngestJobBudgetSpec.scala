package graft

import graft.functions.IngestFunctions.pyIsoformatUtc
import graft.ingest.IngestPipeline
import graft.ledger.LedgerStore
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftInternal
import org.apache.spark.sql.functions._

/** The Spark jobs one ingest pass runs, as a regression guard: a pass
  * collects its todo set once and writes every merge from driver-local
  * rows, so a stray persist, count or aggregation shows here first (and
  * as land-to-done latency on the streaming benchmark). Counts are of
  * `processEvents` calls on a ledger whose chains are each read once, so
  * the pass persists no head.
  */
class IngestJobBudgetSpec extends SparkSpec {

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  /** Jobs started by `body`, counted with the listener bus drained on both
    * sides; and the persisted RDDs it left behind. */
  private def budget(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftInternal.drainListenerBus(spark, 10000L)
    val persisted = sc.getPersistentRDDs.size
    sc.addSparkListener(listener)
    try { body; GraftInternal.drainListenerBus(spark, 10000L) }
    finally sc.removeSparkListener(listener)
    (jobs.get, sc.getPersistentRDDs.size - persisted)
  }

  /** A pipeline on a ledger holding one pass over `first.csv`, rewritten
    * as one base: the head broadcast scans one parquet dir, as a resolved
    * head serves it, so the counts are the pass's own jobs and not a
    * chain's merge-on-read stages. */
  private def seeded(name: String) = {
    val inbox = tmpDir(s"$name-inbox")
    writeFile(inbox, "first.csv", "id,v\n1,2\n")
    val store = new LedgerStore(spark, tmpDir(s"$name-ledger"))
    val pipe = new IngestPipeline(spark, store, tmpDir(s"$name-dlq"))
    assert(pipe.runOnce(inbox).done == 1)
    store.overwrite(store.read())
    (inbox, pipe)
  }

  test("a streamed one-file batch runs 5 jobs: broadcast, collect, three merges") {
    val (inbox, pipe) = seeded("budget-stream")
    writeFile(inbox, "second.csv", "id,v\n3,4\n")
    // the streaming source's shape (StreamingIngest.discoverStream), read
    // as a batch: one wholetext row per file, content included
    val batch = spark.read.format("text").option("wholetext", "true").load(inbox)
      .select(
        col("_metadata.file_path").as("path"),
        regexp_extract(col("_metadata.file_path"), "^(.*)/([^/]+)$", 1).as("bucket_name"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("file_size"),
        pyIsoformatUtc(col("_metadata.file_modification_time")).as("created_iso"),
        col("value").as("content"))
      .filter(col("file_name") === "second.csv")
    var done = 0L
    val (jobs, persisted) = budget { done = pipe.processEvents(batch).done }
    assert(done == 1)
    assert(jobs == 5, s"$jobs jobs")
    assert(persisted == 0, s"the pass left $persisted persisted RDDs")
  }

  test("a small-file runOnce runs 6 jobs: broadcast, collect, fetch, three merges") {
    val (inbox, pipe) = seeded("budget-batch")
    writeFile(inbox, "second.csv", "id,v\n3,4\n")
    writeFile(inbox, "third.csv", "id,v")
    var r: graft.ingest.IngestResult = null
    val (jobs, persisted) = budget { r = pipe.runOnce(inbox) }
    assert(r.discovered == 3 && r.done == 1 && r.failed == 1 && r.skipped == 1)
    assert(jobs == 6, s"$jobs jobs")
    assert(persisted == 0, s"the pass left $persisted persisted RDDs")
  }
}

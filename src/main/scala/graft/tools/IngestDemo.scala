package graft.tools

import graft.api.StatusQueries
import graft.ingest.IngestPipeline
import graft.ledger.LedgerStore

/** End-to-end drive of the ingest engine over a fixture inbox directory.
  *
  * Usage: runMain graft.tools.IngestDemo <inboxDir> <workDir> [passes]
  *
  * Replays the reference's manual smoke scenario (reference: test:1-2,
  * ARCHITECTURE.md:211-234): ingest whatever is in the inbox, print the
  * outcome counts, run the two documented status queries, repeat to show
  * idempotency, and keep repeating to show retry-exhaustion → quarantine.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val inbox = args(0)
    val work = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.session(graft.GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val store = new LedgerStore(spark, s"$work/ledger")
    val pipeline = new IngestPipeline(spark, store, s"$work/quarantine")
    val api = new StatusQueries(store)

    (1 to passes).foreach { i =>
      val r = pipeline.runOnce(inbox)
      println(s"[pass $i] discovered=${r.discovered} skipped=${r.skipped} " +
        s"done=${r.done} failed=${r.failed} quarantined=${r.quarantined}")
    }

    println("--- ledger ---")
    store.read().orderBy("file_name").show(50, truncate = false)
    println("--- list-uploads?status=done&limit=10 ---")
    api.listUploads(Some("done"), 10).show(truncate = false)
    println("--- list-uploads?status=failed&limit=10 ---")
    api.listUploads(Some("failed"), 10).show(truncate = false)

    // columnar warehouse load of the done uploads (main.py:129-130
    // extension point)
    val wh = new graft.ingest.CsvWarehouse(spark, s"$work/warehouse")
    val (tables, rows) = wh.loadDone(store)
    println(s"--- warehouse: $tables table(s), $rows row(s) ---")
    wh.tables().foreach { sig =>
      println(s"table t_$sig:")
      wh.table(sig).show(5, truncate = false)
    }

    // externalized envelope handoff (S4/S5): publish the done envelopes
    // and read them back decoded
    val bus = new graft.operators.EnvelopeBus(spark, s"$work/bus")
    bus.publish(store.read()
      .filter(org.apache.spark.sql.functions.col("status") === "done")
      .select("upload_id", "bucket_name", "file_name"))
    println(s"--- envelope bus: ${bus.readAll().count()} message(s) ---")
    bus.readAll().show(5, truncate = false)
    spark.stop()
  }
}

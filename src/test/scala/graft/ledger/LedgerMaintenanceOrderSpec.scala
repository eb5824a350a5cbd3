package graft.ledger

import graft.SparkSpec
import graft.ingest.IngestPipeline
import graft.model.UploadStatus
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row

/** Ledger maintenance order: an ingest pass publishes its terminal rows
  * before the compaction its pending or processing merge made due, and
  * [[LedgerStore.deferMaintenance]] holds back only the calling thread's
  * merges, only while its scope is open.
  */
class LedgerMaintenanceOrderSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: String*) =
    ids.map((_, UploadStatus.Pending)).toDF("upload_id", "status")

  private def deltas(store: LedgerStore) = store.liveChain().count(_.isDelta)

  private def inbox(): String = {
    val dir = tmpDir("order-inbox")
    Files.write(Paths.get(dir, "good.csv"), "id,v\n1,a\n2,b\n".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "header-only.csv"), "id,v".getBytes("UTF-8"))
    dir
  }

  // compactEvery = 4 and three merges per pass: 3 deltas before the pass
  // make compaction due at its pending merge, 2 at its processing merge
  for ((before, dueAt) <- Seq(3 -> "pending", 2 -> "processing"))
    test(s"a pass publishes its terminal delta before the compaction due at its $dueAt merge") {
      val store = new LedgerStore(spark, tmpDir("order-ledger"), compactEvery = 4)
      (1 to before).foreach(i => store.merge(rows(s"seed$i")))
      assert(deltas(store) == before)
      val head0 = store.currentPointer().get._1

      val r = new IngestPipeline(spark, store, tmpDir("order-dlq")).runOnce(inbox())
      assert(r.done == 1 && r.failed == 1)

      val log = store.history().as[(Long, String, String)].collect()
        .filter(_._1 > head0).toSeq
      // pending, processing, terminal — and only then the compaction's base
      assert(log.map(_._2) == Seq("delta", "delta-must-exist",
        "delta-must-exist", "base"), s"generation log of the pass: $log")
      val terminal = log(2)._1
      val terminalState = store.readAt(terminal)
        .select("file_name", "status").as[(String, String)].collect().toMap
      assert(terminalState.get("good.csv").contains(UploadStatus.Done) &&
        terminalState.get("header-only.csv").contains(UploadStatus.Failed),
        s"the delta before the base must carry the terminal rows: $terminalState")

      val head = store.currentPointer().get._1
      assert(head == log.last._1)
      assert(store.read().collect().toSet == store.readAt(head).collect().toSet)
      assert(deltas(store) <= 4)
    }

  test("a merge on another thread during the scope still compacts synchronously") {
    val store = new LedgerStore(spark, tmpDir("order-threads"), compactEvery = 2)
    store.deferMaintenance {
      store.merge(rows("a")); store.merge(rows("b"))
      assert(deltas(store) == 2, "merges inside the scope must not compact")
      var err: Throwable = null
      val t = new Thread(() =>
        try {
          store.merge(rows("c"))
          // this thread's merge maintained before returning
          assert(store.liveChain().map(_.isDelta) == Seq(false))
        } catch { case e: Throwable => err = e })
      t.start(); t.join()
      if (err != null) throw err
    }
    assert(store.read().select("upload_id").as[String].collect().toSet ==
      Set("a", "b", "c"))
  }

  test("a scope whose body throws restores maintenance for the thread's next merge") {
    val store = new LedgerStore(spark, tmpDir("order-throw"), compactEvery = 2)
    intercept[IllegalStateException] {
      store.deferMaintenance {
        store.merge(rows("a")); store.merge(rows("b"))
        throw new IllegalStateException("pass failed after its processing merge")
      }
    }
    assert(deltas(store) == 2, "the deferred deltas stand until a maintaining merge")
    store.merge(rows("c"))
    assert(store.liveChain().map(_.isDelta) == Seq(false),
      "the next merge outside the scope must compact")
    assert(store.read().select("upload_id", "status").collect().toSet ==
      Set("a", "b", "c").map(Row(_, UploadStatus.Pending)))
  }
}

package graft.ledger

import graft.SparkSpec
import graft.model.UploadStatus

/** Compare-and-swap publish semantics of the ledger: a merge computed
  * against a stale snapshot must fail loudly, never silently clobber the
  * winner's rows (the reference got this serialization for free from
  * Firestore; the pointer-file ledger has to earn it).
  */
class LedgerCasSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: String*) =
    ids.map((_, UploadStatus.Pending)).toDF("upload_id", "status")

  test("a merge that lost the publish race fails loudly and clobbers nothing") {
    val store = new LedgerStore(spark, tmpDir("cas-ledger"))
    store.merge(rows("u1"))
    // writer A pins the live state...
    val stale = store.currentPointer()
    // ...writer B commits first...
    store.merge(rows("u2"))
    // ...writer A tries to publish against its stale base → loud failure
    val attempt = store.read()
    intercept[ConcurrentLedgerWriteException] {
      store.commitSnapshot(attempt, attempt.count(), stale)
    }
    // the winner's state is intact and fully visible
    val ids = store.read().select("upload_id").as[String].collect().toSet
    assert(ids == Set("u1", "u2"))
  }

  test("merges append deltas; the chain compacts into a base snapshot") {
    val dir = tmpDir("delta-ledger")
    val store = new LedgerStore(spark, dir, compactEvery = 3)
    store.merge(rows("u1"))
    store.merge(rows("u2"))
    def topPointer(): String = {
      val f = new java.io.File(dir)
      val top = f.listFiles().map(_.getName)
        .filter(_.startsWith("_ptr-")).sorted.last
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, top))
    }
    // below the compaction threshold the head is a delta — merges are
    // O(updates) appends, never full rewrites
    assert(topPointer().startsWith("delta:"))
    store.merge(rows("u3")) // 3rd delta → compaction kicks in
    assert(topPointer().startsWith("v-")) // head is a BASE snapshot now
    assert(store.read().select("upload_id").as[String].collect().toSet
      == Set("u1", "u2", "u3"))
    // post-compaction merges start a fresh delta chain on the new base
    store.merge(rows("u4"))
    assert(topPointer().startsWith("delta:"))
    assert(store.read().count() == 4)
  }

  test("merge-on-read resolves fields per column in generation order") {
    val store = new LedgerStore(spark, tmpDir("mor-ledger"))
    store.merge(Seq(("u1", UploadStatus.Pending, "bkt"))
      .toDF("upload_id", "status", "bucket_name"))
    // later generation sets status but NOT bucket_name: merge=True keeps it
    store.merge(Seq(("u1", UploadStatus.Done)).toDF("upload_id", "status"),
      requireExisting = true)
    val row = store.read().collect().head
    assert(row.getAs[String]("status") == UploadStatus.Done)
    assert(row.getAs[String]("bucket_name") == "bkt") // preserved
  }

  test("a must-exist delta older than its key's creation leaves no trace") {
    val store = new LedgerStore(spark, tmpDir("req-order-ledger"))
    // gen 1: must-exist update for a key that does not exist yet
    store.merge(Seq(("u9", UploadStatus.Done)).toDF("upload_id", "status"),
      requireExisting = true)
    assert(store.read().isEmpty)
    // gen 2 creates the key: the gen-1 must-exist row must NOT resurface
    store.merge(rows("u9"))
    val row = store.read().collect().head
    assert(row.getAs[String]("status") == UploadStatus.Pending)
  }

  test("point lookups push the key filter through merge-on-read") {
    val store = new LedgerStore(spark, tmpDir("pushdown-ledger"))
    store.merge(rows("u1", "u2"))
    store.merge(Seq(("u1", UploadStatus.Done)).toDF("upload_id", "status"),
      requireExisting = true)
    // chain = 2 deltas → read() is the join + aggregate form; the key
    // equality must still reach the parquet scans as a pushed filter, so
    // a point lookup stays footer-priced instead of scanning the chain
    val plan = store.read().filter($"upload_id" === "u1")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = "EqualTo\\(upload_id,u1\\)".r.findAllIn(plan).length
    assert(pushed >= 2, s"key filter must push into every chain scan:\n$plan")
    val row = store.read().filter($"upload_id" === "u1").collect().head
    assert(row.getAs[String]("status") == UploadStatus.Done)
  }

  test("many merges across repeated compactions keep exact per-key state") {
    val store = new LedgerStore(spark, tmpDir("churn-ledger"), compactEvery = 3)
    for (i <- 1 to 20)
      store.merge(Seq((s"u${i % 5}", UploadStatus.Pending, i.toLong))
        .toDF("upload_id", "status", "lines_processed"))
    val got = store.read()
      .select("upload_id", "lines_processed")
      .as[(String, Long)].collect().toMap
    // last writer per key wins: key u_k carries the highest i with i%5==k
    val expect = (1 to 20).groupBy(i => s"u${i % 5}")
      .view.mapValues(_.max.toLong).toMap
    assert(got == expect)
  }

  test("a concurrent merge storm with compaction loses no update") {
    val store = new LedgerStore(spark, tmpDir("storm-ledger"), compactEvery = 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future.sequence((1 to 6).map { t =>
      Future {
        (1 to 3).foreach { i => store.merge(rows(s"t$t-m$i")) }
      }
    }), 5.minutes)
    val ids = store.read().select("upload_id").as[String].collect().toSet
    val expect = (for (t <- 1 to 6; i <- 1 to 3) yield s"t$t-m$i").toSet
    assert(ids == expect) // every writer's every merge survived
  }

  test("racing merges: at most one winner per sequence, no lost updates") {
    val store = new LedgerStore(spark, tmpDir("cas-race"))
    store.merge(rows("seed"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val outcomes = Await.result(Future.sequence((1 to 4).map { i =>
      Future {
        try { store.merge(rows(s"w$i")); Right(s"w$i") }
        catch { case _: ConcurrentLedgerWriteException => Left(s"w$i") }
      }
    }), 3.minutes).toList
    val won = outcomes.collect { case Right(id) => id }.toSet
    val ids = store.read().select("upload_id").as[String].collect().toSet
    // every winner's row IS in the final state (no silent clobber), plus
    // the seed; losers raised instead of overwriting
    assert(won.nonEmpty)
    assert(ids == won + "seed")
  }
}

package graft.ledger

import graft.SparkSpec
import graft.model.UploadStatus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The head cache behind `read()`: one merge-on-read resolution per live
  * chain, shared by every store on a directory; a chain is persisted on
  * its second read, and every chain after the ledger's first re-read on
  * its first read. A head must always equal the uncached resolution of
  * the same chain, a reader racing writers must only ever see published
  * states, a write through one store must be visible to every other
  * store's next read, and no ledger may pin more than one persisted head.
  */
class LedgerHeadCacheSpec extends SparkSpec {
  import spark.implicits._

  private def rows(status: String, ids: String*) =
    ids.map((_, status)).toDF("upload_id", "status")

  private def state(df: DataFrame): Set[Row] = df.collect().toSet

  /** The whole plan is one cached resolution (a generation scan shared
    * with a cached single-base head may be substituted inside a plan that
    * still resolves its own chain). */
  private def servedFromCache(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[InMemoryRelation]

  test("after every kind of publish, read() equals the uncached readAt(head)") {
    val store = new LedgerStore(spark, tmpDir("head-ledger"), compactEvery = 3)
    var reread = false // has some chain of this ledger been read twice?
    def check(what: String): Unit = {
      val seq = store.currentPointer().get._1
      // resolved before read() sees this chain, so no head of this chain
      // is cached yet: an independent resolution of the same generations
      val plain = store.readAt(seq)
      assert(!servedFromCache(plain), s"$what: readAt must resolve uncached")
      val expected = state(plain)
      // a chain's first read is plain until the ledger has been re-read
      val first = store.read()
      assert(servedFromCache(first) == reread, s"$what: first read")
      assert(state(first) == expected, s"$what: first read diverged")
      val head = store.read()
      assert(servedFromCache(head), s"$what: a chain read twice must be cached")
      assert(state(head) == expected, s"$what: cached head diverged")
      assert(store.read() eq head, s"$what: later reads must share the head")
      reread = true
    }
    store.merge(rows(UploadStatus.Pending, "u1", "u2"))
    check("merge")
    store.merge(Seq(("u1", UploadStatus.Done, 7L), ("u9", UploadStatus.Done, 1L))
      .toDF("upload_id", "status", "lines_processed"), requireExisting = true)
    check("must-exist merge")
    store.merge(rows(UploadStatus.Pending, "u3")) // third delta: compaction
    assert(store.liveChain().map(_.isDelta) == Seq(false),
      "the third delta must have compacted the chain into one base")
    check("compaction")
    store.overwrite(store.read().filter($"upload_id" =!= "u2"))
    check("overwrite")
    store.merge(rows(UploadStatus.Failed, "u2"))
    check("merge after overwrite")
    assert(state(store.read().select("upload_id", "status")) == Set(
      Row("u1", UploadStatus.Done), Row("u2", UploadStatus.Failed),
      Row("u3", UploadStatus.Pending)))
  }

  test("a reader during a merge storm only ever sees published states") {
    val dir = tmpDir("head-storm")
    val writer = new LedgerStore(spark, dir, compactEvery = 3)
    val reader = new LedgerStore(spark, dir, compactEvery = 3)
    writer.merge(rows(UploadStatus.Pending, "seed"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[Row]]()
    val readerDone = Future {
      while (!stop.get) seen.add(state(reader.read()))
    }
    try {
      Await.result(Future.sequence((1 to 3).map { t =>
        Future {
          (1 to 4).foreach { i =>
            // a shared key rewritten by every writer, plus one key each
            writer.merge(Seq(("shared", UploadStatus.Processing, (t * 10 + i).toLong),
              (s"t$t-m$i", UploadStatus.Pending, i.toLong))
              .toDF("upload_id", "status", "lines_processed"))
          }
        }
      }), 5.minutes)
    } finally stop.set(true)
    Await.result(readerDone, 2.minutes)
    seen.add(state(reader.read()))
    val published = writer.history().collect().map(_.getLong(0))
      .map(seq => state(writer.readAt(seq))).toSet
    import scala.jdk.CollectionConverters._
    val observed = seen.asScala.toSeq
    assert(observed.size >= 2)
    observed.foreach(s => assert(published.contains(s),
      s"read() served an unpublished state: ${s.map(_.getString(0)).toSeq.sorted}"))
    // the last read is the final head: every merge of every writer
    assert(observed.last.map(_.getString(0)) ==
      (Set("seed", "shared") ++ (for (t <- 1 to 3; i <- 1 to 4) yield s"t$t-m$i")))
  }

  test("a write through one store is visible to another store's next read") {
    val dir = tmpDir("head-shared")
    val a = new LedgerStore(spark, dir)
    val b = new LedgerStore(spark, dir)
    def ids(s: LedgerStore) = s.read().select("upload_id").as[String].collect().toSet
    a.merge(rows(UploadStatus.Pending, "u1"))
    assert(ids(a) == Set("u1") && ids(b) == Set("u1"))
    // one head per directory: both stores are handed the same resolution
    assert(a.read() eq b.read())
    b.merge(rows(UploadStatus.Pending, "u2"))
    assert(ids(a) == Set("u1", "u2"))
    a.merge(rows(UploadStatus.Done, "u1"))
    assert(b.read().filter($"upload_id" === "u1").select("status")
      .as[String].collect().toSeq == Seq(UploadStatus.Done))
    assert(a.read() eq b.read())
  }

  test("a lookup on a chain read twice is served from the persisted head") {
    val store = new LedgerStore(spark, tmpDir("head-lookup"))
    store.merge(rows(UploadStatus.Pending, "u1", "u2"))
    store.merge(Seq(("u1", UploadStatus.Done)).toDF("upload_id", "status"),
      requireExisting = true)
    val queries = new graft.api.StatusQueries(store)
    def parquetScans(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    def fromCache(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r
    }.nonEmpty
    // the first read of the chain is the plain plan: the key filter goes
    // into the generation scans (LedgerCasSpec asserts the pushdown)
    val first = queries.getUploadStatus("u1")
    assert(parquetScans(first) >= 2 && !fromCache(first))
    // the second read persists the head; the lookup filters it in memory
    val second = queries.getUploadStatus("u1")
    assert(fromCache(second) && parquetScans(second) == 0)
    for (df <- Seq(first, second, queries.getUploadStatus("u1")))
      assert(df.select("status").as[String].collect().toSeq ==
        Seq(UploadStatus.Done))
    // a chain was read twice: the next chain is cached from its first read
    store.merge(rows(UploadStatus.Pending, "u3"))
    val next = queries.getUploadStatus("u3")
    assert(fromCache(next) && parquetScans(next) == 0)
    assert(next.select("status").as[String].collect().toSeq ==
      Seq(UploadStatus.Pending))
  }

  test("a ledger whose chains are each read once is never persisted") {
    graft.queries.Q.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val store = new LedgerStore(spark, tmpDir("head-once"), compactEvery = 3)
    // an ingest pass's pattern: one read of the head, then a publish
    (1 to 5).foreach { i =>
      val head = store.read()
      assert(!servedFromCache(head), s"read $i must stay the plain plan")
      assert(head.count() == i - 1)
      store.merge(rows(UploadStatus.Pending, s"u$i"))
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("a ledger pins at most one persisted head, and release frees it") {
    graft.queries.Q.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val store = new LedgerStore(spark, tmpDir("head-bounded"), compactEvery = 3)
    (1 to 7).foreach { i =>
      store.merge(rows(UploadStatus.Pending, s"u$i"))
      // read twice: the head is persisted and materialized
      assert(store.read().count() == i && store.read().count() == i)
      val held = spark.sparkContext.getPersistentRDDs.size - before
      assert(held == 1, s"$held persisted heads after merge $i")
    }
    graft.queries.Q.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    // released, not poisoned: the next reads resolve again
    assert(store.read().count() == 7 && store.read().count() == 7)
  }

  test("a compaction keeps the head a status reader resolved during it") {
    // Once the ledger is re-read, every chain is persisted on its first
    // read. A reader that resolves the chain being compacted while the
    // compaction writes its snapshot shares the compaction's resolution
    // (Spark caches by plan), so the compaction must not unpersist it.
    graft.CrashFs.install(spark)
    val local = tmpDir("head-compact")
    val store = new LedgerStore(spark, graft.CrashFs.path(local), compactEvery = 3)
    val reader = new LedgerStore(spark, graft.CrashFs.path(local), compactEvery = 3)
    store.merge(rows(UploadStatus.Pending, "u1"))
    reader.read(); reader.read()
    store.merge(rows(UploadStatus.Pending, "u2"))
    var seen: DataFrame = null
    // the compaction's first write into its snapshot dir: a status read
    val w = graft.CrashFs.watch(local) { (_, _, path) =>
      if (seen == null && path.contains("/v-")) seen = reader.read()
    }
    try store.merge(rows(UploadStatus.Pending, "u3")) // third delta: compaction
    finally w.close()
    assert(seen != null, "the merge did not compact")
    assert(seen.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the compaction unpersisted the head a reader holds")
    assert(servedFromCache(seen))
    assert(state(seen.select("upload_id", "status")) ==
      Set("u1", "u2", "u3").map(Row(_, UploadStatus.Pending)))
  }
}

package graft

import graft.ingest.IngestPipeline
import graft.ledger.LedgerStore
import graft.model.UploadStatus
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{desc, max}

/** Crash-point enumeration for the durable writers of an ingest pass: the
  * writer runs once crash-free to count its mutating filesystem calls
  * (through [[CrashFs]]), then, for every N, from the same starting state
  * it dies at call N, a fresh reader looks at what is on disk, and the
  * writer runs again as a restarted process would. After the rerun the
  * ledger must equal the crash-free run's (timestamps aside) and the
  * quarantine must hold the same upload_ids (it is an append-only log;
  * consumers take the latest row per id). Between the crash and the rerun
  * the reader must see a state the crash-free run published.
  */
class CrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  CrashFs.install(spark)

  private val stamps = Seq("queued_at", "processing_started_at",
    "processing_completed_at", "failed_at")

  private def logical(df: DataFrame): Set[Row] = df.drop(stamps: _*).collect().toSet

  /** Every state `store` published from generation `from` on, timestamps
    * aside. */
  private def published(store: LedgerStore, from: Long): Set[Set[Row]] =
    store.history().select("seq").as[Long].collect().filter(_ >= from)
      .map(seq => logical(store.readAt(seq))).toSet

  private def head(store: LedgerStore): Long =
    store.history().agg(max("seq")).as[Long].head()

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** Older than the retention sweep's grace window: its deletes run. */
  private def backdate(dir: String): Unit = {
    val old = System.currentTimeMillis() - 3600L * 1000
    Option(new File(dir).listFiles).toSeq.flatten.foreach(_.setLastModified(old))
  }

  /** Run `writer` against a fresh copy of `seed` crash-free, then once per
    * crash point, a few points at a time (each on its own copy). After a
    * crash, `reader(root)` is what a fresh reader sees and must be one of
    * `readerStates(clean)`; `outcome(root)` after the rerun must equal the
    * crash-free run's. Returns the crash-free run's mutating calls (their
    * operations) and root. */
  private def matrix(seed: String, prepare: String => Unit,
      writer: String => Unit, readerStates: String => Set[Set[Row]],
      reader: String => Set[Row], outcome: String => Any): (Seq[String], String) = {
    def fresh(): String = {
      val root = tmpDir("crash-run")
      copyTree(seed, root); prepare(root); root
    }
    val clean = fresh()
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val w = CrashFs.watch(clean)((_, op, _) => ops.add(op))
    try writer(clean) finally w.close()
    val allowed = readerStates(clean)
    val want = outcome(clean)
    def crashAt(n: Int): Unit = {
      val root = fresh()
      val crash = CrashFs.watch(root)(CrashFs.crashAt(n))
      try quietly(writer(root)) catch { case _: Exception => () }
      finally crash.close()
      assert(crash.crashed, s"crash point $n of ${ops.size} never fired")
      val seen = reader(root)
      assert(allowed.contains(seen),
        s"crash at call $n: a reader saw an unpublished ledger state $seen")
      writer(root) // the restarted process: new store and pipeline objects
      assert(outcome(root) == want, s"crash at call $n: the rerun diverged under $root")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val runs = (1 to ops.size).map(n => pool.submit[Unit](() => crashAt(n)))
      runs.foreach { r =>
        try r.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
    import scala.jdk.CollectionConverters._
    (ops.asScala.toSeq, clean)
  }

  /** Run `body` with logging off while any crash run is live: their task
    * failures and aborted jobs are expected, and the stack traces would
    * bury the test log. */
  private def quietly(body: => Unit): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    Quiet.synchronized {
      if (Quiet.depth == 0) {
        Quiet.level = LogManager.getRootLogger.getLevel
        Configurator.setRootLevel(Level.OFF)
      }
      Quiet.depth += 1
    }
    try body
    finally Quiet.synchronized {
      Quiet.depth -= 1
      if (Quiet.depth == 0) Configurator.setRootLevel(Quiet.level)
    }
  }
  private object Quiet {
    var depth = 0
    var level: org.apache.logging.log4j.Level = _
  }

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.write(Paths.get(dir, name), content.getBytes("UTF-8"))

  test("an ingest pass reaches the crash-free ledger and quarantine from any crash point") {
    // A seeded ledger (one pass: good.csv done, bad.csv failed once), then
    // the pass under test over a new good file and bad.csv's retry, which
    // exhausts its attempts into the quarantine. With compactEvery = 3 each
    // pass's terminal merge compacts (the seeded ledger is one base), so
    // the pass covers every write: pending, processing, DLQ append,
    // terminal publish, compaction.
    val inbox = tmpDir("crash-inbox")
    writeFile(inbox, "good.csv", "id,v\n1,2\n")
    writeFile(inbox, "bad.csv", "id,v")
    val seed = tmpDir("crash-seed")
    def pipe(root: String) = {
      val store = new LedgerStore(spark, CrashFs.path(s"$root/ledger"), compactEvery = 3)
      (store, new IngestPipeline(spark, store, CrashFs.path(s"$root/dlq"), maxAttempts = 2))
    }
    val (_, seeder) = pipe(seed)
    val first = seeder.runOnce(inbox)
    assert(first.done == 1 && first.failed == 1)
    writeFile(inbox, "good2.csv", "id,v\n3,4\n5,6\n")

    def ledger(root: String) = logical(pipe(root)._1.read())
    def dlqIds(root: String): Set[String] =
      if (!new File(s"$root/dlq").exists) Set.empty
      else spark.read.parquet(CrashFs.path(s"$root/dlq"))
        .select("upload_id").as[String].collect().toSet
    val seedHead = head(pipe(seed)._1)
    val (ops, clean) = matrix(seed, _ => (), root => pipe(root)._2.runOnce(inbox),
      root => published(pipe(root)._1, seedHead), ledger,
      root => (ledger(root), dlqIds(root)))
    // the crash-free pass: both good files done, bad.csv quarantined
    val outcome = pipe(clean)._1.read().select("file_name", "status", "attempts")
      .collect().map(r => (r.getString(0), r.getString(1), Option(r.get(2)))).toSet
    assert(outcome == Set(("good.csv", UploadStatus.Done, None),
      ("good2.csv", UploadStatus.Done, None), ("bad.csv", UploadStatus.Failed, Some(2))))
    assert(dlqIds(clean).size == 1)
    assert(ops.count(_ == "rename") >= 6, s"the pass's calls: $ops")
  }

  test("a ledger merge, its sweep and its compaction reach the crash-free state from any crash point") {
    // compactEvery = 2 over seven merges: three compactions, and after the
    // backdate every superseded generation and pointer is past the grace
    // window, so the merge under test publishes, sweeps (deletes), then
    // compacts (snapshot write, publish, sweep again).
    val seed = tmpDir("crash-ledger-seed")
    def store(root: String) = new LedgerStore(spark, CrashFs.path(s"$root/ledger"), compactEvery = 2)
    (1 to 7).foreach { i =>
      store(seed).merge(Seq((s"u$i", UploadStatus.Pending, i.toLong))
        .toDF("upload_id", "status", "lines_processed"))
    }
    assert(store(seed).history().count() == 10)
    val updates = Seq(("u1", UploadStatus.Done, 10L), ("u8", UploadStatus.Pending, 8L))
      .toDF("upload_id", "status", "lines_processed")
    def ledger(root: String) = logical(store(root).read())
    val (ops, clean) = matrix(seed, root => backdate(s"$root/ledger"),
      root => store(root).merge(updates),
      // before the merge, or after it: its publish and its compaction
      // resolve to the same state
      root => Set(ledger(seed), ledger(root)), ledger, ledger)
    // the crash points included the sweeps' deletes and the compaction
    assert(ops.count(_ == "delete") >= 4, s"the merge's calls: $ops")
    assert(store(clean).history().orderBy(desc("seq")).as[(Long, String, String)]
      .head()._2 == "base")
    assert(store(clean).read().select("upload_id", "status").as[(String, String)]
      .collect().toSet == (1 to 8).map(i =>
        (s"u$i", if (i == 1) UploadStatus.Done else UploadStatus.Pending)).toSet)
  }
}

package graft.ledger

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Time travel over the base+delta chain: `readAt(seq)` reproduces the
  * exact state a reader observed when `seq` was the head — across deltas
  * AND across compaction — and throws once retention has discarded the
  * generations a historical read would need, never resolving a truncated
  * state silently.
  */
class LedgerTimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def upsert(ids: Seq[String], status: String) =
    ids.map((_, status)).toDF("upload_id", "status")

  test("readAt(seq) replays every historical state across compactions") {
    // compactEvery=2 so the timeline crosses base snapshots mid-history
    val store = new LedgerStore(spark, tmpDir("tt-ledger"), compactEvery = 2)
    val timeline = Seq(
      upsert(Seq("a", "b"), "pending"),
      upsert(Seq("a"), "processing"),
      upsert(Seq("a", "c"), "done"),
      upsert(Seq("b"), "failed"),
      upsert(Seq("d"), "pending"))
    val states = timeline.map { delta =>
      store.merge(delta)
      val seq = store.currentPointer().get._1
      val state = store.read().select("upload_id", "status")
        .as[(String, String)].collect().toSet
      (seq, state)
    }
    // all heads distinct, all states reproducible after later writes
    assert(states.map(_._1).distinct.size == states.size)
    states.foreach { case (seq, expected) =>
      val got = store.readAt(seq).select("upload_id", "status")
        .as[(String, String)].collect().toSet
      assert(got == expected, s"readAt($seq) diverged")
    }
    // a future sequence reads as the live head
    assert(store.readAt(Long.MaxValue).count() == store.read().count())
    // a sequence before the first commit is the empty ledger
    assert(store.readAt(0L).count() == 0L)

    // the generation log lists every retained commit in order, and every
    // listed sequence resolves through readAt
    val hist = store.history().collect()
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sorted)
    assert(hist.map(_.getString(1)).toSet.subsetOf(
      Set("base", "delta", "delta-must-exist")))
    assert(states.map(_._1).toSet.subsetOf(hist.map(_.getLong(0)).toSet))
    hist.foreach(r => store.readAt(r.getLong(0)).collect())
  }

  test("readAt throws once retention discarded the needed generations") {
    val dir = tmpDir("tt-swept")
    val store = new LedgerStore(spark, dir, compactEvery = 2)
    (1 to 6).foreach(i => store.merge(upsert(Seq(s"u$i"), "pending")))
    val head = store.currentPointer().get._1

    // age every non-live artifact past the retention grace window, then
    // trigger the sweep with one more merge
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = store.liveChain().map(_.dirName).toSet
    fs.listStatus(new Path(dir)).foreach { st =>
      val n = st.getPath.getName
      if (!live.contains(n)) fs.setTimes(st.getPath, 1000L, 1000L)
    }
    (1 to 3).foreach(i => store.merge(upsert(Seq(s"w$i"), "pending")))

    // the live head (and everything the live chain needs) still reads
    assert(store.read().count() >= 6)
    // a generation whose chain was swept must throw, not truncate
    val oldest = fs.listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_ptr-"))
      .flatMap(_.stripPrefix("_ptr-").toLongOption).min
    assert(oldest > 1, s"sweep should have discarded early pointers, oldest=$oldest")
    intercept[IllegalStateException] {
      store.readAt(oldest - 1).collect()
    }
    // historical reads the retained window still supports keep working:
    // every remaining pointer either resolves or refuses loudly — and the
    // live head always resolves
    assert(store.read().select("upload_id").distinct().count() >= 9)
    val _ = head // head itself may or may not be inside the retained window
  }

  test("readAt on a listed generation whose dir was swept throws, not PATH_NOT_FOUND") {
    val dir = tmpDir("tt-swept-dirs")
    val store = new LedgerStore(spark, dir, compactEvery = 2)
    (1 to 8).foreach(i => store.merge(upsert(Seq(s"u$i"), "pending")))

    // age every non-live artifact past the grace window, older seqs
    // older, so the sweep's keep-newest ordering is deterministic
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = store.liveChain().map(_.dirName).toSet
    fs.listStatus(new Path(dir)).zipWithIndex.foreach { case (st, i) =>
      if (!live.contains(st.getPath.getName))
        fs.setTimes(st.getPath, 1000L + i, 1000L + i)
    }
    store.merge(upsert(Seq("w"), "pending"))

    // the sweep keeps 4 pointers below the live base but only 2 old dirs:
    // every listed generation either resolves or refuses with the
    // documented IllegalStateException, and at least one refuses
    val outcomes = store.history().select("seq").as[Long].collect().map { seq =>
      try { store.readAt(seq).collect(); true }
      catch { case _: IllegalStateException => false }
    }
    assert(outcomes.contains(false),
      "no listed generation lost its dir: the case does not exercise the sweep")
    assert(store.read().count() == 9)
  }
}

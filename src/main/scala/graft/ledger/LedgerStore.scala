package graft.ledger

import graft.model.Ledger
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.charset.StandardCharsets
import java.util.UUID

/** Parquet-backed uploads ledger with MERGE (upsert) semantics.
  *
  * The reference's ledger is a Firestore collection written with
  * `set(..., merge=True)` and partial `update()` calls (reference:
  * csv-processor-function/main.py:61-68,110-113,133-137,148-152). No
  * MERGE-capable table format ships in this environment, so the classic
  * pointer-file + base/delta pattern is used instead (SURVEY.md §7.3):
  *
  *   dir/_ptr-<seq>          ← tiny text files; the MAX seq names the live
  *                             head. Content `v-x` = base snapshot,
  *                             `delta:d-x` / `deltar:d-x` = delta (the `r`
  *                             variant has Firestore update() must-exist
  *                             semantics)
  *   dir/v-<uuid>/ (parquet) ← immutable full snapshots
  *   dir/d-<uuid>/ (parquet) ← immutable delta generations (just the
  *                             updates of one merge)
  *
  * A merge writes its aligned updates as a NEW delta dir — O(updates),
  * never O(ledger) — and CAS-publishes it as the next sequence. `read()`
  * merges on read: per key, per column, the latest non-null value in
  * sequence order (exactly Firestore `merge=True` field accretion), with
  * rows from must-exist deltas dropped unless their key was created by an
  * earlier generation (Firestore `update()` on a missing doc throws and
  * leaves no trace — SURVEY.md §2.7.5). Every `compactEvery` deltas the
  * chain is compacted into a fresh base snapshot, so reads stay
  * O(base + bounded deltas). Readers never observe a partial write; a
  * crash before publish leaves the old head live.
  *
  * Maintenance: after its publish, a merge runs the retention sweep and,
  * once the chain holds `compactEvery` deltas, the compaction — both on
  * the merging thread, before `merge` returns. Merges inside a
  * [[deferMaintenance]] scope publish the same way but leave both to the
  * next merge outside it, so an ingest pass publishes its terminal rows
  * before the compaction its earlier merges made due (maintenance stays
  * off the path that acknowledges a status, as in an LSM-tree). Chain
  * bound: a maintaining merge returns with fewer than `compactEvery`
  * deltas live (unless its compaction lost a publish race, see
  * [[maybeCompact]]); an ingest pass peaks at `compactEvery + 2` between
  * its terminal publish and its compaction, and a successful pass returns
  * below `compactEvery` like a direct merge. A pass that fails between
  * its processing and terminal merges leaves its 2 deferred deltas beyond
  * the bound until the next maintaining merge compacts them.
  *
  * Writer safety is COMPARE-AND-SWAP, not convention: a writer that read
  * head seq S may only publish seq S+1 — via rename-WITHOUT-overwrite
  * (atomic-exclusive on HDFS), followed by a post-publish verification
  * that the pointer still carries this writer's content AND is still the
  * maximum sequence. Within one JVM, publishes to the same ledger path are
  * additionally serialized by a process-level lock: the local filesystem
  * implements no-overwrite rename as check-then-rename, so without the
  * lock two same-JVM writers could both "win" the same sequence — the lock
  * gives the test/local filesystem real CAS semantics. ACROSS processes on
  * a non-atomic filesystem a same-seq race remains detectable-only (the
  * post-publish re-read narrows but cannot close it); the exclusive-rename
  * guarantee is HDFS-class filesystems'. A lost race throws
  * [[ConcurrentLedgerWriteException]]; since a delta is self-contained
  * (not computed from any base), `merge` retries it cheaply by
  * re-publishing the same delta dir at the new head — the documented
  * retry contract is implemented here, not delegated to callers.
  *
  * Scale notes (100 TB design): the ledger is bounded by *upload count*,
  * not data volume. Writes are O(updates) per merge (the reference's
  * Firestore writes were per-document too); reads are one bounded
  * merge-on-read aggregation keyed on `upload_id` — and callers broadcast
  * the `done` key set against the (huge) event stream, never the reverse.
  *
  * Head cache: `read()` resolves each live chain through one shared
  * entry per (session, qualified ledger path), so every `LedgerStore` on a
  * directory sees the same head. The entry is keyed on the chain itself
  * (the pointer listing, no Spark job), so an exact match can never be
  * stale — generations are immutable, and any publish (merge, compaction,
  * overwrite, another process) changes the chain. Persisting is chosen by
  * reuse: while no chain of the ledger has been read twice, a chain read
  * once is served as its plain plan, so one-off readers (a point lookup,
  * an ingest pass that publishes right after its read) keep the key
  * filter pushed into every generation scan and pin no storage, and the
  * second read of a chain persists it. Once a chain has been read twice
  * the ledger has readers that come back (a status poller beside ingest
  * passes), and every later chain is persisted on its first read; lookups
  * then filter the cached head. A new chain unpersists the head it
  * supersedes, and `Q.release` (via [[LedgerStore.release]]) frees them
  * all. Compaction in that persisting mode resolves its chain through the
  * same cache and never unpersists it. A query still in flight on a head
  * that was unpersisted under it recomputes that head from its generation
  * dirs, which the sweep's grace window keeps on disk. [[readAt]] is
  * never cached.
  */
class LedgerStore(spark: SparkSession, dir: String,
    compactEvery: Int = 8) {
  import Ledger.{key, schema, valueColumns}
  import LedgerStore.ChainLink

  private val rootPath = new Path(dir)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ptrPath(seq: Long) = new Path(rootPath, f"_ptr-$seq%012d")

  private def readPtrFile(p: Path): Option[String] = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](256)
      val n = in.read(bytes)
      Some(new String(bytes, 0, math.max(n, 0), StandardCharsets.UTF_8).trim)
        .filter(_.nonEmpty)
    } finally in.close()
  }

  private lazy val qualifiedRoot = fs.makeQualified(rootPath).toString

  private def parsePtr(seq: Long, content: String): ChainLink =
    if (content.startsWith("deltar:"))
      ChainLink(seq, content.stripPrefix("deltar:"), isDelta = true,
        requireExisting = true)
    else if (content.startsWith("delta:"))
      ChainLink(seq, content.stripPrefix("delta:"), isDelta = true,
        requireExisting = false)
    else ChainLink(seq, content, isDelta = false, requireExisting = false)

  /** The live chain, ascending: the newest base snapshot at or below the
    * head, then every delta above it. Walks pointer files downward from
    * the max sequence until a base is found. Pointer reads race the
    * retention sweep (which only ever deletes BELOW the live base), so a
    * vanished file retries the listing.
    */
  private[ledger] def liveChain(): Seq[ChainLink] = chainAt(Long.MaxValue)

  /** The chain as of sequence `asOf` (inclusive): the newest base at or
    * below `asOf`, then every delta between it and `asOf`. `Long.MaxValue`
    * gives the live chain. An all-delta chain is accepted only when it
    * provably starts at the beginning of history (first publish = seq 1,
    * or a legacy seq-0 base below it); otherwise the generations needed
    * were compacted away and the read throws instead of silently
    * resolving a truncated state.
    */
  private[ledger] def chainAt(asOf: Long): Seq[ChainLink] = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      if (!fs.exists(rootPath)) return Seq.empty
      val ptrs = fs.listStatus(rootPath).toSeq
        .map(_.getPath)
        .filter(_.getName.startsWith("_ptr-"))
        .flatMap(p => p.getName.stripPrefix("_ptr-").toLongOption.map(_ -> p))
        .filter(_._1 <= asOf)
        .sortBy(-_._1)
      if (ptrs.isEmpty) {
        // every pointer at or below asOf is gone. If pointers exist ABOVE
        // asOf the history existed and was retained away (first publish is
        // always seq 1) — refuse rather than resolve to a false "empty".
        if (asOf >= 1L && fs.listStatus(rootPath)
            .exists(_.getPath.getName.startsWith("_ptr-")))
          throw new IllegalStateException(
            s"ledger generations at or below $asOf were compacted/" +
              s"retained away under $rootPath")
        // migration: a pre-CAS ledger has a single `_current` pointer —
        // read it as sequence 0 rather than silently starting empty
        return legacyLink(0L).toSeq
      }
      try {
        val links = scala.collection.mutable.ArrayBuffer.empty[ChainLink]
        var foundBase = false
        val it = ptrs.iterator
        while (!foundBase && it.hasNext) {
          val (seq, p) = it.next()
          readPtrFile(p) match {
            case Some(content) =>
              val link = parsePtr(seq, content)
              links += link
              foundBase = !link.isDelta
            case None => // truncated/in-flight pointer: retry the listing
              throw new java.io.FileNotFoundException(p.toString)
          }
        }
        // all-delta chain (first merges on an empty ledger) — unless a
        // legacy `_current` base from the pre-delta layout sits below it
        if (!foundBase) {
          legacyLink(links.last.seq - 1) match {
            case Some(l) => links += l
            case None if links.last.seq > 1 =>
              throw new IllegalStateException(
                s"ledger generations below ${links.last.seq} were " +
                  s"compacted/retained away; oldest readable generation " +
                  s"under $rootPath is ${links.last.seq}")
            case None => ()
          }
        }
        return links.reverse.toSeq
      } catch { case _: java.io.FileNotFoundException => () /* retry */ }
    }
    throw new java.io.IOException(
      s"ledger pointer listing unstable after 5 attempts under $rootPath")
  }

  private def legacyLink(seq: Long): Option[ChainLink] = {
    val legacy = new Path(rootPath, "_current")
    try {
      if (fs.exists(legacy)) readPtrFile(legacy).map(parsePtr(seq, _))
      else None
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Highest committed (seq, dir name), if any — the CAS pin. */
  private[ledger] def currentPointer(): Option[(Long, String)] =
    liveChain().lastOption.map(l => (l.seq, l.dirName))

  private def emptyLedger: DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def snapshotDf(v: String): DataFrame =
    spark.read.schema(schema).parquet(new Path(rootPath, v).toString)

  /** Live ledger state; empty (schema'd) DataFrame if none exists yet.
    *
    * A single-base chain is a plain scan; a chain with deltas resolves
    * merge-on-read: per key, per column, the latest non-null value in
    * generation order, with must-exist delta rows dropped unless the key
    * was created (by a base or a plain-merge delta) at or before that
    * generation. One bounded aggregation keyed on `upload_id`, resolved
    * once per chain when the ledger's chains are read again (see the
    * class doc).
    */
  def read(): DataFrame = {
    val ch = liveChain()
    if (ch.isEmpty) emptyLedger
    else LedgerStore.head(spark, qualifiedRoot, ch)(readChain(ch))
  }

  /** Time travel: the ledger state a reader observed when generation
    * `asOf` was the head — the same merge-on-read resolution, just pinned
    * to the chain as of that sequence. Readable as far back as retention
    * keeps the chain (the sweep preserves a bounded window of pointers
    * and generation dirs below the live base); beyond that the read
    * throws rather than resolving a truncated state. Generation numbers
    * come from [[currentPointer]] after a merge.
    *
    * The sweep keeps more pointers than generation dirs below the live
    * base, so a listed pointer can name a dir that is gone: checked here
    * (one `exists` per link) rather than in [[chainAt]], which `read()`
    * and `merge` walk on every call.
    */
  def readAt(asOf: Long): DataFrame = {
    val ch = chainAt(asOf)
    ch.find(l => !fs.exists(new Path(rootPath, l.dirName))).foreach { l =>
      throw new IllegalStateException(
        s"ledger generation ${l.seq} (${l.dirName}), needed to read as of " +
          s"$asOf, was compacted/retained away under $rootPath")
    }
    readChain(ch)
  }

  /** The retained generation log, ascending: (seq, kind, dir_name) — kind
    * is `base`, `delta` or `delta-must-exist`. The [[readAt]] argument
    * space: any listed seq with an unbroken chain below it resolves.
    * Driver-side listing of pointer files — O(retained generations).
    */
  def history(): DataFrame = {
    import spark.implicits._
    if (!fs.exists(rootPath)) return Seq.empty[(Long, String, String)]
      .toDF("seq", "kind", "dir_name")
    fs.listStatus(rootPath).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("_ptr-"))
      .flatMap(p => p.getName.stripPrefix("_ptr-").toLongOption.map(_ -> p))
      .sortBy(_._1)
      .flatMap { case (seq, p) =>
        readPtrFile(p).map(parsePtr(seq, _)).map { l =>
          val kind =
            if (!l.isDelta) "base"
            else if (l.requireExisting) "delta-must-exist"
            else "delta"
          (l.seq, kind, l.dirName)
        }
      }
      .toDF("seq", "kind", "dir_name")
  }

  private def readChain(ch: Seq[ChainLink]): DataFrame = {
    if (ch.isEmpty) emptyLedger
    else if (ch.size == 1 && !ch.head.isDelta) snapshotDf(ch.head.dirName)
    else {
      val parts = ch.map { l =>
        spark.read.schema(schema)
          .parquet(new Path(rootPath, l.dirName).toString)
          .withColumn("_gen", lit(l.seq))
          .withColumn("_req", lit(l.requireExisting))
      }
      val all = parts.reduce(_.unionByName(_))
      // a key EXISTS from the first generation that created it (base or
      // merge=True delta); rows of must-exist deltas for keys not yet
      // created at their generation vanish (Firestore update() semantics)
      val created = all.filter(!col("_req"))
        .groupBy(col(key)).agg(min(col("_gen")).as("_cgen"))
      val valid = all.join(created, Seq(key))
        .filter(!col("_req") || col("_gen") >= col("_cgen"))
      // per column: value of the latest generation that set it non-null
      // (struct max: null generations sort below any real one)
      val latest = valueColumns.map(c =>
        max(struct(when(col(c).isNotNull, col("_gen")).as("g"),
          col(c).as("v"))).getField("v").as(c))
      valid.groupBy(col(key)).agg(latest.head, latest.tail: _*)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** Typed view of the ledger (compile-time field safety for callers). */
  def readTyped(): org.apache.spark.sql.Dataset[graft.model.UploadRecord] = {
    import spark.implicits._
    read().as[graft.model.UploadRecord]
  }

  private val UploadStatusValues = graft.model.UploadStatus.All.toSeq

  /** Open [[deferMaintenance]] scopes on each thread, for this store. */
  private val deferDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Run `body` with this store's maintenance held back on the calling
    * thread: merges made inside publish their delta exactly as outside
    * (same write, status check and CAS) but skip the retention sweep and
    * the compaction; the next merge outside the scope runs both. Merges
    * on other threads are unaffected. A scope that throws still closes,
    * so the thread's next merge maintains again.
    */
  private[graft] def deferMaintenance[T](body: => T): T = {
    val depth = deferDepth.get()
    deferDepth.set(depth + 1)
    try body finally deferDepth.set(depth)
  }

  /** How many times a lost CAS race is retried before giving up. A delta
    * is self-contained, so a retry is just a re-publish at the new head —
    * no recomputation.
    */
  private val maxPublishRetries = 5

  /** MERGE: upsert `updates` into the ledger keyed on `upload_id`.
    *
    * Field semantics = Firestore `set(merge=True)`: a non-null update field
    * overwrites, a null/absent update field preserves the existing value
    * (main.py:68). Missing columns in `updates` are treated as all-null.
    * Updates must be unique per `upload_id` (callers reduce per-batch first;
    * the reference serializes per-document through Firestore the same way).
    *
    * `requireExisting=true` gives Firestore `update()` semantics (A2–A4):
    * rows whose key is absent from the ledger are dropped — the reference
    * throws for them and leaves no trace (SURVEY.md §2.7.5).
    *
    * Cost: O(updates) — one delta dir write plus a pointer publish; the
    * existing ledger is neither read nor rewritten. Lost CAS races are
    * retried here (bounded), honoring the documented retry contract.
    *
    * After the publish, the merge sweeps retention and compacts a chain
    * that has reached `compactEvery` deltas, so it returns with fewer
    * than `compactEvery` deltas live — unless it runs inside
    * [[deferMaintenance]] on this thread, which publishes only and leaves
    * the sweep and compaction to the next merge outside the scope.
    */
  def merge(updates: DataFrame, requireExisting: Boolean = false): Unit = {
    val aligned = {
      val cols = schema.fields.map { f =>
        if (updates.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType).as(f.name)
      }
      updates.select(cols.toIndexedSeq: _*)
    }
    {
      // ONE job for the delta write, the row count AND the status-domain
      // check (Observation metrics ride the write job — previously a
      // separate validation job + a persist held across both). An invalid
      // status still rejects loudly and can never remove or corrupt a
      // ledger row: the delta dir is unreachable until the pointer CAS
      // below publishes it, so on rejection it is simply deleted (a crash
      // between write and delete leaves an unpublished orphan dir, which
      // the retention sweep reclaims like any other superseded dir).
      val obs = org.apache.spark.sql.Observation()
      val deltaName = s"d-${UUID.randomUUID().toString.take(12)}"
      val target = new Path(rootPath, deltaName)
      // updates are bounded per merge (callers reduce per-batch first), so
      // one file is the right shape for the common case; the rare
      // over-threshold merge is re-sharded from the written file below.
      aligned.observe(obs,
          count(lit(1)).as("n"),
          max(when(col("status").isNotNull &&
            !col("status").isin(UploadStatusValues: _*), col("status")))
            .as("bad"))
        .coalesce(1).write.mode("overwrite").parquet(target.toString)
      val stats = obs.get
      stats.get("bad").filter(_ != null).foreach { bad =>
        fs.delete(target, true)
        throw new IllegalArgumentException(
          s"ledger merge rejected: invalid status '$bad' " +
            s"(domain: ${UploadStatusValues.mkString("|")})")
      }
      val rows = stats("n").asInstanceOf[Long]
      if (rows > rowsPerSnapshotFile) {
        // rare: a merge bigger than one snapshot file — re-shard the
        // already-written delta so no single file owns a multi-GB merge
        val parts = math.max(1L,
          (rows + rowsPerSnapshotFile - 1) / rowsPerSnapshotFile).toInt
        val tmp = new Path(rootPath, s"$deltaName-shard")
        spark.read.schema(schema).parquet(target.toString)
          .repartition(parts).write.mode("overwrite").parquet(tmp.toString)
        fs.delete(target, true)
        if (!fs.rename(tmp, target))
          throw new java.io.IOException(s"reshard rename failed: $tmp")
      }
      val content = (if (requireExisting) "deltar:" else "delta:") + deltaName
      // A delta does not depend on the state it was pinned against, so the
      // head is read INSIDE the publish lock: same-JVM writers serialize
      // loss-free (no bounded-retry starvation under contention). The
      // bounded retry below only absorbs CROSS-process races, where each
      // loss means another process made progress.
      var attempt = 0
      var published = false
      var lastLoss: ConcurrentLedgerWriteException = null
      while (!published && attempt < maxPublishRetries) {
        attempt += 1
        try {
          LedgerStore.publishLock(qualifiedRoot)
            .synchronized { publishPointer(content, currentPointer()) }
          published = true
        } catch {
          case e: ConcurrentLedgerWriteException =>
            lastLoss = e // self-contained delta: re-publish at the new head
          case e: java.io.IOException =>
            fs.delete(target, true); throw e // genuine IO failure: no orphan
        }
      }
      if (!published) { fs.delete(target, true); throw lastLoss }
      if (deferDepth.get() == 0) { sweep(); maybeCompact() }
    }
  }

  /** Overwrite the ledger wholesale (tests / bootstrap). Subject to the
    * same CAS publish as merge: a concurrent writer makes this fail loudly.
    */
  def overwrite(rows: DataFrame): Unit = {
    val aligned = rows.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    commitSnapshot(aligned, aligned.count(), currentPointer())
  }

  /** Compact the chain into a fresh base snapshot once it has accumulated
    * `compactEvery` deltas: read the merged state (O(base + deltas), all
    * bounded by upload count) and CAS-publish it as the next generation.
    * Compaction is an optimization — losing the publish race to a
    * concurrent merge just means the (longer) chain stands until the next
    * attempt.
    */
  private def maybeCompact(): Unit = {
    val ch = liveChain()
    if (ch.count(_.isDelta) >= compactEvery) {
      // The CAS pin MUST be the head of the SAME chain the merged state is
      // computed from: pinning a fresh head at publish time would let a
      // delta published in between be silently buried under a base that
      // does not contain it (a lost update, found by LedgerCasSpec's
      // merge-storm test).
      //
      // Once the ledger's chains are read again (see the class doc), the
      // head cache resolves the chain and owns that resolution: a status
      // reader asking for the same chain meanwhile is handed the same
      // cached plan (Spark caches by plan), so unpersisting it here would
      // drop the reader's head. Otherwise no reader comes back, and the
      // compaction holds its own resolution only while it writes.
      val shared = LedgerStore.rereads(spark, qualifiedRoot)
      val merged =
        if (shared) LedgerStore.head(spark, qualifiedRoot, ch)(readChain(ch))
        else readChain(ch).persist()
      try {
        val rows = merged.count() // materialize BEFORE touching pointers
        try commitSnapshot(merged, rows,
          ch.lastOption.map(l => (l.seq, l.dirName)))
        catch { case _: ConcurrentLedgerWriteException => () }
      } finally if (!shared) merged.unpersist()
    }
  }

  /** Rows per snapshot file: below this, one file keeps point lookups a
    * single-footer read; above it, shard so no single writer task owns the
    * whole (multi-GB) ledger — a million ~200-byte rows per file keeps
    * files in the low hundreds of MB.
    */
  private val rowsPerSnapshotFile = 1000000L

  /** Write `df` as a new BASE snapshot dir, then CAS-publish it. On a lost
    * race the orphan snapshot is deleted and
    * [[ConcurrentLedgerWriteException]] thrown; on a genuine IO failure the
    * orphan is likewise deleted before the error propagates (an unmerged
    * ledger must not leak v-* dirs that only a later writer's sweep would
    * reclaim).
    */
  private[ledger] def commitSnapshot(df: DataFrame, rows: Long,
      expected: Option[(Long, String)]): Unit = {
    val version = s"v-${UUID.randomUUID().toString.take(12)}"
    val target = new Path(rootPath, version)
    val parts = math.max(1L, (rows + rowsPerSnapshotFile - 1) / rowsPerSnapshotFile).toInt
    df.coalesce(parts).write.mode("overwrite").parquet(target.toString)
    try publishPointer(version, expected)
    catch {
      case e: Throwable => fs.delete(target, true); throw e
    }
    sweep()
  }

  /** CAS-publish `content` as the pointer for `expected.seq + 1` via
    * rename-WITHOUT-overwrite, then verify the publish survived (see class
    * doc). Throws [[ConcurrentLedgerWriteException]] on a lost race —
    * callers own any dir cleanup/retry. Publishes to the same ledger path
    * are serialized within this JVM (the local FS's rename is
    * check-then-rename, not atomic-exclusive).
    */
  private def publishPointer(content: String,
      expected: Option[(Long, String)]): Unit =
    LedgerStore.publishLock(qualifiedRoot).synchronized {
      val nextSeq = expected.map(_._1 + 1).getOrElse(1L)
      val tmp = new Path(rootPath, s"_tmp-${UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // Readers only ever see a COMPLETE pointer file (content is renamed
      // into place, never written in place); rename without OVERWRITE is
      // the compare-and-swap — it fails iff another writer already
      // published this sequence number.
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      try {
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(ptrPath(nextSeq)))
      } catch {
        case e: java.io.IOException =>
          // The local ChecksumFileSystem renames the data file BEFORE its
          // .crc sidecar — a stale sidecar (crash debris) can make the crc
          // rename throw after the pointer itself already landed. If the
          // pointer now exists WITH OUR content, the publish succeeded;
          // otherwise distinguish a lost CAS (someone else's content /
          // this seq taken) from a genuine IO failure.
          val ourPublishLanded =
            try readPtrFile(ptrPath(nextSeq)).contains(content)
            catch { case _: Throwable => false }
          if (!ourPublishLanded) {
            val lostRace = try fs.exists(ptrPath(nextSeq)) catch { case _: Throwable => false }
            fs.delete(tmp, false)
            if (!lostRace) throw e
            throw new ConcurrentLedgerWriteException(
              s"ledger CAS failed: another writer published seq $nextSeq under " +
                s"$rootPath while this merge was computing against seq " +
                s"${expected.map(_._1).getOrElse(0L)}; retry against the new state", e)
          }
          fs.delete(tmp, false) // leftover data/crc of the tmp name
      }
      // Post-publish verification, closing two non-HDFS holes: (a) a
      // cross-process same-seq racer on a check-then-rename filesystem can
      // silently replace this pointer — detected here by re-reading it
      // (same-JVM racers are excluded by the publish lock); (b) the
      // retention sweep may have REOPENED this sequence slot (deleted its
      // old pointer) while this merge was stalled for longer than the
      // grace window, in which case a HIGHER seq is already live and this
      // publish, though it "succeeded", is stale — detected by checking
      // nothing newer exists. Either way: loud retry, never a silent
      // clobber. (This narrows but cannot fully close the cross-process
      // local-FS window — see the class doc; exclusive rename is
      // HDFS-class filesystems' guarantee.)
      val (ownIsOurs, isMax) =
        try {
          val own = try readPtrFile(ptrPath(nextSeq)) catch {
            case _: java.io.FileNotFoundException => None
          }
          (own.contains(content), currentPointer().exists(_._1 == nextSeq))
        } catch { case _: java.io.IOException => (true, true) /* can't tell; keep */ }
      if (!ownIsOurs)
        // a same-seq racer replaced our pointer: their state is live
        throw new ConcurrentLedgerWriteException(
          s"ledger CAS failed post-publish: seq $nextSeq under $rootPath was " +
            s"replaced by a concurrent writer; retry against the new state", null)
      if (!isMax) {
        // our publish landed in a REOPENED slot (we stalled past the
        // sweep's grace window and newer seqs exist): ours, but stale —
        // withdraw it
        fs.delete(ptrPath(nextSeq), false)
        throw new ConcurrentLedgerWriteException(
          s"ledger CAS failed post-publish: seq $nextSeq under $rootPath is " +
            s"older than the live sequence; this merge was computed against a " +
            s"superseded base — retry against the new state", null)
      }
    }

  /** Reclaim superseded generations. The live chain (base + its deltas) is
    * protected unconditionally; among the rest, anything younger than the
    * grace window stays (it may belong to a writer still publishing or a
    * reader that just resolved it), and the two newest older-than-grace
    * dirs stay for lazy DataFrames from earlier `read()`s. Pointer files
    * BELOW the live base follow the same policy (pointers within the chain
    * are load-bearing — `read()` walks them).
    */
  private def sweep(): Unit = {
    val ch = liveChain()
    val protect = ch.map(_.dirName).toSet
    val baseSeq = ch.headOption.map(_.seq).getOrElse(0L)
    val cutoff = System.currentTimeMillis() - retentionGraceMs
    fs.listStatus(rootPath)
      .filter { st =>
        val n = st.getPath.getName
        (n.startsWith("v-") || n.startsWith("d-")) &&
          !protect.contains(n) && st.getModificationTime < cutoff
      }
      .sortBy(-_.getModificationTime)
      .drop(2)
      .foreach(st => fs.delete(st.getPath, true))
    fs.listStatus(rootPath)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("_ptr-") &&
          n.stripPrefix("_ptr-").toLongOption.exists(_ < baseSeq) &&
          st.getModificationTime < cutoff
      }
      .sortBy(_.getPath.getName)
      .dropRight(4)
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Unprotected generations younger than this are never swept: they may
    * belong to a writer that is still publishing (or to a reader that just
    * resolved them). Bounds stale-snapshot accumulation to the merge rate
    * over this window — single-digit dirs for any sane cadence.
    */
  private val retentionGraceMs = 10L * 60 * 1000
}

object LedgerStore {
  /** Per-ledger-path publish monitors: same-JVM writers to one ledger
    * serialize their CAS publishes (the local FS's no-overwrite rename is
    * check-then-rename, so without this two threads could both "win" a
    * sequence). Keyed by qualified root path; bounded by live ledger count.
    */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def publishLock(path: String): Object =
    publishLocks.computeIfAbsent(path, _ => new Object)

  /** One link of the live chain: a base snapshot or a delta generation. */
  private[ledger] final case class ChainLink(seq: Long, dirName: String,
      isDelta: Boolean, requireExisting: Boolean)

  /** The held head of one (session, ledger): the chain last resolved, its
    * resolution, and whether any chain of the ledger has been read twice.
    * Guarded by its own monitor, which covers only these fields: no Spark
    * work runs under it. */
  private final class Head {
    var chain: Seq[ChainLink] = Nil
    var df: DataFrame = _
    var reread = false
  }

  /** The head cache (see the class doc), keyed like [[publishLocks]] plus
    * the session. */
  private val heads =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Head]()

  /** The resolution of `chain` on the ledger at `path`, held as its new
    * head (the superseded one is unpersisted). Until some chain of the
    * ledger is read twice, a chain's first read gets its plain plan and
    * its second read persists a fresh resolution: a fresh DataFrame's plan
    * is optimized only after the persist, so it is served from the cache.
    * From then on the ledger has readers that come back, and each new
    * chain is persisted on its first read, so a reader that follows a
    * publish (an ingest pass after a status poll) finds it resolved. A
    * reader that listed just before a publish, while a newer chain is
    * held, gets its plain plan and evicts nothing. Spark caches by plan,
    * so "persisted" is a property of the chain, whichever DataFrame of it
    * asks. */
  private[ledger] def head(spark: SparkSession, path: String,
      chain: Seq[ChainLink])(resolve: => DataFrame): DataFrame = {
    val h = heads.computeIfAbsent((spark, path), _ => new Head)
    val (held, reread) =
      h.synchronized((if (h.chain == chain) h.df else null, h.reread))
    if (held != null && held.storageLevel != StorageLevel.NONE) return held
    val fresh = if (held == null && !reread) resolve else resolve.persist()
    var drop: DataFrame = null
    h.synchronized {
      if (held != null) h.reread = true
      if (h.chain.nonEmpty && h.chain.last.seq > chain.last.seq) drop = fresh
      else { if (h.chain != chain) drop = h.df; h.chain = chain; h.df = fresh }
    }
    // outside the monitor; a stale chain persisted above is dropped here
    if (drop != null) drop.unpersist(blocking = false)
    fresh
  }

  /** Whether some chain of the ledger at `path` has been read twice, so
    * [[head]] persists each chain and owns its resolution. */
  private def rereads(spark: SparkSession, path: String): Boolean =
    Option(heads.get((spark, path))).exists(h => h.synchronized(h.reread))

  /** Unpersist and forget every ledger head cached for `spark` (the
    * session's release path, `Q.release`, calls this between query sets
    * and at teardown, not beside live readers). */
  def release(spark: SparkSession): Unit =
    heads.keySet.forEach { k =>
      if (k._1 eq spark) Option(heads.remove(k)).foreach { h =>
        val df = h.synchronized(h.df)
        if (df != null) df.unpersist(blocking = false)
      }
    }
}

/** A ledger publish lost the compare-and-swap race: another writer
  * committed the same sequence first. The ledger state is the WINNER's.
  * `merge` retries its (self-contained) delta automatically; other
  * publishers (overwrite, compaction) surface or swallow the loss.
  */
class ConcurrentLedgerWriteException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

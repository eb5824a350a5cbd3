package graft.ingest

import graft.functions.IngestFunctions._
import graft.ledger.LedgerStore
import graft.model.UploadStatus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Outcome counts of one ingest pass (observability only). */
case class IngestResult(discovered: Long, skipped: Long, done: Long,
    failed: Long, quarantined: Long)

/** The reference pipeline, re-expressed as one declarative dataflow.
  *
  * Reference shape (SURVEY.md §3): GCS `object.finalized` event → extension
  * filter → metadata hash → Firestore idempotency probe → mark pending →
  * Pub/Sub → download → split('\n') count → validate → mark done|failed →
  * retry ≤5 → DLQ.
  *
  * Spark shape: METADATA-ONLY file listing → `filter` → `withColumn
  * (upload_id)` → broadcast LEFT ANTI join vs the ledger's done/quarantined
  * keys → `pending` MERGE → `processing` MERGE (must-exist) → content read
  * FOR THE TODO FILES ONLY → per-file line count + validation → failures
  * carry an `attempts` counter, and `attempts >= maxAttempts` rows go to a
  * quarantine parquet table (the DLQ) and stop being retried → terminal
  * MERGE (must-exist, Firestore `update()` semantics) → sweep/compaction.
  * The pending and processing merges defer ledger maintenance
  * ([[graft.ledger.LedgerStore.deferMaintenance]]), so a compaction they
  * make due runs after the terminal MERGE has published each file's
  * done|failed row, not before it. Write order: pending publish →
  * processing publish → DLQ append (only when something exhausted its
  * attempts) → terminal publish → deferred sweep/compaction.
  *
  * Driver trips: the anti-join's survivors (the todo set) are collected
  * ONCE per pass — metadata, plus line counts when content is present.
  * Dedup, the zero-new fast path, fetch paths and the outcome counters
  * are computed on the driver from that result, and each merge writes a
  * driver-local frame (a LocalRelation), so a pass persists nothing and
  * its Spark jobs are the head broadcast, that collect, the content fetch
  * (batch only) and the ledger/DLQ writes.
  *
  * Scale design (the 100 TB lens):
  *  - Discovery reads the file *listing*, not file bytes: binaryFile with
  *    only path/length/modificationTime projected never materializes
  *    content. An inbox of N files where M are new costs O(N) listing +
  *    O(M) content I/O — the reference has the same property (it HEADs
  *    metadata first and downloads only after the idempotency check,
  *    main.py:39-58 vs :116-120).
  *  - The ledger side of the anti-join is small and broadcast; the event
  *    side never shuffles.
  *  - Content is fetched per todo file; per-file work is embarrassingly
  *    parallel. The todo list (metadata and line counts, never content)
  *    transits the driver once per pass — bounded by new-file arrival rate
  *    (cap it with maxFilesPerTrigger in streaming), the same magnitude as
  *    the file listing Spark's own file source keeps on the driver.
  *
  * Semantics preserved from the reference (SURVEY.md §2.6-2.7):
  *  - idempotency is keyed on metadata identity, not content (main.py:15-18);
  *  - only `done` blocks reprocessing — pending/processing/failed retry
  *    (main.py:56);
  *  - non-CSV files leave no ledger trace (main.py:34-36);
  *  - `"\n"` alone passes validation, `lines_processed` counts the
  *    split-fencepost extra element (main.py:121-127);
  *  - `pending` is written (observably) BEFORE processing (main.py:61-68),
  *    and the terminal write is must-exist like Firestore `update()`
  *    (SURVEY.md §2.7.5) — a terminal row for an unknown upload_id leaves
  *    no ledger trace;
  *  - at-least-once × idempotent merge ⇒ exactly-once effect (ST4).
  */
class IngestPipeline(
    spark: SparkSession,
    store: LedgerStore,
    quarantineDir: String,
    maxAttempts: Int = 5,
    now: () => Column = () => current_timestamp(),
    wholeFileMaxBytes: Long = 64L << 20,
    contentIdentity: Boolean = false) {

  /** Discover files in `inbox` as a METADATA-ONLY events DataFrame:
    * path, bucket_name, file_name, file_size, created_iso. The binaryFile
    * source only reads content when the content column is projected — it
    * isn't, so this is a listing-priced scan. Zero-byte files do NOT list:
    * Spark's file sources skip them (batch and streaming), so they leave no
    * ledger trace, where the reference fails a zero-byte upload.
    */
  def discover(inbox: String): DataFrame =
    spark.read.format("binaryFile").load(inbox)
      .select(
        col("path"),
        regexp_extract(col("path"), "^(.*)/([^/]+)$", 1).as("bucket_name"),
        regexp_extract(col("path"), "^(.*)/([^/]+)$", 2).as("file_name"),
        col("length").as("file_size"),
        pyIsoformatUtc(col("modificationTime")).as("created_iso"))

  /** One batch pass: the whole reference pipeline over whatever is in
    * `inbox`. Returns outcome counts.
    */
  def runOnce(inbox: String): IngestResult =
    processEvents(discover(inbox))

  /** Core stage shared by batch and streaming (`foreachBatch`) drivers.
    *
    * `events` must carry path/bucket_name/file_name/file_size/created_iso;
    * a `content` column is optional — when present (the streaming wholetext
    * path, which already paid the read) its line counts are taken on the
    * executors, otherwise content is fetched only for the files that
    * survive the idempotency anti-join.
    *
    * The todo set crosses to the driver once: one collect of its metadata
    * (and line counts, when content is present). Everything after it —
    * within-batch dedup, the zero-new fast path, fetch paths, outcome
    * counters — is driver code, and each merge writes a driver-local
    * frame, so a pass persists nothing and runs no count of its own.
    */
  def processEvents(events0: DataFrame): IngestResult = {
    val ts = now()
    // the discovered count rides the todo collect as an Observation metric
    // (CollectMetrics sees every event row before the extension filter)
    // instead of a separate count() job per pass
    val eventsObs = org.apache.spark.sql.Observation()
    val events = events0.observe(eventsObs, count(lit(1)).as("n"))
    val streamedContent = events.columns.contains("content")
    // Content-identity mode must hash the bytes before dedup can happen,
    // so it forfeits the metadata-only fast path by construction.
    val hasContent = streamedContent || contentIdentity

    // F1 — extension filter, pre-ledger (non-CSV leaves no trace).
    val csvFiles = events.filter(isCsvPath(col("file_name")))

    // F2 — upload identity. Default: metadata hash, faithful to the
    // reference's code (main.py:15-18) — same-name re-uploads with new
    // mtime get a NEW id and reprocess. Opt-in `contentIdentity`: hash the
    // bytes instead, honoring the reference README's (inaccurate) claim of
    // content-keyed idempotency (SURVEY.md §2.7.3) — re-uploading
    // identical bytes is then a no-op regardless of object generation.
    val csvEvents =
      if (!contentIdentity)
        csvFiles.withColumn("upload_id",
          uploadId(col("bucket_name"), col("file_name"), col("file_size"),
            col("created_iso")))
      else {
        import spark.implicits._
        // No bytes ⇒ no content identity: a file deleted between listing
        // and fetch yields content=null, which must be DROPPED — hashing
        // it as "" would collapse every transiently-deleted file into one
        // upload_id that also collides with a genuinely empty file's
        // identity (and could permanently block a later empty upload).
        val withContent =
          if (streamedContent) csvFiles
          else {
            val paths = csvFiles.select("path").as[String].collect()
              .filter(fileExists)
            if (paths.isEmpty) csvFiles.limit(0)
              .withColumn("content", lit(null).cast("string"))
            else {
              val contents = spark.read.format("binaryFile")
                .option("ignoreMissingFiles", "true")
                .load(paths: _*)
                .select(col("path").as("cpath"),
                  decode(col("content"), "UTF-8").as("content"))
              // inner: a listed file whose content could not be fetched
              // (deleted in the window ignoreMissingFiles covers) simply
              // drops out — same effect as a left join + not-null filter
              csvFiles.join(contents, col("path") === col("cpath"), "inner")
                .drop("cpath")
            }
          }
        withContent.withColumn("upload_id",
          substring(sha2(coalesce(col("content"), lit("")), 256), 1, 16))
      }

    // D1 — idempotency: skip `done`; additionally skip quarantined rows
    // (attempts exhausted — the reference's DLQ'd messages also never
    // re-enter processing, ARCHITECTURE.md:69-79). One broadcast carries
    // the block flag and the retry count (the head has one row per key).
    val ledger = store.read().select(col("upload_id"),
      (col("status") === UploadStatus.Done || (col("status") ===
        UploadStatus.Failed && col("attempts") >= maxAttempts)).as("blocked"),
      coalesce(col("attempts"), lit(0)).as("prior_attempts"))

    // The pass's one driver trip: each todo row's metadata and, where
    // content is present, its line count (counted on the executors; the
    // bytes never cross). The same job fires the events Observation above,
    // which yields `discovered`.
    val lineCount =
      if (hasContent)
        Seq(pySplitLineCount(coalesce(col("content"), lit(""))).cast("long"))
      else Nil
    val todo = csvEvents
      .join(broadcast(ledger), Seq("upload_id"), "left")
      .filter(!coalesce(col("blocked"), lit(false)))
      .select(Seq(col("upload_id"), col("path"), col("bucket_name"),
        col("file_name"), col("file_size").cast("long"),
        coalesce(col("prior_attempts"), lit(0))) ++ lineCount: _*)
      .collect()
      .map(r => Todo(r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getInt(5),
        if (hasContent) Some(r.getLong(6)) else None))
      // Within-batch dedup: two events for the same object in one batch
      // collapse to one (the reference's TOCTOU race, fixed — ST5).
      .distinctBy(_.uploadId)
    val discovered = eventsObs.get("n").asInstanceOf[Long]

    // Steady-state fast path: nothing new → zero ledger writes, zero
    // content reads. A scheduled re-run over an all-ingested inbox costs
    // one metadata listing and nothing else.
    if (todo.isEmpty) return IngestResult(discovered, discovered, 0, 0, 0)

    val todoFrame = local(TodoSchema, todo.toSeq.map(t =>
      Row(t.uploadId, t.bucketName, t.fileName, t.fileSize)))

    // Ledger maintenance (retention sweep, compaction) made due by the
    // pending and processing merges waits for the terminal merge below,
    // which publishes this pass's terminal rows first and then maintains.
    store.deferMaintenance {
      // A1 — observable `pending` upsert BEFORE any processing, exactly
      // the reference's write order (main.py:61-68). A crash after this
      // merge leaves real pending rows a status query can see.
      store.merge(todoFrame.select(
        col("upload_id"), col("bucket_name"), col("file_name"),
        col("file_size"), lit(UploadStatus.Pending).as("status"),
        ts.as("queued_at")))

      // A2 — observable `processing` before the content read, must-exist
      // like Firestore update() (main.py:110-113; rows exist: A1 wrote
      // them). Full 4-state machine pending → processing → done|failed is
      // now externally visible between merges, matching the reference's
      // ledger.
      store.merge(todoFrame.select(
        col("upload_id"), lit(UploadStatus.Processing).as("status"),
        ts.as("processing_started_at")),
        requireExisting = true)
    }

    // S3 + A-L1 + F5 — line counts for the todo files (already collected
    // when content is present; otherwise one fetch of the todo files only —
    // scale: O(new), not O(inbox)), keyed by normalized path. Two read
    // paths by size (SURVEY §7.3): small files as one whole-file string
    // (reference-faithful, single task); files over `wholeFileMaxBytes` via
    // the SPLITTABLE text source — a 50 GB CSV counts as parallel
    // line-partitions across executors, never a 50 GB JVM string. Python's
    // split('\n') fencepost is restored from the per-file row count plus a
    // last-byte probe (N trailing-newline files have rows == newlines; the
    // rest have rows == newlines + 1).
    val fetchedCounts: Map[String, Long] =
      if (hasContent) Map.empty
      else {
        // Re-check existence at fetch time: a file deleted between listing
        // and read must degrade to THAT upload failing, not abort the pass
        // (load() on an explicit path list throws at resolution otherwise;
        // ignoreMissingFiles below covers the remaining read-time window).
        val (bigAll, smallAll) = todo.partition(_.fileSize > wholeFileMaxBytes)
        val smallPaths = smallAll.map(_.path).filter(fileExists)
        val bigPaths = bigAll.map(_.path).filter(fileExists) // few, large

        val smallCounts =
          if (smallPaths.isEmpty) Map.empty[String, Long]
          else spark.read.format("binaryFile")
            .option("ignoreMissingFiles", "true")
            .load(smallPaths: _*)
            .select(col("path"),
              pySplitLineCount(decode(col("content"), "UTF-8")).cast("long"))
            .collect().map(r => normalize(r.getString(0)) -> r.getLong(1)).toMap

        val bigCounts =
          if (bigPaths.isEmpty) Map.empty[String, Long]
          else {
            val rowsPerFile = spark.read.option("lineSep", "\n")
              .option("ignoreMissingFiles", "true")
              .textFile(bigPaths: _*)
              .groupBy(input_file_name()).count()
              .collect().map(r => normalize(r.getString(0)) -> r.getLong(1)).toMap
            bigPaths.map { p =>
              val rows = rowsPerFile.getOrElse(normalize(p), 0L)
              normalize(p) ->
                (if (lastByteIsNewline(p)) rows + 1 else math.max(rows, 1L))
            }.toMap
          }
        smallCounts ++ bigCounts
      }

    // A2..A4 — each upload's terminal row for this pass, judged on the
    // driver. A file deleted between listing and read counts as empty →
    // failed, mirroring the reference's download error path.
    val (done, failed) = todo.map(t => t -> t.nLines.getOrElse(
        fetchedCounts.getOrElse(normalize(t.path), 1L)))
      .partition(_._2 >= MinCsvLines)
    val quarantinedN = failed.count(_._1.priorAttempts + 1 >= maxAttempts)
    // Written with must-exist semantics (the rows exist: the pending merge
    // above wrote them — and an unknown-ID row would vanish, matching
    // main.py:110-113's failing update()). The terminal timestamp is taken
    // once, now that the line counts are known (a local plan, no job), so
    // a quarantined row and its ledger row carry the same failed_at.
    val judgedAt = lit(todoFrame.select(ts).head().get(0))
    val ok = col("status") === UploadStatus.Done
    val updates = local(TerminalSchema, (done.map { case (t, n) =>
        Row(t.uploadId, t.bucketName, t.fileName, t.fileSize,
          UploadStatus.Done, n, null)
      } ++ failed.map { case (t, _) =>
        Row(t.uploadId, t.bucketName, t.fileName, t.fileSize,
          UploadStatus.Failed, null, t.priorAttempts + 1)
      }).toSeq).select(
      col("upload_id"), col("bucket_name"), col("file_name"), col("file_size"),
      col("status"),
      when(ok, judgedAt).as("processing_completed_at"),
      when(!ok, judgedAt).as("failed_at"),
      when(!ok, ValidationError).as("error_message"),
      col("lines_processed"), col("attempts"))

    // S7 — quarantine (DLQ): failures that just exhausted their attempts,
    // appended before the terminal publish.
    if (quarantinedN > 0)
      updates.filter(!ok && col("attempts") >= maxAttempts)
        .withColumn("quarantined_at", ts)
        .write.mode("append").parquet(quarantineDir)

    // S6 — the terminal idempotent MERGE (must-exist); it publishes, then
    // runs the maintenance the two merges above deferred.
    store.merge(updates, requireExisting = true)

    IngestResult(discovered, discovered - todo.length, done.length,
      failed.length, quarantinedN)
  }

  /** One collected todo row; `nLines` is set when content was present. */
  private case class Todo(uploadId: String, path: String, bucketName: String,
      fileName: String, fileSize: Long, priorAttempts: Int,
      nLines: Option[Long])

  private val TodoSchema = StructType(Seq(
    StructField("upload_id", StringType), StructField("bucket_name", StringType),
    StructField("file_name", StringType), StructField("file_size", LongType)))

  private val TerminalSchema = StructType(TodoSchema.fields ++ Seq(
    StructField("status", StringType), StructField("lines_processed", LongType),
    StructField("attempts", IntegerType)))

  /** `rows` as a driver-local frame (a LocalRelation): writing it ships the
    * rows, with no upstream job. */
  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The fetch paths and the todo paths meet in one spelling. */
  private def normalize(p: String): String = p.replaceFirst("^file:/+", "file:/")

  /** Ops hook: re-admit quarantined uploads — the engine's version of the
    * reference's manual DLQ drain (test:1-2). Resets the attempts counter
    * so the next pass retries them; returns how many were re-admitted.
    *
    * The quarantine parquet is an append-only LOG (like the reference's
    * DLQ topic): a requeued upload that exhausts again appends a NEW row,
    * distinguished by `quarantined_at` — consumers wanting current state
    * take the latest row per upload_id.
    */
  def requeueQuarantined(): Long = {
    val q = store.read().filter(
      col("status") === UploadStatus.Failed && col("attempts") >= maxAttempts)
    val n = q.count()
    if (n > 0)
      store.merge(q.select(col("upload_id"), lit(0).as("attempts")),
        requireExisting = true)
    n
  }

  /** Driver-side existence probe for the bounded fetch path lists. */
  private def fileExists(p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Last byte of a (large) file == '\n'? One driver-side O(1) seek per
    * big file — big files are few per pass; this is what restores the
    * split('\n') fencepost without materializing the file as one string.
    */
  private def lastByteIsNewline(p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    val hfs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = hfs.getFileStatus(path).getLen
    if (len == 0L) false
    else {
      val in = hfs.open(path)
      try { in.seek(len - 1); in.read() == '\n'.toInt } finally in.close()
    }
  }
}

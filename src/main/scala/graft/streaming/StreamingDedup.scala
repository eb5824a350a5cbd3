package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Continuous corpus admission: the streaming form of `dedup_incremental`.
  * Documents arrive in micro-batches; each batch is admitted against a
  * persistent content-signature index so the corpus never contains two
  * copies of the same content — across batches, within a batch, and
  * across micro-batch RETRIES.
  *
  * Exactly-once effect without a transactional store (the same discipline
  * as the ingest ledger, SURVEY.md §2.6): both the admitted-docs output
  * and the signature index are hive-partitioned by `ingest_batch` and
  * written with DYNAMIC partition overwrite, so a re-run of batch N
  * replaces exactly batch N's partitions and touches nothing else; and
  * the anti-join reads the index EXCLUDING batch N's own partition, so a
  * half-written previous attempt cannot make the re-run drop its own
  * documents. Net: retries converge to the same admitted set.
  *
  * Scale — the evidence-side discipline: the accumulated index is the
  * UNBOUNDED side of every admission join, so it must only ever be
  * SCANNED, never shuffled or sorted per batch. A naive
  * `batch LEFT ANTI JOIN index` plans the index as the right side of a
  * sort-merge join once it outgrows the broadcast threshold — shuffling
  * and sorting the WHOLE index on every trigger, an O(index) per-batch
  * term that compounds linearly (measured: −10% last-half throughput at
  * x100 before round 12). Every evidence join here is therefore flipped:
  * the index streams through a BroadcastHashJoin whose build side is the
  * bounded micro-batch (`index LEFT SEMI JOIN broadcast(batch keys)` →
  * a hit set ≤ batch size → tiny anti-join against the batch). Per-batch
  * evidence cost is then one column-pruned columnar scan — no Exchange,
  * no Sort, on either side. This also beats bucketing the index by
  * content_hash ([[graft.operators.Bucketing]], the repeated-join
  * technique): a bucketed evidence table avoids its Exchange but, being
  * partitioned by `ingest_batch`, has many files per bucket, so a
  * sort-merge anti-join would still SORT the full index every batch;
  * the broadcast flip pays neither. The index carries
  * (content_hash, doc_id, ingest_batch) — bytes per document, never
  * text.
  */
object StreamingDedup {

  val indexSchema: StructType = StructType(Seq(
    StructField("content_hash", StringType),
    StructField("doc_id", LongType),
    StructField("ingest_batch", LongType)))

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** One trigger's checkpoint ledger: [[apply]] eagerly localCheckpoints
    * a bounded batch-side frame and records the pinned RDD it created, so
    * the end-of-trigger [[release]] frees exactly THOSE blocks. Without
    * release, checkpoint blocks accumulate across the run — hundreds of
    * pinned RDDs after a long stream — and the block-manager pressure
    * shows up as an end-of-run per-batch cliff (measured round 12: the
    * last decile of a 125-batch x100 run was 2.5× the flat body). The
    * ledger replaced a `getPersistentRDDs` snapshot-diff: the diff also
    * caught anything a CONCURRENT session thread persisted inside the
    * trigger window, and for a caller's localCheckpoint that is
    * destructive — its lineage is truncated, so unpersisting deletes the
    * only copy and later use fails on a missing checkpoint block. */
  private final class CkptScope {
    private val rdds =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    def apply(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(true)
      org.apache.spark.sql.GraftInternal.checkpointedRdd(out)
        .foreach(rdds += _)
      out
    }
    def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
  }

  /** Run one micro-batch's admission body with a [[CkptScope]] and
    * release its checkpoint blocks after the writes have landed. */
  private def releasingCheckpoints[A](body: CkptScope => A): A = {
    val scope = new CkptScope
    try body(scope) finally scope.release()
  }

  /** Run independent write actions CONCURRENTLY from driver threads (the
    * overlap-independent-jobs discipline): a trigger's output/index/band
    * writes all read the same already-checkpointed admitted blocks and
    * write to disjoint directories, so running them serially just sums
    * their per-job scheduling + commit latency. Spark's scheduler runs
    * concurrent jobs FIFO; with single-digit tiny jobs this is pure
    * latency overlap, not resource contention. Fails with the first
    * body's exception if any body fails (all are awaited first, so no
    * write is abandoned mid-flight).
    */
  private[streaming] def concurrently(bodies: (() => Unit)*): Unit = {
    if (bodies.sizeIs <= 1) { bodies.foreach(_.apply()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.zipWithIndex.map { case (b, i) =>
      val t = new Thread(() => {
        try b() catch { case e: Throwable => errs.add(e); () }
      }, s"graft-batch-write-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  private def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    if (fs(spark, indexDir).exists(new org.apache.hadoop.fs.Path(indexDir)))
      spark.read.schema(indexSchema).parquet(indexDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)

  /** Output-file dial for one micro-batch's writes: a micro-batch is
    * bounded (one trigger's worth of data), so its admitted survivors fit
    * a handful of files — but the admission joins inherit the session's
    * shuffle parallelism, and writing THAT many near-empty files per
    * batch partition (32 tasks + 32 files + 32 footer reads on every
    * later index scan) is pure overhead, compounding each batch because
    * the evidence read lists every file the previous batches wrote.
    * Callers with genuinely large triggers pass a larger value.
    */
  val DefaultOutputPartitions = 1

  /** Admit one micro-batch. Idempotent per (batch contents, batchId):
    * re-running overwrites batch N's own output/index partitions and
    * ignores them as dedup evidence while re-deciding.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String,
      outputPartitions: Int = DefaultOutputPartitions): Unit =
      releasingCheckpoints { ckpt =>
    // null text hashes to null; the old join-back on content_hash dropped
    // those rows (null never equi-matches), so the filter preserves that
    // contract now that no join re-applies it
    val sigs = batch
      .withColumn("content_hash", sha2(col("text"), 256))
      .filter(col("content_hash").isNotNull)
    // within-batch dedup: deterministic representative = min doc_id, and
    // the payload rides the SAME aggregate — every row of a content_hash
    // group carries the identical text (hash equality IS the dedup
    // relation), so max(text) returns the representative's text exactly
    // and the former join-back against the batch (plus its
    // dropDuplicates exchange and one more batch re-scan per trigger)
    // is pure overhead. Checkpointed EAGERLY: `reps` feeds the broadcast
    // probe set and the admitted anti-join — separate subjobs, where
    // Exchange reuse cannot apply — and without materialization each
    // would re-read and re-hash the batch. A micro-batch is bounded, so
    // one batch-sized checkpoint per trigger buys flat per-batch cost
    // (measured round 12: the recompute tax was ~2x per-batch wall).
    val reps = ckpt(sigs.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"), max(col("text")).as("text")))
    // cross-batch dedup: evidence = every OTHER batch's signatures. The
    // index only SCANS (see the evidence-side discipline above): semi-join
    // it against the broadcast batch hash set, then anti-join the batch
    // against the bounded hit set.
    val evidence = readIndex(spark, indexDir)
      .filter(col("ingest_batch") =!= batchId)
      .select("content_hash")
    // no distinct on the hit set: admitted content hashes are unique
    // corpus-wide (the dedup invariant), so the semi-join output is
    // already ≤ |reps| distinct rows — a distinct here only added an
    // exchange per trigger
    val hits = evidence
      .join(broadcast(reps.select("content_hash")),
        Seq("content_hash"), "left_semi")
    // materialize the admission decision BEFORE writing: the index write
    // below overwrites a path this plan reads (Spark rejects that), and a
    // bounded micro-batch is exactly what localCheckpoint is for. `reps`
    // already carries the representative's text (see above), so the
    // anti-join IS the admitted set — no join back to the batch.
    val admitted = ckpt(reps
      .join(broadcast(hits), Seq("content_hash"), "left_anti")
      .withColumn("ingest_batch", lit(batchId))
      .coalesce(outputPartitions))
    concurrently(
      () => admitted.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(outDir),
      () => admitted.select("content_hash", "doc_id", "ingest_batch")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(indexDir))
  }

  /** Wire into a stream of (doc_id, text) rows. */
  def start(spark: SparkSession, docs: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(spark, batch, id, indexDir, outDir)
      }
      .start()

  val bandIndexSchema: StructType = StructType(Seq(
    StructField("band", IntegerType),
    StructField("bv", StringType),
    StructField("doc_id", LongType),
    StructField("ingest_batch", LongType)))

  private def readBandIndex(spark: SparkSession, dir: String): DataFrame =
    if (fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir)))
      spark.read.schema(bandIndexSchema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], bandIndexSchema)

  /** MinHash LSH bands of a (doc_id, text) frame — same signature
    * definition as the batch dedup family (native `minhash_sigs` over the
    * 200-char prefix, 4 bands × 4 rows). Docs shorter than one shingle
    * yield no bands (they can only be exact-matched).
    */
  private def docBands(spark: SparkSession, docs: DataFrame): DataFrame = {
    val mh = docs
      .select(col("doc_id"), substring(col("text"), 1, 200).as("t"))
      .select(col("doc_id"), expr("minhash_sigs(t)").as("mhs"))
      .filter(size(col("mhs")) > 0)
    val bandCols = (0 to 3).map(b => concat(
      element_at(col("mhs"), 4 * b + 1), element_at(col("mhs"), 4 * b + 2),
      element_at(col("mhs"), 4 * b + 3), element_at(col("mhs"), 4 * b + 4)))
    mh.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
  }

  /** NEAR-dup streaming admission: [[processBatch]]'s discipline plus a
    * MinHash band index — a batch document is rejected if its content
    * digest OR any LSH band collides with an already-admitted document of
    * another batch. The band index is the streaming form of
    * `dedup_incremental`'s signature probe: the corpus is only ever
    * touched through its (band, bv) index, bytes per admitted doc, and
    * the batch side of both anti-joins is one micro-batch.
    *
    * Scope, deliberately: near-dups WITHIN one micro-batch are admitted
    * together (banding a batch against itself needs the clustering pass —
    * `dedup_clusters` — to pick representatives; a periodic batch sweep
    * owns that). Exact within-batch duplicates are still collapsed to the
    * min doc_id. Retries converge exactly as in [[processBatch]]: all
    * three outputs are partitioned by `ingest_batch`, dynamically
    * overwritten, and the batch's own partitions are excluded as
    * evidence.
    */
  def processBatchNearDup(spark: SparkSession, batch: DataFrame,
      batchId: Long, indexDir: String, bandIndexDir: String,
      outDir: String,
      outputPartitions: Int = DefaultOutputPartitions): Unit =
      releasingCheckpoints { ckpt =>
    // null-hash filter: same contract as [[processBatch]] (the old
    // join-back dropped null-text rows; the filter preserves that)
    val sigs = batch.withColumn("content_hash", sha2(col("text"), 256))
      .filter(col("content_hash").isNotNull)
    // within-batch representatives, checkpointed EAGERLY (see
    // [[processBatch]]): `reps` and `repBands` each feed a broadcast
    // probe subjob AND the final admission plan — without
    // materialization every subjob re-reads the batch, re-hashes, and
    // re-minhashes it (Exchange reuse does not cross job boundaries),
    // and the nested broadcasts serialize those recomputes. Both frames
    // are batch-bounded, so this is two batch-sized checkpoints per
    // trigger in exchange for flat per-batch cost. The text rides the
    // aggregate (max over a group of identical strings — see
    // [[processBatch]]), so there is no join back to the batch and no
    // dropDuplicates exchange per trigger.
    val reps = ckpt(sigs.groupBy("content_hash")
      .agg(min(col("doc_id")).as("doc_id"), max(col("text")).as("text")))
    val repBands = ckpt(docBands(spark, reps.select("doc_id", "text")))
    // both evidence indexes only SCAN (evidence-side discipline above):
    // each semi-joins against a broadcast of the batch's bounded key set,
    // and the resulting hit sets (≤ batch size) drive broadcast anti-joins
    // no distinct on the exact hit set (admitted hashes are unique
    // corpus-wide — see processBatch); the BAND hit set keeps its
    // distinct because admitted docs legitimately share band values, so
    // distinct is what bounds that broadcast
    val exactEvidence = readIndex(spark, indexDir)
      .filter(col("ingest_batch") =!= batchId)
      .select("content_hash")
    val exactHits = exactEvidence
      .join(broadcast(reps.select("content_hash")),
        Seq("content_hash"), "left_semi")
    val bandEvidence = readBandIndex(spark, bandIndexDir)
      .filter(col("ingest_batch") =!= batchId)
      .select("band", "bv")
    val bandHits = bandEvidence
      .join(broadcast(repBands.select("band", "bv").distinct()),
        Seq("band", "bv"), "left_semi")
      .distinct()
    // no distinct on nearHit either: the semi-join output is ≤ |repBands|
    // (4 rows/doc) — batch-bounded, duplicates are harmless to an
    // anti-join, and the explicit broadcast keeps the plan shape the
    // distinct used to guarantee by shrinking
    val nearHit = repBands
      .join(broadcast(bandHits), Seq("band", "bv"), "left_semi")
      .select("doc_id")
    val admitted = ckpt(reps
      .join(broadcast(exactHits), Seq("content_hash"), "left_anti")
      .join(broadcast(nearHit), Seq("doc_id"), "left_anti")
      .withColumn("ingest_batch", lit(batchId))
      .coalesce(outputPartitions))
    concurrently(
      () => admitted.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(outDir),
      () => admitted.select("content_hash", "doc_id", "ingest_batch")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(indexDir),
      // admitted ⊆ reps, so the admitted docs' bands are already in the
      // checkpointed repBands — joining it beats re-minhashing the
      // admitted set (a second signature pass per trigger)
      () => repBands
        .join(admitted.select("doc_id", "ingest_batch"), "doc_id")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(bandIndexDir))
  }

  /** Wire the near-dup admission into a stream of (doc_id, text) rows. */
  def startNearDup(spark: SparkSession, docs: DataFrame, indexDir: String,
      bandIndexDir: String, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatchNearDup(spark, batch, id, indexDir, bandIndexDir, outDir)
      }
      .start()

  val vecIndexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("list_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("ingest_batch", LongType)))

  private def readVecIndex(spark: SparkSession, dir: String): DataFrame =
    if (fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir)))
      spark.read.schema(vecIndexSchema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vecIndexSchema)

  /** SEMANTIC streaming admission: the embedding form of
    * [[processBatchNearDup]] — a growing corpus where each arriving batch
    * of vectors is admitted unless it is semantically redundant. A batch
    * vector is rejected if
    *
    *  (a) a LOWER-ID vector of the same batch in the same coarse list is
    *      similar (the one-pass lower-id rule `dedup_semantic` uses — a
    *      pure function of the batch, no recursive greedy), or
    *  (b) any ALREADY-ADMITTED vector of an earlier batch in its list is
    *      similar.
    *
    * Callers supply `list_id` from an OFFLINE-trained coarse quantizer
    * (the realistic production shape: streaming ANN admits against a
    * pretrained index) — so similarity is only ever evaluated within one
    * IVF list, never corpus-wide, and the evidence index is read
    * list-pruned. Exactly-once effect under redelivery exactly as in
    * [[processBatch]]: output + vector index are partitioned by
    * `ingest_batch` with dynamic overwrite and the batch's own
    * partitions are excluded as evidence. The fixed point is stable for
    * the same reason as the near-dup form: an admitted later-batch
    * vector is by construction dissimilar from every earlier admitted
    * vector (else it would have been rejected), so redelivered earlier
    * batches see no new rejecting evidence.
    *
    * `evidenceBatches`: restrict the evidence read to these COMPLETED
    * batch partitions (partition-pruned — ingest_batch is the hive key).
    * [[SemanticAdmitter]] passes its completion-marker ledger, so a
    * crashed attempt's unmarked partial partitions can never serve as
    * rejection evidence against another batch. None (the default, the
    * fixed-quantizer oracled path) keeps the original
    * everything-but-own-batch read.
    *
    * Returns the number of admitted vectors (the batch's index delta —
    * already materialized on the checkpointed frame, so the count is a
    * block read, not a recompute).
    */
  def processBatchSemantic(spark: SparkSession, batch: DataFrame,
      batchId: Long, vecIndexDir: String, outDir: String,
      simThreshold: Double,
      outputPartitions: Int = DefaultOutputPartitions,
      evidenceBatches: Option[Seq[Long]] = None): Long =
      releasingCheckpoints { ckpt =>
    // checkpoint the batch EAGERLY (see [[processBatch]]): it feeds the
    // in-batch self-join twice, the broadcast probe subjob, and the
    // admitted plan — four source re-reads per trigger without
    // materialization, one bounded checkpoint with it
    val bch = ckpt(batch)
    val a = bch.select(col("vec_id").as("id_a"), col("list_id"),
      col("embedding").as("ea"))
    val b = bch.select(col("vec_id").as("id_b"), col("list_id").as("lb"),
      col("embedding").as("eb"))
    val inBatchDrop = a
      .join(b, col("list_id") === col("lb") && col("id_a") < col("id_b"))
      .filter(expr(s"quant_cosine_sim(ea, eb) >= $simThreshold"))
      .select(col("id_b").as("vec_id")).distinct()
    // the vector index only SCANS (evidence-side discipline above): it
    // streams through a BroadcastHashJoin on list_id whose build side is
    // the bounded batch, so similarity is evaluated list-bounded without
    // ever shuffling the accumulated vectors
    val evidence = readVecIndex(spark, vecIndexDir)
      .filter(evidenceBatches match {
        case Some(marked) =>
          val others = marked.filter(_ != batchId)
          if (others.isEmpty) lit(false)
          else col("ingest_batch").isin(others: _*)
        case None => col("ingest_batch") =!= batchId
      })
      .select(col("list_id"), col("embedding").as("ev"))
    val evHit = evidence
      .join(broadcast(bch.select(col("vec_id"), col("list_id"),
        col("embedding"))), Seq("list_id"))
      .filter(expr(s"quant_cosine_sim(embedding, ev) >= $simThreshold"))
      .select("vec_id").distinct()
    // the admitted count rides the checkpoint materialization as an
    // Observation metric — the post-write count() was one more job per
    // trigger for a number the checkpoint action already knows
    val admittedObs = org.apache.spark.sql.Observation()
    val admitted = ckpt(bch
      .join(inBatchDrop, Seq("vec_id"), "left_anti")
      .join(evHit, Seq("vec_id"), "left_anti")
      .withColumn("ingest_batch", lit(batchId))
      .coalesce(outputPartitions)
      .observe(admittedObs, count(lit(1)).as("n")))
    concurrently(
      () => admitted.select("vec_id", "list_id", "ingest_batch")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(outDir),
      () => admitted.select("vec_id", "list_id", "embedding", "ingest_batch")
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(vecIndexDir))
    admittedObs.get("n").asInstanceOf[Long]
  }

  /** Wire the semantic admission into a stream of
    * (vec_id, list_id, embedding) rows. */
  def startSemantic(spark: SparkSession, vecs: DataFrame, vecIndexDir: String,
      outDir: String, checkpointDir: String, simThreshold: Double = 0.4,
      trigger: Trigger = Trigger.AvailableNow): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatchSemantic(spark, batch, id, vecIndexDir, outDir,
          simThreshold)
        ()
      }
      .start()
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming-admission throughput measurement (builder-side): drives the
  * micro-batch admission functions in [[graft.streaming.StreamingDedup]]
  * batch after batch over a scaled corpus and records the per-batch wall
  * clock, docs/s, and the signature-index growth — the 100 TB story for
  * CONTINUOUS ingestion, where the correctness-oracled
  * `st_dedup_admission*` queries only ever exercise fixture scale.
  *
  * What the curve shows: the batch side of every admission join is one
  * micro-batch, but the EVIDENCE side is the accumulated index, re-read
  * per batch — so per-batch cost has a floor of O(index size on disk).
  * The index carries bytes per document (hash or 16 band values), never
  * text, which bounds state at ~100 B/doc (exact) / ~500 B/doc (near):
  * the measured bytes/doc is part of the record. Mode and batch sizes
  * come from the environment:
  *
  *   SPARK_GRAFT_SF_DIR       fixture dir (documents.parquet [+ embeddings])
  *   SPARK_GRAFT_MODE         exact | near | semantic | refresh (default near)
  *   SPARK_GRAFT_BATCH_SIZES  comma ints                (default 1000,4000)
  *   SPARK_GRAFT_KCAP         refresh mode: quantizer k cap (default none)
  *   SPARK_GRAFT_STALENESS    refresh mode: staleness bound (default 4.0)
  *
  * `refresh` is the QUANTIZER-LIFECYCLE form of semantic admission
  * ([[graft.streaming.SemanticAdmitter]]): no offline pre-assignment —
  * the v0 codebook trains on the first batch, each batch pays its own
  * assignment inside the timed window, and the k ∝ √n staleness trigger
  * retrains + swaps the index mid-stream. Swap walls are recorded
  * per-event and EXCLUDED from the per-batch admission curve (the
  * retrain is an offline index build in production); the curve across
  * the swap — before/after throughput — is the measurement the swap
  * policy exists to protect. Redelivered batches replay via the
  * completion-marker ledger, so redelivery here asserts marker
  * semantics (bit-stable by construction even across swaps), not
  * re-derivation.
  */
object AdmissionBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "near")
    val batchSizes = sys.env.getOrElse("SPARK_GRAFT_BATCH_SIZES", "1000,4000")
      .split(",").map(_.trim.toInt).toSeq
    // Admission shuffles are TRIGGER-bounded, not corpus-bounded: the
    // accumulated index is only ever scanned (scan parallelism comes
    // from file splits, not shuffle width), so every Exchange in the
    // admission plan carries at most one micro-batch of rows. The
    // width is therefore derived from the BATCH bytes per run below —
    // deriving it from the fixture (what batch analytics over the
    // whole corpus wants, and what this main did first) measured
    // 3197 → 4005 docs/s at x100/bs=16000 just from undoing the
    // 160-partition overwidth. Session default = core-count floor;
    // an explicit SPARK_GRAFT_SHUFFLE_PARTITIONS still wins.
    val spark = GraftSession.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // bytes of the table the batches are actually CUT from — semantic
    // admission streams embeddings.parquet, exact/near stream
    // documents.parquet. Whole-fixture bytes overstated semantic
    // triggers ~5× (documents dominate the fixture while nRows counts
    // vectors), re-widening shuffles at large semantic batch sizes —
    // the same overwidth regression the trigger-derived width fixed.
    val fixtureBytes = mode match {
      case "semantic" | "refresh" =>
        graft.operators.Autoscale.dirBytes(s"$sfDir/embeddings.parquet")
      case _ =>
        graft.operators.Autoscale.dirBytes(s"$sfDir/documents.parquet")
    }

    val runs = batchSizes.map { bs =>
      val work = new java.io.File(s"target/admission/$mode-$bs")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      if (work.exists()) rm(work)
      work.mkdirs()
      val indexDir = s"$work/index"
      val bandDir = s"$work/bands"
      val outDir = s"$work/out"

      // UNTIMED preparation: assign every row a batch id and write the
      // batches hive-partitioned, so each timed step reads exactly one
      // batch partition — the arrival data of one trigger.
      val (src, nRows) = mode match {
        case "semantic" =>
          // repartitioned at read: a scaled fixture is one or two parquet
          // files, and both Lloyd training and the full-corpus assignment
          // below would otherwise run their k×rows work on 1-2 tasks
          val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id"), col("embedding"))
            .repartition(cpus)
          // offline-trained coarse quantizer (the production shape): the
          // training is index BUILD, not admission, so it is untimed here.
          // k scales as sqrt(n) — the same discipline as the batch IVF
          // family: semantic admission evaluates cosines against the
          // evidence rows of the batch's lists, so per-batch work is
          // O(admitted · batch / k); a FIXED k turns that into a linear
          // per-batch drift (measured round 12: k=16 at x300 decayed
          // 1810 → 1263 docs/s over the run), while k ∝ sqrt(n) keeps
          // the per-list population — and so the per-batch term — flat
          // as the corpus grows.
          import graft.operators.IvfCodebook
          val nVec = v.count()
          // the default 256 cap keeps the untimed flat-Lloyd build
          // tractable locally; SPARK_GRAFT_KCAP lifts it to measure the
          // k-scaling law past the cap (k = √n uncapped is the cluster
          // setting, where training is an offline index build)
          val kCapSem = sys.env.get("SPARK_GRAFT_KCAP")
            .map(_.trim.toInt).getOrElse(256)
          val k = math.min(kCapSem,
            math.max(16, math.ceil(math.sqrt(nVec.toDouble)).toInt))
          // past FlatKMax the build is the two-level IMI tree — flat
          // Lloyd is O(n·k)/iteration, the wrong complexity class at
          // k = √n scale
          val flatKMax = graft.streaming.SemanticAdmitter.FlatKMax
          System.err.println(s"[admission] semantic quantizer k=$k " +
            s"($nVec vectors, ${if (k > flatKMax) "tree" else "flat"})")
          val t0 = System.nanoTime()
          // trainCoarse is eager (each Lloyd round localizes its
          // centroids), so this wall IS the offline build cost
          val cb = graft.streaming.SemanticAdmitter.trainCoarse(spark, v,
            k = k, iters = 2, sampleEvery = 4)
          System.err.println(f"[admission] quantizer build " +
            f"${(System.nanoTime() - t0) / 1e9}%.1fs")
          val cm = IvfCodebook.comps(v)
          val asg = graft.streaming.SemanticAdmitter.assignCoarse(
            cm, IvfCodebook.norms(cm), cb)
          (v.join(asg, "vec_id")
            .select(col("vec_id"), col("list_id"), col("embedding"),
              pmod(col("vec_id"), lit(1000000)).as("oid")),
            nVec)
        case "refresh" =>
          // no offline assignment and no pre-trained quantizer: the
          // admitter bootstraps v0 on the first batch and every later
          // batch pays its own assignment in the timed window
          val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select(col("vec_id"), col("embedding"))
            .repartition(cpus)
          (v.withColumn("oid", pmod(col("vec_id"), lit(1000000))),
            v.count())
        case _ =>
          val d = spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text"))
          (d.withColumn("oid", col("doc_id")), d.count())
      }
      val nBatches = math.max(1, ((nRows + bs - 1) / bs).toInt)
      // trigger-derived shuffle width (see the session comment): size the
      // Exchanges to one batch's bytes — Autoscale's same 8 MB/partition
      // target, applied to the trigger, flooring at the core count for
      // every local batch size; env override wins as everywhere
      val batchBytes =
        if (nRows > 0) fixtureBytes * bs / math.max(1L, nRows) else 0L
      val width = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        .map(_.trim.toInt)
        .getOrElse(graft.operators.Autoscale.shufflePartitions(
          batchBytes, cpus))
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      System.err.println(s"[admission] $mode bs=$bs shuffle width $width " +
        s"(~${batchBytes >> 20} MB/trigger)")
      val batchesDir = s"$work/batches"
      src.withColumn("batch", pmod(col("oid"), lit(nBatches))).drop("oid")
        .write.partitionBy("batch").parquet(batchesDir)
      // actual rows per batch (untimed bookkeeping, bounded by nBatches):
      // pmod of the raw id makes batch sizes nRows/nBatches, NOT bs, and a
      // sparse id space (filtered corpora) can leave a residue class empty
      // — throughput is computed from these counts, never from bs.
      val batchRows: Map[Int, Long] = spark.read.parquet(batchesDir)
        .groupBy("batch").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap

      // refresh-mode machinery: one admitter per run; swap events land
      // in `swaps` and their walls are excluded from the per-batch curve
      // (offline index build in production — recorded separately)
      val kCap = sys.env.get("SPARK_GRAFT_KCAP").map(_.trim.toInt)
        .getOrElse(Int.MaxValue)
      val staleness = sys.env.get("SPARK_GRAFT_STALENESS")
        .map(_.trim.toDouble).getOrElse(4.0)
      val admitter =
        if (mode == "refresh")
          Some(new graft.streaming.SemanticAdmitter(spark, s"$work/sem",
            simThreshold = 0.4, kCap = kCap, stalenessBound = staleness))
        else None
      val swaps = scala.collection.mutable.ArrayBuffer
        .empty[(Int, graft.streaming.SemanticAdmitter.RefreshInfo)]

      // TIMED: admit batch after batch; each step reads its partition
      // (the arriving trigger data) and runs the admission function. The
      // read goes through a partition-pruned filter, so an empty residue
      // class is an empty batch, not a missing-path crash.
      val perBatch = (0 until nBatches).map { b =>
        val t0 = System.nanoTime()
        val batch = spark.read.parquet(batchesDir)
          .filter(col("batch") === b).drop("batch")
        var swapSec = 0.0
        mode match {
          case "exact" =>
            graft.streaming.StreamingDedup.processBatch(
              spark, batch, b.toLong, indexDir, outDir)
          case "near" =>
            graft.streaming.StreamingDedup.processBatchNearDup(
              spark, batch, b.toLong, indexDir, bandDir, outDir)
          case "semantic" =>
            graft.streaming.StreamingDedup.processBatchSemantic(
              spark, batch, b.toLong, indexDir, outDir, simThreshold = 0.4)
          case "refresh" =>
            val o = admitter.get.admit(batch, b.toLong)
            o.refreshed.foreach { info =>
              swaps += ((b, info)); swapSec = info.seconds
              System.err.println(f"[admission] refresh swap at batch $b: " +
                f"k=${info.k} index=${info.indexRows} rows " +
                f"${info.seconds}%.1fs")
            }
          case other => sys.error(s"unknown mode $other")
        }
        val sec = (System.nanoTime() - t0) / 1e9 - swapSec
        if (b % math.max(1, nBatches / 10) == 0)
          System.err.println(f"[admission] $mode bs=$bs batch $b/$nBatches " +
            f"$sec%.2fs")
        sec
      }

      // index state after the run: rows + bytes on disk (the state-size
      // bound the curve is quoted with)
      def duBytes(p: String): Long = {
        val f = new java.io.File(p)
        if (!f.exists()) 0L
        else if (f.isFile) f.length()
        else f.listFiles().map(x => duBytes(x.getPath)).sum
      }
      val effIndexDir = admitter.map(_.currentIndexDir).getOrElse(indexDir)
      val effOutDir = admitter.map(_.admittedDir).getOrElse(outDir)
      val idxRows = spark.read.parquet(effIndexDir).count()
      val idxBytes = duBytes(effIndexDir) +
        (if (mode == "near") duBytes(bandDir) else 0L)
      val admitted = spark.read.parquet(effOutDir).count()

      // REDELIVERY convergence, measured at scale: Pub/Sub-style
      // at-least-once delivery re-runs already-processed triggers, and
      // the admission design's exactly-once claim is that a redelivered
      // batch overwrites exactly its own partitions with the SAME
      // decision (its own prior output is excluded as evidence while
      // re-deciding). The specs pin this at fixture scale; here it is
      // asserted against the full scaled run — first, middle, and last
      // batch are re-delivered and the admitted set must be bit-stable
      // (count + order-independent id/batch hash). Untimed for the
      // throughput curve; per-redelivery wall recorded separately (the
      // cost of one trigger at final index size).
      // bit_xor, not sum: order-independent like sum but cannot overflow
      // under ANSI mode, and admitted (id, batch) pairs are unique so
      // xor cancellation cannot mask a difference
      val idCol =
        if (mode == "semantic" || mode == "refresh") "vec_id" else "doc_id"
      def admittedFingerprint(): (Long, Long) = {
        val r = spark.read.parquet(effOutDir)
          .agg(count(lit(1)).as("n"),
            expr(s"bit_xor(xxhash64($idCol, ingest_batch))").as("h"))
          .collect()(0)
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val fpBefore = admittedFingerprint()
      val redeliverIds = Seq(0, nBatches / 2, nBatches - 1).distinct
      val redeliverSec = redeliverIds.map { b =>
        val t0 = System.nanoTime()
        val batch = spark.read.parquet(batchesDir)
          .filter(col("batch") === b).drop("batch")
        mode match {
          case "exact" => graft.streaming.StreamingDedup.processBatch(
            spark, batch, b.toLong, indexDir, outDir)
          case "near" => graft.streaming.StreamingDedup.processBatchNearDup(
            spark, batch, b.toLong, indexDir, bandDir, outDir)
          case "refresh" =>
            // the marker ledger must make redelivery a replay no-op —
            // that IS the bit-stability mechanism across quantizer swaps
            val o = admitter.get.admit(batch, b.toLong)
            require(o.replayed,
              s"redelivered batch $b must replay via its marker")
          case _ => graft.streaming.StreamingDedup.processBatchSemantic(
            spark, batch, b.toLong, indexDir, outDir, simThreshold = 0.4)
        }
        (System.nanoTime() - t0) / 1e9
      }
      val fpAfter = admittedFingerprint()
      val redeliveryStable = fpBefore == fpAfter
      if (!redeliveryStable)
        System.err.println(s"[admission] REDELIVERY UNSTABLE: " +
          s"$fpBefore -> $fpAfter (batches $redeliverIds)")

      val total = perBatch.sum
      // first/last-half throughput from ACTUAL per-batch rows (pmod makes
      // batch sizes nRows/nBatches, not bs): flat last-half vs first-half
      // is the O(1)-per-batch evidence claim this curve exists to check
      val rowsSeq = (0 until nBatches).map(b => batchRows.getOrElse(b, 0L))
      val halfSec = perBatch.drop(nBatches / 2).sum
      val halfRows = rowsSeq.drop(nBatches / 2).sum
      val firstSec = perBatch.take(nBatches / 2).sum
      val firstRows = rowsSeq.take(nBatches / 2).sum
      val swapsJson = swaps.map { case (b, i) =>
        f"""{"batch":$b,"k":${i.k},"index_rows":${i.indexRows},""" +
          f""""sec":${i.seconds}%.2f}"""
      }.mkString("[", ",", "]")
      val finalK = admitter.map(_.currentK).getOrElse(0)
      System.err.println(f"[admission] $mode bs=$bs DONE " +
        f"total $total%.1fs ${nRows / total}%.0f docs/s " +
        f"(first-half ${if (firstSec > 0) firstRows / firstSec else 0.0}%.0f," +
        f" last-half ${if (halfSec > 0) halfRows / halfSec else 0.0}%.0f docs/s) " +
        f"index $idxRows rows ${idxBytes / 1024} KiB admitted $admitted " +
        s"redelivery_stable=$redeliveryStable" +
        (if (mode == "refresh") s" swaps=${swaps.size} final_k=$finalK"
         else ""))
      (bs, nBatches, total, perBatch, idxRows, idxBytes, admitted, nRows,
        firstRows / math.max(firstSec, 1e-9), halfRows / math.max(halfSec, 1e-9),
        redeliveryStable, redeliverSec, swapsJson, finalK)
    }

    def jarr(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    val line = runs.map {
      case (bs, nb, tot, pb, ir, ib, adm, n, fh, lh, rs, rsec, sw, fk) =>
      s"""{"mode":"$mode","batch_size":$bs,"n_batches":$nb,"n_rows":$n,""" +
        f""""total_sec":$tot%.2f,"rows_per_sec":${n / tot}%.1f,""" +
        f""""first_half_rows_per_sec":$fh%.1f,""" +
        f""""last_half_rows_per_sec":$lh%.1f,""" +
        s""""index_rows":$ir,"index_bytes":$ib,"admitted":$adm,""" +
        s""""redelivery_stable":$rs,"redelivery_sec":${jarr(rsec)},""" +
        (if (mode == "refresh")
           s""""swaps":$sw,"final_k":$fk,""" else "") +
        s""""per_batch_sec":${jarr(pb)}}"""
    }.mkString("[", ",", "]")
    val rec = s"""{"metric":"admission","sf":"$sfDir","runs":$line}"""
    println(rec)
    // machine-greppable: round_close.sh captures THIS path instead of
    // globbing for the newest file (a best-effort persist failure
    // would otherwise silently feed a stale record to the flag tool)
    BenchRecord.write(s"admission-$mode", rec, "admission")
      .foreach(p => System.err.println(s"[admission] record $p"))
    spark.stop()
  }
}

package graft

import graft.streaming.StreamingDedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Continuous corpus admission: dedup within a batch, across batches, and
  * across micro-batch retries.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private def admittedIds(outDir: String): Set[Long] =
    spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet

  test("streamed waves admit each distinct content exactly once") {
    val src = tmpDir("sdd-src")
    val idx = tmpDir("sdd-idx") + "/index"
    val out = tmpDir("sdd-out") + "/out"
    val cp = tmpDir("sdd-cp")

    // one AvailableNow drain per wave, SHARING the checkpoint: batch ids
    // continue across restarts and the signature index persists, so this
    // exercises cross-batch dedup through a real stop/start cycle with
    // fully deterministic batch boundaries (a continuous trigger would
    // race the assertions against its own spinning micro-batches)
    def drain(): Unit = {
      val q = StreamingDedup.start(spark,
        spark.readStream.schema(docSchema).parquet(s"$src/*"), idx, out, cp)
      try q.processAllAvailable() finally q.stop()
    }

    // wave 1: bravo duplicated within the batch
    Seq((1L, "alpha"), (2L, "bravo"), (3L, "bravo"))
      .toDF("doc_id", "text").write.parquet(s"$src/w1")
    drain()
    assert(admittedIds(out) == Set(1L, 2L))

    // wave 2: bravo again (cross-batch dup), charlie twice (within-batch)
    Seq((4L, "bravo"), (5L, "charlie"), (6L, "charlie"))
      .toDF("doc_id", "text").write.parquet(s"$src/w2")
    drain()
    assert(admittedIds(out) == Set(1L, 2L, 5L))

    // the index never stores text — bytes per doc, not the corpus
    assert(spark.read.parquet(idx).columns.toSet ==
      Set("content_hash", "doc_id", "ingest_batch"))
  }

  test("near-dup admission rejects banded neighbors across batches") {
    val root = tmpDir("sndd")
    val idx = s"$root/idx"; val bidx = s"$root/bidx"; val out = s"$root/out"
    // identical 200-char prefixes → identical MinHash signatures → every
    // band collides; `fresh` shares no shingles with `base`
    val base = ("lorem ipsum dolor sit amet consectetur " * 8).take(240)
    val variant = base.take(220) + " but a completely different tail"
    val fresh = ("zebra quokka wombat numbat dingo " * 10).take(240)

    // batch 0: exact within-batch duplicate collapses to min doc_id
    StreamingDedup.processBatchNearDup(spark,
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), 0L, idx, bidx, out)
    assert(admittedIds(out) == Set(1L))

    // batch 1: near-dup (band hit) + exact dup rejected, fresh admitted
    val b1 = Seq((3L, variant), (4L, fresh), (5L, base)).toDF("doc_id", "text")
    StreamingDedup.processBatchNearDup(spark, b1, 1L, idx, bidx, out)
    assert(admittedIds(out) == Set(1L, 4L))

    // full redelivery of batch 1 converges
    StreamingDedup.processBatchNearDup(spark, b1, 1L, idx, bidx, out)
    assert(admittedIds(out) == Set(1L, 4L))

    // the band index carries bands for admitted docs only — bytes per
    // doc, never text
    val bandDocs = spark.read.parquet(bidx)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(bandDocs == Set(1L, 4L))
    assert(spark.read.parquet(bidx).columns.toSet ==
      Set("band", "bv", "doc_id", "ingest_batch"))
  }

  test("near-dup admission wires into a checkpointed stream") {
    val root = tmpDir("sndd-stream")
    val src = s"$root/src"
    val base = ("alpha bravo charlie delta echo foxtrot " * 8).take(240)
    Seq((1L, base), (2L, base.take(220) + " drifted tail"))
      .toDF("doc_id", "text").write.parquet(s"$src/w1")
    val q = StreamingDedup.startNearDup(spark,
      spark.readStream.schema(docSchema).parquet(s"$src/*"),
      s"$root/idx", s"$root/bidx", s"$root/out", s"$root/cp")
    try q.processAllAvailable() finally q.stop()
    // near-dups arriving in ONE batch are admitted together (documented
    // scope: intra-batch near-dup needs the clustering sweep)
    assert(admittedIds(s"$root/out") == Set(1L, 2L))
  }

  test("semantic admission rejects similar same-list vectors, batch and stream") {
    val root = tmpDir("ssem")
    val vidx = s"$root/vidx"; val out = s"$root/out"
    def vec(xs: Float*): Array[Float] = xs.toArray
    // list 0: v1 and v2 nearly parallel (cos ~1), v3 orthogonal;
    // list 1: v10 alone — different list, so even a parallel vector
    // there is NOT evidence against list 0
    val b0 = Seq(
      (1L, 0L, vec(1f, 0f, 0f, 0f)),
      (2L, 0L, vec(0.99f, 0.1f, 0f, 0f)), // similar to v1, higher id → drop
      (3L, 0L, vec(0f, 1f, 0f, 0f)),      // orthogonal → admit
      (10L, 1L, vec(1f, 0f, 0f, 0f)))     // other list → admit
      .toDF("vec_id", "list_id", "embedding")
    StreamingDedup.processBatchSemantic(spark, b0, 0L, vidx, out, 0.8)
    def admitted(): Set[Long] =
      spark.read.parquet(out).select("vec_id").as[Long].collect().toSet
    assert(admitted() == Set(1L, 3L, 10L))

    // batch 1: similar to ADMITTED v1 → reject; similar only to the
    // REJECTED v2's direction... is still similar to v1 (symmetric) →
    // also reject; genuinely novel direction → admit
    val b1 = Seq(
      (20L, 0L, vec(0.98f, 0.15f, 0f, 0f)), // near v1 → reject
      (21L, 0L, vec(0f, 0f, 1f, 0f)))       // novel → admit
      .toDF("vec_id", "list_id", "embedding")
    StreamingDedup.processBatchSemantic(spark, b1, 1L, vidx, out, 0.8)
    assert(admitted() == Set(1L, 3L, 10L, 21L))

    // full redelivery of batch 1 converges (later-batch evidence cannot
    // reject earlier admitted vectors — fixed-point argument)
    StreamingDedup.processBatchSemantic(spark, b1, 1L, vidx, out, 0.8)
    assert(admitted() == Set(1L, 3L, 10L, 21L))

    // the vector index holds admitted vectors only, with their lists
    val idxIds = spark.read.parquet(vidx)
      .select("vec_id").as[Long].collect().toSet
    assert(idxIds == Set(1L, 3L, 10L, 21L))

    // and the same machinery wires into a checkpointed stream
    val sroot = tmpDir("ssem-stream")
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("list_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    b0.write.parquet(s"$sroot/src/w1")
    val q = StreamingDedup.startSemantic(spark,
      spark.readStream.schema(vecSchema).parquet(s"$sroot/src/*"),
      s"$sroot/vidx", s"$sroot/out", s"$sroot/cp", simThreshold = 0.8)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$sroot/out")
      .select("vec_id").as[Long].collect().toSet
    assert(streamed == Set(1L, 3L, 10L))
  }

  test("24 batches with interleaved redeliveries: fixed point holds, latency stays flat") {
    // The LedgerCompactionScaleSpec question asked of the SIGNATURE
    // index: as admitted batches accumulate (one evidence partition per
    // batch), does per-batch admission stay flat, and does the
    // admitted/index state reach a redelivery-stable fixed point?
    val idx = tmpDir("sddsc-idx") + "/index"
    val out = tmpDir("sddsc-out") + "/out"
    val nBatches = 24
    // batch i: 12 novel contents (×2 doc copies each — within-batch
    // dups), plus 4 repeats of earlier batches' contents (cross-batch
    // dups). Deterministic by construction.
    def content(j: Int) = s"document body $j lorem ipsum " * 3
    def batchDf(i: Int) = {
      val novel = (0 until 12).flatMap { t =>
        val j = i * 12 + t
        Seq((i * 1000L + t * 2L, content(j)), (i * 1000L + t * 2L + 1L, content(j)))
      }
      val repeats = if (i == 0) Nil else (0 until 4).map { t =>
        (i * 1000L + 100L + t, content((i * 7 + t * 3) % (i * 12)))
      }
      (novel ++ repeats).toDF("doc_id", "text")
    }
    // first deliveries, a redelivery of batch i-3 after every 5th batch
    val times = (0 until nBatches).map { i =>
      val t0 = System.nanoTime()
      StreamingDedup.processBatch(spark, batchDf(i), i.toLong, idx, out)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i % 5 == 4)
        StreamingDedup.processBatch(spark, batchDf(i - 3), (i - 3).toLong, idx, out)
      dt
    }
    def state(): Set[(Long, Long)] =
      spark.read.parquet(out).select("doc_id", "ingest_batch")
        .as[(Long, Long)].collect().toSet
    val afterFirst = state()
    // model: every content admitted exactly once, in its first batch,
    // represented by the min doc_id of that batch's copies
    val expected = (0 until nBatches).flatMap { i =>
      (0 until 12).map(t => (i * 1000L + t * 2L, i.toLong))
    }.toSet
    assert(afterFirst == expected,
      s"admitted set diverges from the first-occurrence model " +
        s"(${afterFirst.size} vs ${expected.size} rows)")
    // fixed point: redeliver EVERY batch once more — nothing may change
    (0 until nBatches).foreach { i =>
      StreamingDedup.processBatch(spark, batchDf(i), i.toLong, idx, out)
    }
    assert(state() == expected, "redelivery sweep moved the fixed point")
    assert(spark.read.parquet(idx).count() == expected.size.toLong,
      "signature index must hold exactly one row per admitted doc")
    // latency flatness: evidence grows one partition per batch; admission
    // must not grow super-linearly with batch count. Medians are robust
    // to one-off GC/IO stalls; the 3x band is generous for local noise
    // while still catching an O(batches) blowup (24 batches would be ~8x).
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val early = median(times.slice(2, 10))
    val late = median(times.takeRight(8))
    assert(late <= math.max(3.0 * early, 1.0),
      s"per-batch admission latency grew: early median $early s, " +
        s"late median $late s (full: ${times.map(t => f"$t%.2f").mkString(", ")})")
  }

  test("re-running a micro-batch converges (retry idempotence)") {
    val idx = tmpDir("sdd-idx2") + "/index"
    val out = tmpDir("sdd-out2") + "/out"
    val b0 = Seq((1L, "alpha"), (2L, "bravo")).toDF("doc_id", "text")
    val b1 = Seq((3L, "bravo"), (4L, "delta")).toDF("doc_id", "text")

    StreamingDedup.processBatch(spark, b0, 0L, idx, out)
    StreamingDedup.processBatch(spark, b1, 1L, idx, out)
    assert(admittedIds(out) == Set(1L, 2L, 4L))

    // redeliver batch 1 (failure replay): its own partial state must not
    // change the decision, other batches' state must survive
    StreamingDedup.processBatch(spark, b1, 1L, idx, out)
    assert(admittedIds(out) == Set(1L, 2L, 4L))
    assert(spark.read.parquet(idx).count() == 3)

    // a later batch still dedups against everything admitted so far
    StreamingDedup.processBatch(spark,
      Seq((5L, "delta"), (6L, "echo")).toDF("doc_id", "text"), 2L, idx, out)
    assert(admittedIds(out) == Set(1L, 2L, 4L, 6L))
  }

  test("admitted payload rides the representative aggregate; null text drops") {
    // pins the r15 trigger-shape rewrite: the representative's text comes
    // from the SAME aggregate as min(doc_id) (valid because every row of a
    // content_hash group carries identical text), not a join back to the
    // batch — and a null text, whose hash is null, is dropped exactly as
    // the former join-back on content_hash dropped it
    val idx = tmpDir("sdd-idx3") + "/index"
    val out = tmpDir("sdd-out3") + "/out"
    val rows = Seq[(Long, String)](
      (7L, "alpha"), (3L, "alpha"), (5L, "bravo"), (9L, null))
    StreamingDedup.processBatch(spark,
      rows.toDF("doc_id", "text"), 0L, idx, out)
    val admitted = spark.read.parquet(out)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(admitted == Map(3L -> "alpha", 5L -> "bravo"))

    // the near-dup form: same payload/null contract, and the band index
    // holds exactly the admitted docs' bands (reused from the batch's
    // checkpointed band frame, not re-minhashed)
    val root = tmpDir("sndd3")
    val long = ("golf hotel india juliet kilo lima " * 10).take(240)
    StreamingDedup.processBatchNearDup(spark,
      Seq[(Long, String)]((4L, long), (2L, long), (8L, null))
        .toDF("doc_id", "text"),
      0L, s"$root/idx", s"$root/bidx", s"$root/out")
    val admittedNear = spark.read.parquet(s"$root/out")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(admittedNear == Map(2L -> long))
    val expectedBands = Seq(2L -> long).toDF("doc_id", "text")
      .select(col("doc_id"), substring(col("text"), 1, 200).as("t"))
      .select(col("doc_id"), expr("minhash_sigs(t)").as("mhs"))
      .select(col("doc_id"), posexplode(array((0 to 3).map(b => concat(
        element_at(col("mhs"), 4 * b + 1), element_at(col("mhs"), 4 * b + 2),
        element_at(col("mhs"), 4 * b + 3), element_at(col("mhs"), 4 * b + 4))
      ): _*)).as(Seq("band", "bv")))
      .select("band", "bv", "doc_id").as[(Int, String, Long)].collect().toSet
    val gotBands = spark.read.parquet(s"$root/bidx")
      .select("band", "bv", "doc_id").as[(Int, String, Long)].collect().toSet
    assert(gotBands == expectedBands)
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Whole-sweep accumulator, sampled around each query (after a
  * listener-bus drain):
  *  - shuffle/spill bytes catch the memory cliffs a wall-time-only sweep
  *    misses — a query whose shuffle partitions stop fitting in executor
  *    memory shows up as spill bytes one scale step BEFORE it shows up as
  *    a wall-time cliff;
  *  - job/stage/task counts say whether a query is scheduler-bound: a
  *    1-second query that launches 14 jobs wants fewer actions, not a
  *    plan tweak;
  *  - compiles (generated classes Janino compiled, JVM-wide, so the
  *    executor threads' compiles count too) say whether a wall is
  *    compile time: a query that misses the codegen cache pays tens of
  *    milliseconds per class.
  */
private class BenchTelemetry extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  val shuffleBytes = new AtomicLong
  val spillDiskBytes = new AtomicLong
  val spillMemBytes = new AtomicLong
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  override def onJobStart(
      j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onStageCompleted(
      sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(sc.stageInfo.numTasks)
    val m = sc.stageInfo.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillDiskBytes.addAndGet(m.diskBytesSpilled)
      spillMemBytes.addAndGet(m.memoryBytesSpilled)
    }
    ()
  }
}

/** One query's row of a sweep; `sec` counts only when `ok`. */
private final case class BenchRow(name: String, sec: Double, ok: Boolean,
    train: Double, build: Double, shuffleMb: Double, spillDiskMb: Double,
    spillMemMb: Double, jobs: Long, stages: Long, tasks: Long,
    compiles: Long)

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is fully materialized via a noop-style
  * foreach (not `count()`, which would let Catalyst prune the computed
  * columns away and under-measure).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // Builder-side iteration: comma-separated query-name filter. The
    // driver never sets it — its sweep always times the full surface.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").flatMap(SparkEntry.queryFilter)
    // Builder-side set filter (sweep only some families) — composes with
    // SPARK_GRAFT_ONLY. Unknown set names fail loudly like unknown query
    // names do.
    val setsOnly: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_SETS")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
    setsOnly.foreach { names =>
      val unknown = names -- SparkEntry.sets.map(_._1).toSet
      require(unknown.isEmpty, s"SPARK_GRAFT_SETS names not registered: " +
        unknown.toSeq.sorted.mkString(", "))
    }
    // Builder-side index-store redirection: a sweep on a scaled fixture
    // gets its own store root, so it pays (and therefore MEASURES) its
    // own index training instead of reading artifacts a standard-fixture
    // sweep trained.
    sys.env.get("SPARK_GRAFT_INDEX_DIR")
      .foreach(p => sys.props("graft.index.dir") = p)
    // Shuffle-partition width: derived from the fixture's input bytes
    // (graft.operators.Autoscale — the engine-side form of the round-11
    // manual dial; the x300 gram-join spill telemetry in SCALING.md §9
    // is the signal it answers). At the standard sf0.1 fixture the
    // derivation floors at the core count, so standard sweeps are
    // unchanged. SPARK_GRAFT_MASTER: time a set under
    // multi-process execution (`local-cluster[n,cores,mem_mb]`) — the
    // process-boundary shuffle cost measurement that must exist before
    // any real-cluster number is quoted.
    val spark = GraftSession.session(
      graft.operators.Autoscale.resolve(sfDir, cpus),
      GraftSession.envMaster(cpus))
    spark.sparkContext.setLogLevel("WARN")
    val telem = new BenchTelemetry
    spark.sparkContext.addSparkListener(telem)
    // Untimed warmup: pays session/JIT/codegen startup once so the first
    // timed query measures the query, not the JVM.
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).foreach(_ => ())
    catch { case _: Throwable => () }
    // Per-set sweep with a storage-hygiene boundary: when the sweep leaves
    // a set, release that set's shared persisted intermediates
    // (graft.queries.Q.release) so they don't sit in executor storage for
    // the remaining ~100 queries. The release is untimed (it is sweep
    // bookkeeping, not query cost). Cross-set intermediates
    // (SparkEntry.crossSetTags) are KEPT until their last consuming set
    // has run — releasing them early forced the later consumer to
    // re-materialize inside its own timing (round-5:
    // text_winnow_fingerprint 31 s vs 0.19 s).
    val bySet = SparkEntry.sets.zipWithIndex.map { case ((setName, defs), i) =>
      val rs = defs
        .filter(_ => setsOnly.forall(_.contains(setName)))
        .filter(q => only.forall(_.contains(q.name))).map { q =>
        // Sample the artifact-training accumulator around the run: a
        // query that trains an IndexStore artifact in-sweep reports
        // BOTH its total and its train share, so cold vs warm artifact
        // state is visible in the record instead of conflated into one
        // unexplainable number (the round-8 lesson). Round 10 extends
        // the same split to ALL shared first-payer materializations
        // (Q.cached memo misses — minhash bands, verified pair chains,
        // cluster assignments): `build` is the seconds a query spent as
        // first payer of a shared intermediate; steady-state query cost
        // is total - build. Note build ⊇ train when a cached build
        // trains an IndexStore artifact.
        // telemetry deltas: drain the async listener bus before each
        // sample so job/stage events attribute to the row that produced them
        // (the drain is sweep bookkeeping, OUTSIDE the timing window)
        org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
        val sh0 = telem.shuffleBytes.get()
        val sd0 = telem.spillDiskBytes.get()
        val sm0 = telem.spillMemBytes.get()
        val (j0, s0, k0) = (telem.jobs.get, telem.stages.get, telem.tasks.get)
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val tr0 = graft.operators.IndexStore.trainNanos
        val bu0 = graft.queries.Q.buildNanos
        val t0 = System.nanoTime()
        val ok =
          try { q.run(spark, sfDir).foreach(_ => ()); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            false
          }
        val total = (System.nanoTime() - t0) / 1e9
        val train = (graft.operators.IndexStore.trainNanos - tr0) / 1e9
        val build = (graft.queries.Q.buildNanos - bu0) / 1e9
        org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
        BenchRow(q.name, total, ok, train, build,
          (telem.shuffleBytes.get() - sh0) / 1048576.0,
          (telem.spillDiskBytes.get() - sd0) / 1048576.0,
          (telem.spillMemBytes.get() - sm0) / 1048576.0,
          telem.jobs.get - j0, telem.stages.get - s0, telem.tasks.get - k0,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }
      graft.queries.Q.release(spark, SparkEntry.keepTagsAfter(i))
      // Spark's ContextCleaner frees shuffle files, broadcast blocks and
      // accumulator state only when the driver GC collects their weak
      // references — and a large mostly-idle heap may not GC for the
      // whole sweep, so a 180-query single-JVM run accumulates dead
      // shuffle state and degrades its LATE sets (measured: the x10
      // scaling sweep's warm pass ran scaleops 2.4x slower than the same
      // binaries standalone). A forced GC at each set boundary is the
      // standard local-mode countermeasure; it is sweep bookkeeping,
      // outside every query timing.
      System.gc()
      setName -> rs
    }
    val results = bySet.flatMap(_._2)
    val okRows = results.filter(_.ok)
    def jmap(rows: Seq[BenchRow])(v: BenchRow => String): String =
      rows.map(r => "\"" + r.name + "\":" + v(r)).mkString("{", ",", "}")
    // A failed query reports -1 (not its near-zero elapsed time) and lands
    // in `failed`, so a regression can't masquerade as a speedup.
    val qs = jmap(results)(r => if (r.ok) f"${r.sec}%.3f" else "-1")
    val failed = results.filterNot(_.ok).map("\"" + _.name + "\"")
      .mkString("[", ",", "]")
    // Artifact-training seconds per query (only queries that actually
    // trained this sweep): query-side steady-state cost is
    // queries[k] - train[k]. A record with an empty train map IS the
    // warm-artifact statement the baseline contract asks for.
    val train = jmap(okRows.filter(_.train > 0.0005))(r => f"${r.train}%.3f")
    // First-payer seconds per query (Q.cached memo misses this query paid
    // for): a >2x-vs-floor row whose inflation sits in `build` is a shared
    // intermediate materialization, not a plan regression.
    val build = jmap(okRows.filter(_.build > 0.0005))(r => f"${r.build}%.3f")
    // Shuffle/spill telemetry (MB, per query; rows above 1 MB shuffle or
    // any spill): the memory-cliff early-warning a wall-time-only sweep
    // misses. Spill is split disk vs in-memory (different units of harm:
    // disk spill is I/O paid, memory spill is pressure observed).
    val shuffle = jmap(okRows.filter(_.shuffleMb > 1.0))(r =>
      f"${r.shuffleMb}%.1f")
    val spill = jmap(okRows.filter(r => r.spillDiskMb > 0.01 ||
      r.spillMemMb > 0.01))(r => f"[${r.spillDiskMb}%.1f,${r.spillMemMb}%.1f]")
    // Spark jobs, completed stages and their tasks per query, and the
    // classes compiled while it ran, failed queries included: the counts
    // that belong next to every wall-time claim.
    val jobs = jmap(results)(_.jobs.toString)
    val stages = jmap(results)(_.stages.toString)
    val tasks = jmap(results)(_.tasks.toString)
    val compiles = jmap(results)(_.compiles.toString)
    val spillDiskTotal = okRows.map(_.spillDiskMb).sum
    val shuffleTotal = okRows.map(_.shuffleMb).sum
    // per-set sums, directly comparable to BASELINE.md's per-set table
    // (failed queries excluded, same as the total)
    val sets = bySet.map { case (sn, rs) =>
      "\"" + sn + "\":" + f"${rs.filter(_.ok).map(_.sec).sum}%.3f"
    }.mkString("{", ",", "}")
    val total = okRows.map(_.sec).sum
    val trainTotal = okRows.map(_.train).sum
    val buildTotal = okRows.map(_.build).sum
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","train_total":$trainTotal%.3f,"build_total":$buildTotal%.3f,"queries":$qs,"train":$train,"build":$build,"shuffle_mb":$shuffle,"spill_mb":$spill,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"compiles":$compiles,"shuffle_total_mb":$shuffleTotal%.1f,"spill_disk_total_mb":$spillDiskTotal%.1f,"sets":$sets,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // Persist the FULL per-query record of every sweep to a committed
    // file: the driver's BENCH capture truncates to the tail, which in
    // round 7 made the first sets' per-query times unrecoverable and
    // left a dedup-set drift unattributable. One small JSON file per
    // sweep, timestamped, so no sweep overwrites another's record.
    val sweepRef = BenchRecord.write("sweep", line, "bench")
      .getOrElse("bench/<persist failed>")
    // The driver keeps only the last ~2000 chars of stdout, so the full
    // per-query line above never survives into BENCH_r{N}.json (rounds
    // 8-10 all graded from a truncated tail string, "parsed": null). The
    // FINAL line is therefore a compact self-contained record — totals,
    // per-set sums, failures — that fits the tail window even with sbt's
    // trailing "[success]" line, and names the committed full record.
    val short = f"""{"metric":"total","value":$total%.3f,"unit":"sec","train_total":$trainTotal%.3f,"build_total":$buildTotal%.3f,"shuffle_total_mb":$shuffleTotal%.1f,"spill_disk_total_mb":$spillDiskTotal%.1f,"sets":$sets,"failed":$failed,"sf":"$sfDir","queries_file":"$sweepRef","sweep_file":"$sweepRef"}"""
    println(short)
    spark.stop()
  }
}

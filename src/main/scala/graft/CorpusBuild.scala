package graft

/** Composed corpus-build measurement (builder-side): runs the end-to-end
  * curation chain — quality gate → exact dedup → near-dup removal →
  * decontamination → context-window packing → shard manifest
  * ([[graft.queries.DedupQueries.corpusBuildStages]]) — stage by stage on
  * `SPARK_GRAFT_SF_DIR`, timing each stage's materialization over the
  * SHARED memoized artifacts (near-dup pairs, the 8-gram probe table,
  * the survivors' packing prefix sum are each paid once, attributed to
  * the first-paying stage by the job meter Bench uses, which also
  * counts each stage's Spark jobs, stages and tasks).
  * Prints one JSON line and persists it under `bench/` — the one number
  * a training-data team quotes for "how long does a corpus build take",
  * next to the per-query numbers the standing sweeps record.
  */
object CorpusBuild {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.env.get("SPARK_GRAFT_INDEX_DIR")
      .foreach(p => sys.props("graft.index.dir") = p)
    // Reliable-checkpoint the long-lived memoized artifacts by default:
    // the build's survivor memos are exactly the lineage that pinned
    // ~49 GB of spent near-dup shuffle at x1000 (two ENOSPC deaths
    // before the stage-boundary GC alone got it through). Env wins.
    if (!sys.env.contains("SPARK_GRAFT_MEMO_CHECKPOINT"))
      sys.props("spark.graft.memo.checkpoint") = "1"
    // input-derived shuffle width (Autoscale): floors at the core
    // count on standard fixtures, widens on scaled ones — see Bench
    val spark = GraftSession.session(
      graft.operators.Autoscale.resolve(sfDir, GraftSession.cpus))
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: pays session/JIT/codegen startup once so stage 1
    // measures the stage, not the JVM.
    try spark.read.parquet(s"$sfDir/documents.parquet").foreach(_ => ())
    catch { case _: Throwable => () }
    val stages = graft.queries.DedupQueries.corpusBuildStages(spark, sfDir)
    val rows = stages.map { case (name, thunk) =>
      val (df, cost) = graft.obs.JobMeter.once(spark) {
        val df = thunk()
        df.foreach(_ => ())
        df
      }
      // row count is untimed bookkeeping (the attrition readout); the
      // memoized artifacts make the recount cheap
      val n = df.count()
      System.err.println(f"[corpus-build] $name%-14s ${cost.wallSec}%8.2fs " +
        f"(build ${cost.buildSec}%6.2fs, ${cost.jobs} jobs) $n%8d rows")
      // Stage-boundary GC (untimed — same hygiene as Bench's set
      // boundaries): shuffle files are deleted only when the driver GC
      // collects their weak references, and a mostly-idle 64 GB heap may
      // not GC for the whole build — so a single-JVM run ACCUMULATES
      // every prior stage's dead shuffle files on disk. At x1000 that
      // stacking killed the packing stage with ENOSPC (near-dedup's
      // ~39 GB of spent shuffle still on disk under a 60 GB budget) —
      // on a real cluster the same leak evicts healthy cache blocks and
      // exhausts executor local disks.
      System.gc()
      (name, cost, n)
    }
    def jmap(xs: Seq[(String, String)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def perStage(v: graft.obs.JobCost => String): String =
      jmap(rows.map(r => r._1 -> v(r._2)))
    val line = jmap(Seq(
      "metric" -> "\"corpus_build\"",
      "value" -> f"${rows.map(_._2.wallSec).sum}%.3f",
      "unit" -> "\"sec\"",
      "build_total" -> f"${rows.map(_._2.buildSec).sum}%.3f",
      "stages" -> perStage(c => f"${c.wallSec}%.3f"),
      "build" -> perStage(c => f"${c.buildSec}%.3f"),
      "jobs" -> perStage(_.jobs.toString),
      "spark_stages" -> perStage(_.stages.toString),
      "tasks" -> perStage(_.tasks.toString),
      "rows" -> jmap(rows.map(r => r._1 -> r._3.toString)),
      "sf" -> ("\"" + sfDir + "\"")))
    println(line)
    BenchRecord.write("corpus_build", line, "corpus-build")
    spark.stop()
  }
}

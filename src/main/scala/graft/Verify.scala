package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter — builder-side
    // fast iteration; the driver always passes exactly two args]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] = args.lift(2).flatMap(SparkEntry.queryFilter)
    // SPARK_GRAFT_MASTER overrides the single-JVM default — the
    // multi-process smoke (`local-cluster[n,cores,mem_mb]`) runs the
    // whole contract with executors in SEPARATE JVMs, catching
    // single-process assumptions (driver-local file visibility,
    // in-process lock reliance) before any real-cluster claim.
    val cpus = GraftSession.cpus
    val spark = GraftSession.session(cpus, GraftSession.envMaster(cpus))
    spark.sparkContext.setLogLevel("WARN")
    // Clean slate: a failed query must surface as a MISSING result, never
    // as a stale parquet from a previous run passing the compare.
    val out = new java.io.File(outDir)
    if (out.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(out)
    }
    out.mkdirs()
    // Walk in set order (not Map order) and release each set's shared
    // persisted intermediates at the boundary — same storage hygiene as
    // Bench: a full-surface dump would otherwise carry every set's
    // blocks. Cross-set tags survive until their last consuming set has
    // run.
    SparkEntry.sets.zipWithIndex.foreach { case ((_, defs), i) =>
      defs.map(_.name)
        .filter(name => only.forall(_.contains(name)))
        .foreach { name =>
          val fn = SparkEntry.queries(name)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // per-query wall to stderr: the gate's time budget is finite
            // (round 9 lost its correctness artifact to one silently-slow
            // component), so every Verify row is attributable
            System.err.println(
              f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      graft.queries.Q.release(spark, SparkEntry.keepTagsAfter(i))
    }
    // Shared JSON string escape (graft.JsonEscape) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String = JsonEscape(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

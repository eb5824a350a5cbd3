package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and the test
  * harness go through [[session]], so a cluster-shaped default cannot
  * silently apply to one entry point and not another.
  *
  * [[tuned]] is the engine-wide tuning every session carries:
  *
  *  - **zstd I/O compression** (shuffle, spill, broadcast). The x1000
  *    ladder's two disk findings (SCALING.md §11: the gram family's
  *    ~107 GB concurrent shuffle ENOSPC against 60 GB scratch; spent
  *    shuffle files pinned by memoized-artifact lineage) are both
  *    capacity problems whose first-order fix is a smaller on-disk
  *    shuffle byte — zstd compresses the repo's shuffle payloads ~1.5×
  *    tighter than the lz4 default at negligible CPU cost for
  *    shuffle-bound stages. At cluster scale the same dial is what keeps
  *    executor local disks inside their provisioned headroom.
  *  - **checkpoint file GC**: reliable-checkpoint files (the memo
  *    lineage-truncation path in [[graft.queries.Q.cached]]) are deleted
  *    when their RDD is collected, not held until application end.
  *  - **the native SQL functions** of [[GraftExtensions.functions]],
  *    injected through `withExtensions`, so the session and every
  *    `newSession()` clone of it resolve them with no register call.
  */
object GraftSession {
  val ioCodec = "zstd"

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.io.compression.codec", ioCodec)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .withExtensions(GraftExtensions.injectFunctions)

  /** `local[n]` width: `SPARK_GRAFT_CPUS`, else the processors this JVM
    * sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_MASTER`, else `local[cpus]` — for the mains that can run
    * under multi-process execution (`local-cluster[n,cores,mem_mb]`). */
  def envMaster(cpus: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** A [[tuned]] session on `master` with `shufflePartitions` shuffle
    * width, UTC session time and no UI. Under `local-cluster` the
    * executors run in separate JVMs that inherit neither this classpath
    * nor the JDK-17 `--add-opens` set, so both are forwarded (the latter
    * from `SPARK_GRAFT_EXEC_JAVA_OPTS`).
    */
  def session(shufflePartitions: Int,
      master: String = s"local[$cpus]"): SparkSession = {
    val b = tuned(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val forwarded =
      if (!master.startsWith("local-cluster")) b
      else b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_JAVA_OPTS", ""))
    forwarded.getOrCreate()
  }
}

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
  *  - **a codegen cache that holds the working set**
  *    ([[CodegenCacheEntries]] generated classes). Spark keeps compiled
  *    classes in an LRU cache of 100 entries by default, and one
  *    `query_sweep` pass of the four banded-join queries needs about 170:
  *    an LRU smaller than a cyclic working set evicts each class before
  *    its next use, so every repeat recompiled most of them (about 120
  *    compiles, 2.5-3.2 s of summed compile time, per 4.6-5.3 s sweep on
  *    4 cpus). A full sf0.01 `Bench` sweep compiles about 3200 classes
  *    with this cache (4400 with the default). Spark reads the size once
  *    per JVM, when `CodeGenerator` first loads, from the session conf
  *    active then; that is why it sits here, where every session is
  *    built, and not on a query's session.
  */
object GraftSession {
  val ioCodec = "zstd"

  /** Generated classes Spark's codegen cache holds (its default is 100). */
  val CodegenCacheEntries = 4096

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.io.compression.codec", ioCodec)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
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

package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide SparkSession tuning shared by every entry point (Bench,
  * Verify, AdmissionBench, CorpusBuild, the test harness) so a
  * cluster-shaped default cannot silently apply to one main and not
  * another.
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
  */
object GraftSession {
  val ioCodec = "zstd"

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.io.compression.codec", ioCodec)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
}

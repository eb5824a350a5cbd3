package graft.operators

/** Engine-side shuffle-partition derivation: size the shuffle width from
  * the INPUT, not from a human-picked constant.
  *
  * The round-11 scaling sweeps found the first measured memory cliff of
  * the build: the 8-gram self-join family at x300 (1.5M docs, ~GBs of
  * parquet) spilled 11.7 GB to disk / 99 GB in-memory under the pinned
  * 32 shuffle partitions, while 256 partitions ran the same plan
  * spill-free at unchanged wall-clock — a partition-SIZING defect, not a
  * plan defect. The fix was a manual env dial; this object is the
  * automatic form: derive the partition count once per session from the
  * fixture's on-disk bytes, the way a real cluster sizes
  * `spark.sql.shuffle.partitions` / AQE `initialPartitionNum` from table
  * statistics.
  *
  * The derivation deliberately OVER-provisions and lets AQE coalesce:
  *
  *  - `partitions ≈ inputBytes / 8 MB` (rounded up to a multiple of the
  *    core count, floored at the core count, capped at 4096). 8 MB of
  *    compressed parquet input per partition keeps the worst measured
  *    shuffle amplification of the query surface — the gram self-join's
  *    ~25× in-memory expansion of its input — under a few hundred MB of
  *    per-task join state, inside a local executor core's share of the
  *    heap. At the x300 fixture this lands in the 256–512 band whose
  *    lower edge is the measured zero-spill dial; at the standard
  *    sf0.1 fixture (≈18 MB) it floors at the core count, so standard
  *    sweeps are unchanged.
  *  - queries whose shuffles are small don't pay for the width: AQE's
  *    partition coalescing (`spark.sql.adaptive.coalescePartitions`,
  *    on whenever AQE is on) merges sub-target shuffle reads back down
  *    at runtime — over-provisioning costs only empty-ish map outputs,
  *    under-provisioning costs spill. This is exactly the
  *    `initialPartitionNum`-high + coalesce-down discipline a
  *    1000-executor cluster runs.
  *
  * Used by the measurement mains (Bench / Calibrate / CorpusBuild /
  * Explain / JobTrace through [[resolve]]; AdmissionBench sizes its
  * trigger width with [[shufflePartitions]]).
  */
object Autoscale {

  /** Compressed input bytes one shuffle partition should own. See the
    * class doc for the amplification arithmetic behind 8 MB. */
  val TargetBytesPerPartition: Long = 8L << 20

  /** Runaway cap: 4096 partitions × 8 MB ≈ 32 GB of input, far above any
    * local fixture; a real cluster would raise it with the executor
    * count. */
  val MaxPartitions: Int = 4096

  /** Total bytes of all regular files under `dir` (local filesystem —
    * the measurement harness always reads local fixtures). Returns 0 for
    * a missing path, leaving the caller on the core-count floor. */
  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (!f.exists()) 0L
      else if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(dir))
  }

  /** Partition count for `inputBytes` of compressed input on `cpus`
    * cores: ceil(bytes / target), rounded UP to a multiple of `cpus`
    * (whole waves — a partial last wave idles cores), floored at `cpus`,
    * capped at [[MaxPartitions]]. */
  def shufflePartitions(inputBytes: Long, cpus: Int,
      targetBytes: Long = TargetBytesPerPartition,
      maxPartitions: Int = MaxPartitions): Int = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val raw = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes)
    val waves = (raw + cpus - 1) / cpus
    math.min(maxPartitions.toLong, math.max(cpus.toLong, waves * cpus)).toInt
  }

  /** The width the measurement mains share: derived from the fixture
    * directory's bytes, with the decision logged so every sweep record
    * carries its width's origin. */
  def resolve(sfDir: String, cpus: Int): Int = {
    val bytes = dirBytes(sfDir)
    val n = shufflePartitions(bytes, cpus)
    System.err.println(f"[autoscale] shuffle.partitions=$n " +
      f"(derived: ${bytes / 1048576.0}%.1f MB input / " +
      f"${TargetBytesPerPartition >> 20} MB target, $cpus cores)")
    n
  }
}

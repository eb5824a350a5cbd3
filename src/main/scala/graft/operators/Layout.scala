package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-partitioned table layout — the third data-layout lever next to
  * [[Bucketing]] (co-located joins) and sorted writes: a 100 TB event
  * table is only queryable because readers touch the days they ask for,
  * not the table. Writing hive-style `day=YYYY-MM-DD/` directories turns
  * a time filter into PLANNING-time directory pruning: the scan never
  * opens, lists, or footers the other partitions' files. LayoutSpec
  * asserts this from the executed plan's `numFiles` metric, not from
  * wall-clock.
  *
  * The partition column must be LOW cardinality (days, not timestamps):
  * each distinct value is a directory, and a too-fine key explodes the
  * file count and kills listing. Within a partition, rows are sorted by
  * the query's secondary key before writing so parquet row-group min/max
  * stats stay tight for residual predicate pushdown.
  */
object Layout {

  /** Write `df` as parquet partitioned by a derived UTC day column.
    *
    * @param tsMicros expression yielding epoch MICROS (for the events
    *                 table, `Q.tsMicros`)
    * @param sortCols secondary sort within each output file, so row-group
    *                 min/max stats are selective for those columns
    */
  def writeDayPartitioned(df: DataFrame, tsMicros: Column, out: String,
      sortCols: Seq[String]): Unit = {
    val withDay = df.withColumn("day",
      date_format(timestamp_micros(tsMicros), "yyyy-MM-dd"))
    val sorted =
      if (sortCols.isEmpty) withDay
      else withDay.repartition(col("day"))
        .sortWithinPartitions("day", sortCols: _*)
    sorted.write.partitionBy("day").mode("overwrite").parquet(out)
  }

  /** Read back with a day filter the planner prunes to directories. */
  def readDays(spark: SparkSession, path: String,
      days: Seq[String]): DataFrame =
    spark.read.parquet(path).filter(col("day").isin(days: _*))

  /** Morton (Z-order) value: bit-interleave the low `bits` bits of two
    * non-negative integer dimensions (x in even positions, y in odd).
    * Rows close in z-value are close in BOTH dimensions, which is the
    * whole trick: a file holding a contiguous z-range covers a bounded
    * box in (x, y), so parquet min/max stats prune multi-dimension
    * predicates — a single-column sort only ever prunes its own column.
    * Pure integer arithmetic (mask, shift, add of disjoint bits), exact
    * and portable to any engine.
    */
  def zval(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val xm = x.cast("long").bitwiseAND(lit((1L << bits) - 1))
    val ym = y.cast("long").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      shiftrightunsigned(xm, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftrightunsigned(ym, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Write `df` clustered by the z-order of two columns: normalize each
    * dimension to the full `bits` range, interleave, range-repartition on
    * the z-value into `partitions` output files, sort within each, write.
    * One extra shuffle at write time buys every future two-dimensional
    * scan its file- and row-group-level pruning — the standard lakehouse
    * OPTIMIZE ZORDER BY trade.
    *
    * Normalization is NOT optional: dimensions of different magnitudes
    * (a 0-150 user id against a 0-50000 cents value) otherwise leave the
    * narrow dimension in the interleave's low bits only, and the "z"
    * order degenerates to a plain sort of the wide dimension. Min/max
    * linear scaling (one cheap agg pass) fixes magnitude mismatch;
    * heavily SKEWED dimensions would want quantile bucketing instead
    * (rank-based ids per column) — same interleave, different scaler.
    */
  def writeZOrdered(df: DataFrame, x: Column, y: Column, bits: Int,
      out: String, partitions: Int): Unit = {
    val r = df.agg(min(x).cast("double").as("x0"),
      max(x).cast("double").as("x1"),
      min(y).cast("double").as("y0"),
      max(y).cast("double").as("y1")).collect()(0)
    if (r.isNullAt(0)) {
      // empty input: min/max are null — write the empty (but valid)
      // parquet directory instead of NPEing on the unbox
      df.write.mode("overwrite").parquet(out)
      return
    }
    val top = (1L << bits) - 1
    def scaled(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else ((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(top.toDouble))
        .cast("long")
    df.withColumn("_zv", zval(
        scaled(x, r.getDouble(0), r.getDouble(1)),
        scaled(y, r.getDouble(2), r.getDouble(3)), bits))
      .repartitionByRange(partitions, col("_zv"))
      .sortWithinPartitions("_zv")
      .drop("_zv")
      .write.mode("overwrite").parquet(out)
  }

  /** Z-order write for SKEWED dimensions: each dimension is coded by its
    * approximate quantile rank (2^bits buckets of ~equal row count)
    * before interleaving, instead of min/max position. Min/max scaling
    * collapses under skew — one far outlier crushes the dense 99% of a
    * dimension into a single code, and the layout loses all resolution
    * exactly where the rows are. Rank coding spends the code space where
    * the data is.
    *
    * Cost shape: one approxQuantile pass per dimension (Greenwald-Khanna,
    * driver gets 2^bits-1 boundaries), then a per-row scan of the
    * broadcast boundary array (2^bits comparisons — keep bits <= 12).
    * The boundaries are the per-column "range ids" a lakehouse OPTIMIZE
    * ZORDER computes; same interleave as [[writeZOrdered]].
    */
  def writeZOrderedByRank(df: DataFrame, xCol: String, yCol: String,
      bits: Int, out: String, partitions: Int): Unit = {
    require(bits >= 1 && bits <= 12, s"bits must be in [1,12], got $bits")
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val err = 1.0 / (4 * nb)
    // one pass computes BOTH dimensions' boundary sets
    val Array(bx, by) =
      df.stat.approxQuantile(Array(xCol, yCol), probs, err)
    def codeOf(c: String, bounds: Array[Double]): Column =
      aggregate(
        array(bounds.map(b => lit(b)): _*), lit(0L),
        (acc, b) => acc + when(col(c).cast("double") > b, 1L).otherwise(0L))
    df.withColumn("_zv",
        zval(codeOf(xCol, bx), codeOf(yCol, by), bits))
      .repartitionByRange(partitions, col("_zv"))
      .sortWithinPartitions("_zv")
      .drop("_zv")
      .write.mode("overwrite").parquet(out)
  }

  private def statsPath(path: String): String =
    path.stripSuffix("/") + "__stats"

  /** Per-file min/max skipping index over `keyCol` — the lightweight
    * manifest a lakehouse keeps per data file (Delta/Iceberg-style file
    * stats), materialized as a sibling `<path>__stats` parquet by one
    * `input_file_name()` groupBy pass. Combined with a key-sorted layout
    * (`repartitionByRange` + `sortWithinPartitions`, or
    * [[writeZOrdered]] for two keys) this turns a point/range predicate
    * into FILE-level pruning — one step above the row-group min/max
    * pruning parquet already does inside a file, and the piece Spark's
    * own planner lacks (its `numFiles` is the post-partition-pruning
    * listing; data-file stats never shrink it).
    */
  def writeKeyStats(spark: SparkSession, path: String, keyCol: String): Unit =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("kmin"), max(col(keyCol)).as("kmax"))
      .coalesce(1) // one row per data file — always tiny
      .write.mode("overwrite").parquet(statsPath(path))

  /** Point lookup through the stats manifest: plan the scan over ONLY
    * the files whose [kmin, kmax] covers `value`. The matching-file list
    * is driver-side but bounded by construction: on a key-sorted layout
    * a point key matches 1 file (2 at a file boundary); an unsorted
    * layout degrades gracefully toward the full listing a plain scan
    * starts from anyway — never beyond it.
    */
  def statPrunedLookup(spark: SparkSession, path: String, keyCol: String,
      value: Long): DataFrame = {
    val files = spark.read.parquet(statsPath(path))
      .filter(lit(value) >= col("kmin") && lit(value) <= col("kmax"))
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.read.parquet(path).schema)
    else spark.read.parquet(files.toIndexedSeq: _*)
      .filter(col(keyCol) === value)
  }

  /** Compact a parquet directory's small files into ~`targetBytes` files.
    *
    * Streaming ingest and delta-style sinks (the ledger's base+delta
    * generations, micro-batch appends) accumulate files far smaller than
    * a scan wants: at 100 TB a million 1 MB files cost a listing storm,
    * a footer read per file, and one task per file. Compaction is the
    * maintenance pass that trades one bounded rewrite for every future
    * scan's speedup.
    *
    * The file count derives from the CURRENT on-disk byte size (listed
    * from the filesystem, not estimated), so output files land near
    * `targetBytes` regardless of row width. The rewrite goes to a
    * temporary sibling directory first and swaps in with two renames —
    * the window where neither directory is live is the two-rename gap;
    * on an object store a manifest-commit (the ledger's CAS pattern,
    * `LedgerStore.scala`) would close it, but plain parquet directories
    * have no manifest to commit to.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long): (Int, Int) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path) = {
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.result()
    }
    val before = dataFiles(hPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact-tmp")
    fs.delete(tmp, true)
    // coalesce, not repartition: compaction must not pay a shuffle — it
    // only narrows the file count, preserving existing data order
    spark.read.parquet(path).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + ".compact-old")
    fs.delete(old, true)
    if (!fs.rename(hPath, old))
      throw new java.io.IOException(s"compact: cannot retire $path")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(old, hPath) // roll back to the original
      throw new java.io.IOException(s"compact: cannot publish $tmp")
    }
    fs.delete(old, true)
    (before.size, dataFiles(hPath).size)
  }
}

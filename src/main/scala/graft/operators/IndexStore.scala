package graft.operators

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Disk-backed store for TRAINED index artifacts — IVF/PQ codebooks, code
  * tables, kNN-graph adjacency — persisted as parquet keyed by a content
  * digest of the fixture they were derived from.
  *
  * The production shape this models: index construction is "build once,
  * query many". An ANN corpus is quantized / graph-linked when it is
  * ingested, and every later query session READS the index — it does not
  * retrain per session. The in-JVM memo (`graft.queries.Q.cached`) already
  * dedupes training within one sweep; this store extends that across
  * JVMs, so a benchmark/verify sweep pays index TRAINING only the first
  * time it ever sees a fixture, and a plain parquet read afterwards.
  *
  * Invalidation is by CONTENT, not by path or mtime: the cache key is an
  * order-independent digest of the source table (count + sum of per-row
  * 64-bit hashes), so a regenerated fixture with identical content (same
  * scale, same seed) still hits, while any change of scale, seed, or
  * schema misses and retrains. Writing a new key removes the artifact's
  * stale keys — the store never accumulates dead indexes.
  *
  * The key also carries the artifact's algorithm VERSION, which its call
  * site states next to the trainer: a content digest cannot see a trainer
  * change, so without it a store written by older code would keep
  * serving that code's artifact. Bump an artifact's version whenever a
  * change to its trainer (or to anything the trainer reads) can change
  * its output; the next read misses and retrains, and the old version's
  * dir ages out under [[MaxKeysPerName]] like any dead key.
  *
  * Artifacts stored here MUST be deterministic functions of their source
  * fixture (every trainer in this repo is — integer Lloyd with lowest-id
  * seeding, hash-derived LSH planes), otherwise a disk hit and a rebuild
  * could disagree. Parquet round-trips long/double columns bit-exactly,
  * so a read-back artifact is value-identical to the frame that built it;
  * only row ORDER differs, which no consumer depends on (the oracle
  * contract already forbids order-sensitive results).
  */
object IndexStore {

  /** Nanoseconds this JVM has spent TRAINING artifacts (cache misses:
    * build + persist). Bench samples it around each query to split a
    * trained query's one reported number into {train_s, query_s} — the
    * round-8 sweeps showed the same query reporting 0.2 s warm or 5–65 s
    * cold depending on invisible artifact state, which made the bench
    * record unreadable until artifact cost was first-class.
    */
  private val trainNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Build nesting depth per thread: an artifact whose build triggers
    * ANOTHER cached build (e.g. a code table whose builder reads the
    * codebook artifact) must count its wall time once, not once per
    * nesting level — only the outermost build on a thread accumulates.
    */
  private val buildDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Total artifact-training nanoseconds accumulated so far. */
  def trainNanos: Long = trainNanosAcc.get()

  /** Default store root: under the JVM temp dir, shared by every sweep on
    * the host. Override per-process with -Dgraft.index.dir=… (specs pass
    * an explicit root instead). */
  def root: File = new File(
    sys.props.getOrElse("graft.index.dir",
      sys.props("java.io.tmpdir") + File.separator + "graft-index-cache"))

  /** Order-independent content digest of a source table: row count + sum
    * of per-row xxhash64 over all columns (sorted by name, so projection
    * order can't change the digest). The sum runs in decimal — a long
    * accumulator overflows under ANSI mode after ~2 rows of extreme
    * hashes. One scan, one tiny row to the driver.
    */
  def digestOf(df: DataFrame): String = {
    val r = df.select(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(df.columns.sorted.map(col): _*)
        .cast("decimal(20,0)")), lit(0).cast("decimal(20,0)")).as("h"))
      .first()
    // the sign of the decimal sum is part of the digest; encode it as a
    // filename-safe 'm' so keys stay [A-Za-z0-9_-]
    val h = r.getDecimal(1).toBigInteger.toString(16).replace("-", "m")
    java.lang.Long.toHexString(r.getLong(0)) + "-" + h
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRec)
    f.delete(); ()
  }

  /** Sidecar markers inside each artifact dir. `_NAME` records the exact
    * artifact name (so eviction never claims a sibling artifact whose
    * name merely extends another — `foo-bar-<key>` vs name `foo` — once
    * names contain '-'), `_RECENCY` records last-used epoch millis as
    * file CONTENT (directory mtime has 1-second granularity on some
    * filesystems and `setLastModified` can silently fail, which made LRU
    * order unreliable for same-second builds). Spark's parquet reader
    * ignores `_`-prefixed files, so the markers ride inside the dir.
    */
  private def writeMarker(dir: File, marker: String, value: String): Unit = {
    try java.nio.file.Files.write(new File(dir, marker).toPath,
      value.getBytes("UTF-8"))
    catch { case _: java.io.IOException => () } // recency is best-effort
    ()
  }

  private def recencyOf(dir: File): Long = {
    val f = new File(dir, "_RECENCY")
    if (f.exists())
      try new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").trim.toLong
      catch { case _: Exception => dir.lastModified() }
    else dir.lastModified()
  }

  /** Does this store dir hold artifact `name`? Exact `_NAME` match when
    * the marker exists; prefix fallback only for pre-marker dirs. */
  private def ownedBy(dir: File, name: String): Boolean = {
    val nm = new File(dir, "_NAME")
    if (nm.exists())
      try new String(java.nio.file.Files.readAllBytes(nm.toPath),
        "UTF-8").trim == name
      catch { case _: Exception => false }
    else dir.getName.startsWith(name + "-")
  }

  /** How many fixture keys one artifact name retains. A sweep cycle
    * touches the SAME artifact under several fixtures (Verify at sf0.01,
    * Bench at sf0.1, specs at sf0.001 + controlled corpora): evicting
    * every other key on a miss — the original policy — made those runs
    * destroy each other's trained indexes, so "training once per fixture
    * ever" only held while exactly one fixture was in play. Keeping the
    * 4 most-recently-used keys lets the standard scales coexist while a
    * REGENERATED fixture (new digest for the same scale) still ages the
    * dead key out of the store. */
  val MaxKeysPerName = 4

  /** Read artifact `name` at algorithm `version` for fixture `key` from
    * the store, building and persisting it first on a miss. After a
    * build, the artifact's least-recently-used keys beyond
    * [[MaxKeysPerName]] are evicted; a hit refreshes the key's recency.
    * `version` 0 leaves the key unversioned (`name-key`), for artifacts
    * with no trainer to track; every trained artifact passes its own.
    */
  def cached(s: SparkSession, name: String, key: String,
      rootDir: File = root, version: Int = 0)(build: => DataFrame): DataFrame = {
    require(name.matches("[A-Za-z0-9_-]+"), s"unsafe artifact name: $name")
    require(key.matches("[A-Za-z0-9_-]+"), s"unsafe artifact key: $key")
    require(version >= 0, s"negative artifact version: $version")
    val dir = new File(rootDir,
      if (version == 0) s"$name-$key" else s"$name-v$version-$key")
    if (!new File(dir, "_SUCCESS").exists()) {
      val t0 = System.nanoTime()
      buildDepth.set(buildDepth.get() + 1)
      try build.write.mode("overwrite").parquet(dir.toString)
      finally {
        buildDepth.set(buildDepth.get() - 1)
        if (buildDepth.get() == 0)
          trainNanosAcc.addAndGet(System.nanoTime() - t0)
        ()
      }
      writeMarker(dir, "_NAME", name)
      writeMarker(dir, "_RECENCY", System.currentTimeMillis().toString)
      Option(rootDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName != dir.getName && ownedBy(f, name))
        .sortBy(recencyOf)(Ordering[Long].reverse)
        .drop(MaxKeysPerName - 1)
        .foreach(deleteRec)
    } else {
      writeMarker(dir, "_RECENCY", System.currentTimeMillis().toString)
    }
    s.read.parquet(dir.toString)
  }
}

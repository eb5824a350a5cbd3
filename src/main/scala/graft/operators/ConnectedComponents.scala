package graft.operators

import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Min-label connected components over an undirected edge list — the
  * transitive-closure step of corpus dedup: verified near-dup PAIRS become
  * duplicate CLUSTERS (keep one representative per component), because
  * pairwise removal alone over-keeps (a~b, b~c ⇒ a,b,c are one duplicate
  * group even when a~c was never emitted as a pair).
  *
  * Algorithm: label propagation with pointer jumping. Each round
  *   1. every vertex takes the min of its own label and its neighbors'
  *      labels (one |E|-sized shuffle join + a groupBy min), then
  *   2. jumps: label(v) := label(label(v)) (a |V|-sized self-join —
  *      labels are always vertex ids, so the join is total).
  * Plain min-propagation needs O(diameter) rounds — a 100 TB corpus with
  * long duplicate chains (shingled crawls) would run hundreds of rounds.
  * The jump step halves the pointer depth every round, giving
  * O(log diameter) convergence (the classic Shiloach-Vishkin / large-star
  * shape); convergence is detected by the label-sum fixpoint: per-vertex
  * labels are non-increasing, so the total is strictly decreasing until
  * the fixpoint and one extra round proves it.
  *
  * Driver involvement is one scalar aggregate per round (the checksum) —
  * no vertex or edge data ever reaches the driver. Each round ends in an
  * eager `localCheckpoint`: the round's plan references the previous
  * round's labels THREE times (union, neighbor join, jump self-join), so
  * without lineage truncation the logical plan grows exponentially with
  * rounds and analysis itself OOMs. This is the one shape where
  * truncation is the point (iterative plans) — everywhere else this
  * codebase uses lazy fault-tolerant persist. The trade: losing an
  * executor mid-loop fails the query instead of recomputing; acceptable
  * for an O(log n)-round loop, and a cluster deployment can swap in
  * reliable `checkpoint()` against a checkpoint dir without touching the
  * algorithm.
  *
  * Checkpoint lifetime: a round's checkpoint is unpersisted as soon as
  * the next round's checksum has materialized its successor, so a run
  * pins one round of labels at a time, not one per round. The final
  * round backs the returned labels and lives until the session's
  * `Q.release`, which frees it through [[release]].
  *
  * Duplicate or self edges are harmless (min is idempotent); callers need
  * not dedup the pair list first.
  */
object ConnectedComponents {

  /** @param pairs two integral columns (u, w), one row per undirected edge
    *              (both directions are generated internally)
    * @param maxRounds hard cap on propagation rounds; with pointer jumping
    *                  16 rounds cover any diameter up to ~2^16
    * @return (labels, rounds): labels has columns (v, component) — one row
    *         per distinct endpoint, component = min vertex id in its
    *         connected component; rounds = propagation rounds executed
    *         (tests assert the O(log diameter) bound holds)
    */
  /** In-memory unsafe-row bytes per propagated edge/label row (two longs
    * + row overhead), used to size the per-loop shuffle width below. */
  private val BytesPerEdgeRow = 64L

  def run(pairs: DataFrame, maxRounds: Int = 16): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val e = pairs.toDF("u", "w")
    val edges = e.union(e.select(col("w"), col("u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Loop shuffle width: the session default, deliberately. The loop's
    // per-round exchanges carry O(|E|) rows of two longs — tiny next to
    // the corpus-derived session width at scaled fixtures — but a
    // same-window interleaved A/B at x300 (77 k pairs, graft.CcBench,
    // SCALING.md §11) measured AQE's partition coalescing already
    // engaging INSIDE the loop (localCheckpoint does not block it):
    // session-width median 3.0 s vs a derived-width override's 3.7 s,
    // where the override's own edge-count sizing job cost more than the
    // narrower width saved. The earlier cross-window comparison that
    // motivated an override (round-12: 8.6 s @32 vs 13.4 s @544) was
    // host-window noise — the two windows differed 1.8× on
    // byte-identical plans. SPARK_GRAFT_CC_LOOP_WIDTH remains the
    // experiment lever: an int pins the loop width, "derived" re-enables
    // the edges-count derivation; the session conf is restored after the
    // loop (run() is called from single-threaded query bodies).
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val loopWidth = sys.env.get("SPARK_GRAFT_CC_LOOP_WIDTH") match {
      case Some("derived") => math.min(sessionWidth.toInt,
        Autoscale.shufflePartitions(
          edges.count() * BytesPerEdgeRow,
          spark.sparkContext.defaultParallelism))
      case Some(v) if v != "session" => v.trim.toInt
      case _ => sessionWidth.toInt
    }
    spark.conf.set("spark.sql.shuffle.partitions", loopWidth.toString)
    try {
      // lazy checkpoints: the per-round checksum action materializes them,
      // so each round runs ONE job instead of checkpoint + checksum
      var labels = edges.select(col("u").as("v")).distinct()
        .withColumn("component", col("v"))
        .localCheckpoint(false)
      def checksum(df: DataFrame): Long =
        df.agg(coalesce(sum("component"), lit(0L))).head.getLong(0)
      var prev = checksum(labels)
      var rounds = 0
      var converged = labels.head(1).isEmpty
      while (!converged && rounds < maxRounds) {
        val viaNbr = edges.join(labels.withColumnRenamed("v", "w"), "w")
          .select(col("u").as("v"), col("component"))
        val merged = labels.union(viaNbr)
          .groupBy("v").agg(min("component").as("component"))
        val jumped = merged
          .join(merged.select(col("v").as("component"),
            col("component").as("c2")), "component")
          .select(col("v"), col("c2").as("component"))
          .localCheckpoint(false) // truncate: see scaladoc (iterative plan)
        val cur = checksum(jumped)
        // jumped is materialized: the round it supersedes is read no more
        GraftInternal.checkpointedRdd(labels)
          .foreach(_.unpersist(blocking = false))
        labels = jumped
        rounds += 1
        converged = cur == prev
        prev = cur
      }
      edges.unpersist()
      GraftInternal.checkpointedRdd(labels)
        .foreach(r => finals.put((spark, r.id), ()))
      (labels, rounds)
    } finally spark.conf.set("spark.sql.shuffle.partitions", sessionWidth)
  }

  /** (session, RDD id) of each run's final-round checkpoint. Ids rather
    * than the RDDs, so labels a caller drops can still be reclaimed by
    * GC (Spark's cleaner unpersists an unreachable persisted RDD). */
  private val finals =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Int), Unit]

  /** Unpersist the final-round checkpoints of every run on `spark` (the
    * session's release path, `Q.release`, calls this between query sets
    * and at teardown). Labels from an earlier run must not be read after
    * it: their lineage is truncated at the freed checkpoint. */
  def release(spark: SparkSession): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs
    finals.keys.filter(_._1 eq spark).foreach { k =>
      finals.remove(k)
      persisted.get(k._2).foreach(_.unpersist(blocking = false))
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture scaler for the measured-scaling harness
  * (builder-side tooling, like Bench/Verify — not a pipeline operator).
  *
  * Produces an M× copy of a fixture directory by replicating every fact
  * row M times under a seeded, structure-preserving perturbation, so the
  * heavy query families can be timed at 1×/10×/30× of the same corpus
  * and super-linear growth exposed empirically:
  *
  *  - documents: replica r offsets doc_id and rewrites EVERY word with a
  *    replica tag. Within a replica the duplicate/near-dup structure is
  *    exactly the original (dedup work per replica constant); across
  *    replicas no n-gram survives, so duplicate groups grow LINEARLY in
  *    M — naive row copies would grow every group M× and every
  *    candidate-pair family M²×, polluting the scaling measurement with
  *    data-driven (not plan-driven) blowup. n_chars is recomputed from
  *    the rewritten text.
  *  - embeddings: replica r offsets vec_id and cyclically rotates the
  *    vector by r dimensions — norm- and within-replica-geometry-
  *    preserving, so cluster structure (and therefore IVF/PQ/graph index
  *    behavior) replicates instead of collapsing onto M-fold duplicate
  *    points.
  *  - events: replica r offsets event_id and user_id; timestamps, types
  *    and values keep their distributions, so per-window row counts grow
  *    M× while the user-key cardinality also grows M× (per-group state
  *    constant — the scale-out assumption a 1000-executor plan relies
  *    on).
  *  - every other table (TPC-H dims and facts the heavy families only
  *    join against) is copied 1:1.
  *
  * M = 1 reproduces the source fixture content exactly (replica 0 is the
  * identity), so the 1× sweep point is the standard fixture.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <destDir> <multiplier>
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcDir> <destDir> <multiplier>")
    val (src, dest, m) = (args(0), args(1), args(2).toInt)
    require(m >= 1, s"multiplier must be >= 1, got $m")
    val spark = GraftSession.session(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dest, m)
    spark.stop()
  }

  /** Replicate `df` M times with a replica index column `r` (0 = the
    * identity copy). The M-row side is broadcast — never a shuffle. */
  private def replicate(df: DataFrame, m: Int): DataFrame =
    df.crossJoin(broadcast(
      df.sparkSession.range(m).toDF("r").select(col("r").cast("long"))))

  /** next power of ten above the max id — offsets stay human-readable
    * and replica blocks never collide */
  private def offsetFor(df: DataFrame, idCol: String): Long = {
    val mx = df.agg(max(col(idCol))).first().getLong(0)
    var off = 1L
    while (off <= mx) off *= 10
    off
  }

  def generate(spark: SparkSession, src: String, dest: String, m: Int): Unit = {
    // Resume support: a multi-table gen at x1000 runs for an hour, and a
    // mid-run kill (host restart, OOM-killer) leaves some tables complete
    // and one partial. Each table commits atomically via the parquet
    // _SUCCESS marker, and src+M determine the content, so a table that
    // carries the marker is skipped and a partial one is overwritten —
    // re-running the same command finishes the fixture instead of
    // redoing it.
    val hfs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def complete(t: String): Boolean =
      hfs.exists(new org.apache.hadoop.fs.Path(s"$dest/$t.parquet/_SUCCESS"))
    def writeTable(t: String)(df: => DataFrame): Unit =
      if (complete(t)) println(s"ScaleGen: $t.parquet already complete, skipping")
      else df.write.mode("overwrite").parquet(s"$dest/$t.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dOff = offsetFor(docs, "doc_id")
    writeTable("documents")(replicate(docs, m)
      .select(
        (col("doc_id") + col("r") * dOff).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(
          // rewrite every word to lower(base36(crc32(word ⊕ replica))):
          // within a replica the map is a pure function of the word, so
          // duplicate/near-dup structure is preserved EXACTLY, while
          // across replicas no character fragment survives — neither at
          // the word level nor inside character shingles. Two earlier
          // forms failed the second property and the x30 sweep measured
          // both: a uniform "~r" suffix injected the same fragments into
          // every document of a replica (boilerplate: 650× candidate
          // growth), and a word-keyed tag kept the RAW word as a shared
          // substring across replicas, making the M variants of one
          // source doc mutual near-dup candidates (M² per group: 4.5×
          // candidates on 3× data). Hashing the whole word kills both.
          array_join(transform(split(col("text"), " "),
            w => when(length(w) === 0, w).otherwise(
              lower(conv(crc32(concat(w, lit("§"), col("r"))),
                10, 36)))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text"))))

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vOff = offsetFor(emb, "vec_id")
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    writeTable("embeddings")(replicate(emb, m)
      .select(
        (col("vec_id") + col("r") * vOff).as("vec_id"),
        when(col("r") === 0, col("embedding")).otherwise(
          // cyclic rotation by r mod dims: norms and within-replica
          // pairwise angles are exactly preserved
          concat(
            slice(col("embedding"),
              (col("r") % dims + 1).cast("int"),
              lit(dims) - (col("r") % dims).cast("int")),
            slice(col("embedding"), lit(1), (col("r") % dims).cast("int"))))
          .as("embedding"),
        col("label")))

    val ev = spark.read.parquet(s"$src/events.parquet")
    val eOff = offsetFor(ev, "event_id")
    val uOff = offsetFor(ev, "user_id")
    writeTable("events")(replicate(ev, m)
      .select(
        (col("event_id") + col("r") * eOff).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * uOff).as("user_id"),
        col("event_type"), col("value"), col("props")))

    // TPC-H side: scale exactly the way the official generator does —
    // customer/supplier/part/orders/lineitem grow M×, region/nation stay
    // fixed. Every key column gets the SAME per-table replica offset on
    // both its owning table and every fact referencing it, so referential
    // integrity and per-key group sizes are preserved while key
    // cardinality grows M× (the scale-out assumption). Non-key attributes
    // copy unchanged, so literal-predicate selectivity (Brand#12, segment
    // filters, date windows) stays a constant fraction of the data.
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val prt = spark.read.parquet(s"$src/part.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val cOff = offsetFor(cust, "c_custkey")
    val sOff = offsetFor(supp, "s_suppkey")
    val pOff = offsetFor(prt, "p_partkey")
    val oOff = offsetFor(ord, "o_orderkey")

    def offset(keyCol: String, off: Long) =
      (col(keyCol) + col("r") * off).as(keyCol)

    writeTable("customer")(replicate(cust, m)
      .select(offset("c_custkey", cOff) +: cust.columns.toSeq
        .filter(_ != "c_custkey").map(col): _*))
    writeTable("supplier")(replicate(supp, m)
      .select(offset("s_suppkey", sOff) +: supp.columns.toSeq
        .filter(_ != "s_suppkey").map(col): _*))
    writeTable("part")(replicate(prt, m)
      .select(offset("p_partkey", pOff) +: prt.columns.toSeq
        .filter(_ != "p_partkey").map(col): _*))
    writeTable("orders")(replicate(ord, m)
      .select(
        offset("o_orderkey", oOff), offset("o_custkey", cOff),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    writeTable("lineitem")(replicate(li, m)
      .select(
        offset("l_orderkey", oOff), offset("l_partkey", pOff),
        offset("l_suppkey", sOff), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    // fixed-size dims, 1:1 (the TPC-H spec keeps these constant across SF)
    for (t <- Seq("region", "nation")) {
      writeTable(t)(spark.read.parquet(s"$src/$t.parquet"))
    }
  }
}

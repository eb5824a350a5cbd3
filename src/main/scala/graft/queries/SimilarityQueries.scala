package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (Array[Float], 64-dim).
  *
  * Cross-engine determinism trick: floating-point dot products depend on
  * accumulation order, which no engine guarantees — so vectors are first
  * quantized to integer (round(x*10000), exact for these unit-scale
  * floats), dot products and norms become exact BIGINT sums (order-free),
  * and the only floating-point steps are one sqrt and one division on
  * exact integers — bit-identical everywhere. Ranking is then fully
  * deterministic with a vec_id tiebreak.
  *
  * Scale design: brute-force top-k is the correctness baseline (O(n·q),
  * embarrassingly parallel, per-partition ranking before the final top-k
  * shuffle); the LSH variant buckets vectors by deterministic
  * random-hyperplane signs so candidate generation is a bucket-key join —
  * the 100 TB path where n·q is no longer affordable.
  */
object SimilarityQueries {
  import Q._

  /** Content digest of the embeddings fixture, memoized per (session,
    * dataset) — the [[graft.operators.IndexStore]] cache key for every
    * trained artifact below. One embeddings scan per sweep buys cross-JVM
    * reuse of all five index artifacts; a regenerated fixture (new scale
    * or seed) digests differently and retrains.
    */
  private val fixtureKeys = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  private def embKey(s: SparkSession, d: String): String =
    fixtureKeys.getOrElseUpdate((s, d), graft.operators.IndexStore.digestOf(
      table(s, d, "embeddings").select(col("vec_id"), col("embedding"))))


  /** Bits per LSH band table, derived from the corpus row count (parsed
    * from the fixture digest — zero extra scans). Expected bucket
    * population is n / 2^bits and banded pair generation is QUADRATIC
    * per bucket, so bits must grow with log2(n) to hold per-bucket work
    * constant (~125 vectors/bucket) — the cost dial the adjacency docs
    * promise, now actually turning: the 10x scaling sweep measured the
    * fixed-4-bit version at 39x growth against 10x data. At the standard
    * fixtures (500–2000 vectors) this resolves to 4 bits, bit-identical
    * to the pre-dial behavior, so the static 16-plane DuckDB oracles are
    * unchanged.
    */
  private def lshTableBits(s: SparkSession, d: String): Int = {
    val n = java.lang.Long.parseLong(embKey(s, d).split("-")(0), 16)
    val target = math.max(16L, n / 125)
    math.min(15, 64 - java.lang.Long.numberOfLeadingZeros(target - 1))
  }

  /** DuckDB rendering of `lshTableBits`: the oracle derives bits-per-table
    * from the embeddings row count with the SAME integer formula as the
    * Spark dial (bit-length of max(16, n/125) - 1, capped at 15), so a
    * fixture past the 2000-vector breakpoint keeps both engines on one
    * banding instead of hash-mismatching on a correct result (round-10
    * advice; twin of DedupQueries.SimhashDialSql). */
  private val LshDialSql: String =
    """dial AS MATERIALIZED (SELECT least(15, length(bin(
      |  greatest(16, (SELECT count(*) FROM embeddings) // 125) - 1))) AS bw)""".stripMargin

  /** In-JVM memo (one materialization per sweep) over the disk store (one
    * TRAINING per fixture and trainer `version` ever) — the layering every
    * trained artifact in this file uses. Bump an artifact's `version` when
    * its trainer changes (see IndexStore). */
  private def trainedArtifact(s: SparkSession, d: String, tag: String,
      version: Int)(build: => DataFrame): DataFrame =
    cached(s, d, tag) {
      graft.operators.IndexStore.cached(s, tag, embKey(s, d),
        version = version)(build)
    }

  /** IVF list count, derived from the corpus row count (same ~125
    * vectors/list target as lshTableBits' bucket dial). The list count is
    * the dial that keeps dedup_semantic's within-list pair join linear:
    * per-list population is n/k and pair work k·(n/k)², so k must grow
    * with n — the 10x scaling sweep measured the fixed-16-list version at
    * 25x growth against 10x data. At the standard fixtures (500–2000
    * vectors) this resolves to exactly 16 lists, so the static
    * lloydCtes(16, …) DuckDB oracles are bit-identical to the pre-dial
    * behavior. The OTHER cost this dial raises is training itself
    * (O(sample·k·d) per Lloyd iteration = O(n²) once k ∝ n) — acceptable
    * through ~10⁶ vectors on a sampled train; past that the production
    * construction is hierarchical (two-level IMI-style) coarse
    * quantization, which SCALING.md records as the documented next dial.
    */
  private def ivfLists(s: SparkSession, d: String): Int = {
    val n = java.lang.Long.parseLong(embKey(s, d).split("-")(0), 16)
    math.max(16L, n / 125).toInt
  }

  /** Past this list count the coarse quantizer trains and assigns
    * HIERARCHICALLY (two-level, IMI-style — IvfCodebook.trainChildren /
    * assignTwoLevel): flat Lloyd costs O(rows·k) per pass, which turns
    * quadratic once k ∝ n — the x30 measured sweep caught ann_ivf_topk
    * at 11.4x growth on 3x data (934 s) through exactly this wall. The
    * two-level tree pays O(rows·2√k). At the standard fixtures k = 16 ≤
    * FlatKMax, so the flat path — and every static Lloyd-replay DuckDB
    * oracle built on it — is bit-identical to before; the hierarchical
    * path is the measured-scale regime only, exercised by the scaling
    * sweep and IvfSpec's two-level cases.
    */
  private val FlatKMax = 64

  private def ceilSqrt(k: Int): Int = {
    val r = math.sqrt(k.toDouble).toInt
    if (r.toLong * r >= k) r else r + 1
  }

  private def ceilCbrt(k: Int): Int = {
    var r = math.max(1, math.cbrt(k.toDouble).toInt - 1)
    while (r.toLong * r * r < k) r += 1
    r
  }

  /** Coarse-quantizer DEPTH, derived from the list count — the dial
    * ladder SCALING.md §5 documents, each level engaging exactly where
    * the previous level's own codebook would hit the flat-Lloyd wall:
    * depth 1 (flat) through k = FlatKMax lists; depth 2 (two-level
    * IMI-style tree, k1 ≈ √k supers) while √k itself stays ≤ FlatKMax,
    * i.e. through k = 4096 lists ≈ 512 k vectors at the 125-vectors/
    * list target; depth 3 (a third per-mid level, k1 ≈ k2 ≈ k3 ≈ ∛k)
    * past that — training cost O(sample·3∛k) and descent O(n·3∛k) where
    * depth 2 would pay O(√k) per row with a quadratically-trained super
    * codebook. INERT at every standard fixture (k = 16, depth 1) and at
    * the x100 sweep point (k = 1600, depth 2); spec-pinned breakpoints
    * in IvfSpec.
    */
  private[graft] def imiDepth(k: Int): Int =
    if (k <= FlatKMax) 1 else if (ceilSqrt(k) <= FlatKMax) 2 else 3

  /** Trained IVF codebook (ivfLists(n) lists, 2 Lloyd iterations on a
    * 1-in-4 sample), persisted once per (session, dataset) and SHARED by
    * `ann_ivf_topk` and `corpus_embedding_clusters` — training is the
    * expensive iterative part, and both consumers broadcast the same
    * k·dims-row result.
    */
  private def trainedCodebook(s: SparkSession, d: String): DataFrame =
    imiDepth(ivfLists(s, d)) match {
      case 1 =>
        trainedArtifact(s, d, "ivf_codebook", version = 1) {
          graft.operators.IvfCodebook.train(s,
            table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
            k = ivfLists(s, d), iters = 2, sampleEvery = 4)
        }
      case 2 =>
        // hierarchical regime: the flat (cent_id, dim, cs) view every
        // probe-side consumer broadcasts is the tree's children minus the
        // parent column — no second disk artifact, the tree already
        // persists
        cached(s, d, "ivf_codebook_flat")(trainedTree(s, d).drop("grp"))
      case _ =>
        cached(s, d, "ivf_codebook_flat")(trainedGrand3(s, d).drop("grp"))
    }

  /** Level-1 (super) codebook of the hierarchical coarse quantizer:
    * ~√k lists trained by the same deterministic sampled Lloyd. */
  private def trainedSuper(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "ivf_super", version = 1) {
      graft.operators.IvfCodebook.train(s,
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        k = ceilSqrt(ivfLists(s, d)), iters = 2, sampleEvery = 4)
    }

  /** Refinement passes for the two-level tree, corpus-derived — the
    * per-super sampled Lloyd refinement dial (SCALING.md §5): the IMI
    * approximation a two-level tree makes (each vector lands in the
    * best child OF ITS BEST SUPER) degrades as the super count k1 ≈
    * √(n/125) grows, and the base 1-in-4 training sample sees each
    * super's catchment ever more coarsely. Past 2^21 vectors (k ≈
    * 16.8 k lists, k1 ≈ 130) one refinement pass re-tightens children
    * on a denser (1-in-2) sample; past 2^25 (k ≈ 268 k, k1 ≈ 518) a
    * second; never more — each pass is one corpus-sample scan at
    * O(sample·k2). INERT at every current scale (x100 = 200 k vectors
    * → 0 passes, so the trained tree is bit-identical to the
    * underived behavior; spec-pinned breakpoints in IvfSpec).
    */
  private[graft] def imiRefinePasses(n: Long): Int =
    if (n <= (1L << 21)) 0 else if (n <= (1L << 25)) 1 else 2

  /** Level-2 children keyed by parent super list: (grp, cent_id, dim,
    * cs), ~k/√k children per super, globally-unique cent_ids. Past the
    * [[imiRefinePasses]] breakpoints, base training is followed by
    * per-super sampled Lloyd refinement on a 1-in-2 sample (denser
    * than training's 1-in-4) — inert at current scales. */
  private def trainedTree(s: SparkSession, d: String): DataFrame = {
    val n = java.lang.Long.parseLong(embKey(s, d).split("-")(0), 16)
    val passes = imiRefinePasses(n)
    // The artifact tag carries the refinement-dial configuration
    // (passes derivation outcome + refinement sample density): the store
    // key is otherwise only (tag, fixture digest), so a future change to
    // the breakpoints or pass parameters would silently serve stale
    // pre-change trees for large fixtures. Same retrain-on-key-change
    // discipline as a digest change. At every current scale passes = 0,
    // where the tag pins the refinement-free tree explicitly.
    trainedArtifact(s, d, s"ivf_tree_r${passes}s2", version = 1) {
      val k = ivfLists(s, d)
      val k1 = ceilSqrt(k)
      val emb = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = graft.operators.IvfCodebook.trainChildren(s,
        emb, trainedSuper(s, d), k2 = (k + k1 - 1) / k1, iters = 2,
        sampleEvery = 4)
      graft.operators.IvfCodebook.refineChildren(s, emb,
        trainedSuper(s, d), base, passes = passes, sampleEvery = 2)
    }
  }

  /** Depth-3 coarse quantizer (engages past 4096 lists — [[imiDepth]]):
    * ∛k super codebook, ∛k mids per super via the grouped Lloyd, and the
    * remaining ∛k grandchildren per mid trained through the SERVING
    * two-level descent, so train and serve catchments match at every
    * level. No refinement dial at this depth yet (the depth-2 refine
    * passes repair the √n-supers approximation; at depth 3 the supers
    * stay ∛n — document before dialing).
    */
  private def trainedSuper3(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "ivf_super3", version = 1) {
      graft.operators.IvfCodebook.train(s,
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        k = ceilCbrt(ivfLists(s, d)), iters = 2, sampleEvery = 4)
    }

  private def trainedMids3(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "ivf_mids3", version = 1) {
      graft.operators.IvfCodebook.trainChildren(s,
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        trainedSuper3(s, d), k2 = ceilCbrt(ivfLists(s, d)), iters = 2,
        sampleEvery = 4)
    }

  private def trainedGrand3(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "ivf_grand3", version = 1) {
      val k = ivfLists(s, d)
      val c = ceilCbrt(k)
      graft.operators.IvfCodebook.trainGrandChildren(s,
        table(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        trainedSuper3(s, d), trainedMids3(s, d),
        k3 = (k + c * c - 1) / (c * c), iters = 2, sampleEvery = 4)
    }

  /** Full-corpus nearest-centroid assignment over the shared trained
    * codebook, persisted once per (session, dataset): `ann_ivf_topk`'s
    * list structure, `corpus_embedding_clusters`' profile input, and
    * `dedup_semantic`'s cluster partition all read the SAME materialized
    * (vec_id, list_id) table instead of re-running the assignment scan.
    */
  private def corpusAssignment(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "ivf_assign", version = 1) {
      import graft.operators.IvfCodebook
      val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val cm = IvfCodebook.comps(v)
      imiDepth(ivfLists(s, d)) match {
        case 1 =>
          IvfCodebook.assign(cm, IvfCodebook.norms(cm),
            broadcast(trainedCodebook(s, d)))
        case 2 =>
          // O(n·2√k) two-level descent instead of the O(n·k) flat argmax —
          // the full-corpus assignment is the other quadratic the measured
          // sweep caught (n·k join rows with k ∝ n)
          IvfCodebook.assignTwoLevel(cm, IvfCodebook.norms(cm),
            trainedSuper(s, d), trainedTree(s, d))
        case _ =>
          // O(n·3∛k) three-level descent
          IvfCodebook.assignThreeLevel(cm, IvfCodebook.norms(cm),
            trainedSuper3(s, d), trainedMids3(s, d), trainedGrand3(s, d))
      }
    }

  /** The nprobe nearest coarse lists per query vector (the standing
    * query set `vec_id < 5`), ranked by exact-integer cosine against the
    * shared trained codebook — factored out so `ann_ivfpq_topk` and its
    * spec assert against the SAME probe computation. Per-query cost is
    * k centroid dots; the probe set is what bounds the ADC scan.
    */
  private def probeLists(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    import graft.operators.IvfCodebook
    val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 5)
    val cm = IvfCodebook.comps(v)
    val sims = IvfCodebook.similarities(cm, IvfCodebook.norms(cm),
      broadcast(trainedCodebook(s, d)))
    val wNearest = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("cent_id"))
    sims.withColumn("rn", row_number().over(wNearest))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("list_id"))
  }

  // test-only visibility bridges (PqSpec asserts the coarse pruning
  // really bounded the ADC scan)
  private[graft] def probeListsForTest(s: SparkSession, d: String, nprobe: Int): DataFrame =
    probeLists(s, d, nprobe)
  private[graft] def corpusAssignmentForTest(s: SparkSession, d: String): DataFrame =
    corpusAssignment(s, d)
  // CorpusOpsSpec asserts the multi-level regime engaged via the
  // CONFIGURED list count (imiDepth(ivfLists) >= 2) — a distinct-
  // assignment count is a flaky proxy: Lloyd can leave lists empty, so
  // a changed fixture/seed could drop below the threshold while the
  // descent machinery is still fully engaged
  private[graft] def ivfListsForTest(s: SparkSession, d: String): Int =
    ivfLists(s, d)

  /** The shared (vec_id, list_id) assignment for cross-file consumers —
    * the streaming semantic admission in [[PipelineQueries]] treats it as
    * the OFFLINE-trained coarse quantizer a production streaming ANN
    * admits against. Same memoized table every in-file consumer reads. */
  private[queries] def sharedAssignment(s: SparkSession, d: String): DataFrame =
    corpusAssignment(s, d)

  /** DuckDB CTE prefix ending in `assign(vec_id, list_id)` — the oracle
    * form of [[sharedAssignment]], exposed for cross-file oracles. Keep
    * in lockstep with the Lloyd parameters above (k=16, 2 iters, 1-in-4
    * sample). */
  private[queries] lazy val AssignCtesSql: String =
    s"""${lloydCtes(16, 2, 4)},
       |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1)""".stripMargin

  /** Product-quantization codebooks: the 64-dim space split into 4
    * subspaces of 16 dims, each with its own 16-centroid codebook trained
    * by the SAME deterministic integer Lloyd as the IVF coarse quantizer
    * (2 iterations, 1-in-4 sample, k lowest-id seeds) — so the DuckDB
    * oracle replays training per subspace exactly. Persisted once per
    * (session, dataset): 4 × 16 × 16 = 1024 rows, broadcast-small.
    */
  private val PqM = 4
  private val PqSubDims = 16

  private val PcaDims = 64
  private val PcaRounds = 8

  /** DuckDB replay of `embedding_pca_power`: the [[PcaRounds]] power
    * iterations unrolled as MATERIALIZED CTEs (pv{r-1} weights → pp{r}
    * quantized contribution sums → pnm{r} fixed-order norm → pv{r}),
    * mirroring the Spark side's arithmetic operand-for-operand: the same
    * left-associative 64-term dot product, the same ((x_j·s)·(10⁶/N))
    * quantization, the same left-associative s_j² norm chain. Generated
    * by a loop so the round structure cannot drift.
    */
  private lazy val pcaCtes: String = {
    val dims = 1 to PcaDims
    val sb = new StringBuilder
    sb.append(s"""WITH pcn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n
      |  FROM embeddings),
      |pv0 AS MATERIALIZED (SELECT ${dims.map(j => s"1.0 AS v$j").mkString(", ")})"""
      .stripMargin)
    for (r <- 1 to PcaRounds) {
      val dot = dims.map(j =>
        s"CAST(embedding[$j] AS DOUBLE) * v.v$j").mkString(" + ")
      sb.append(s""",
        |pp$r AS MATERIALIZED (SELECT
        |    ${dims.map(j =>
               s"sum(CAST(round(CAST(embedding[$j] AS DOUBLE) * s * kf) " +
               s"AS BIGINT)) AS s$j").mkString(",\n    ")}
        |  FROM (SELECT embedding, ($dot) AS s, 1000000.0 / pcn.n AS kf
        |        FROM embeddings, pv${r - 1} v, pcn)),
        |pnm$r AS MATERIALIZED (SELECT sqrt(${dims.map(j =>
               s"CAST(s$j AS DOUBLE) * s$j").mkString(" + ")}) AS nrm
        |  FROM pp$r),
        |pv$r AS MATERIALIZED (SELECT ${dims.map(j =>
               s"CAST(s$j AS DOUBLE) / nrm AS v$j").mkString(", ")}
        |  FROM pp$r, pnm$r)""".stripMargin)
    }
    sb.toString
  }

  private lazy val pcaOracleSql: String =
    pcaCtes + "\n" + (1 to PcaDims).map(j =>
      s"SELECT CAST($j AS BIGINT) AS component, v$j AS loading " +
        s"FROM pv$PcaRounds").mkString("\nUNION ALL\n")

  /** DuckDB replay of `embedding_pca_project`: the training chain's
    * final weights applied through the same fixed-order dot chain. */
  private lazy val pcaProjectOracleSql: String = {
    val dot = (1 to PcaDims).map(j =>
      s"CAST(embedding[$j] AS DOUBLE) * v.v$j").mkString(" + ")
    s"""$pcaCtes
       |SELECT vec_id,
       |  CAST(round(($dot) * 1000000.0) AS BIGINT) AS proj_micros
       |FROM embeddings, pv$PcaRounds v""".stripMargin
  }

  /** The trained top principal direction — the [[PcaRounds]] power-
    * iteration loop shared by `embedding_pca_power` (which surfaces it)
    * and `embedding_pca_project` (which applies it). Memoized per
    * (session, dataset); the driver holds 64 doubles. Per round, ONE
    * aggregation job (like the BPE rounds): the dot product is an
    * aggregate() fold over a LITERAL weight array — ascending j, the
    * identical left-associative chain the oracle writes out, seeded 0.0
    * which adds exactly — and the 64 dimension sums are one wide
    * aggregation. The ~0.6 s/round on local[32] is fixed driver-loop
    * cost (plan + Janino compile of the 64-agg stage + agg exchange +
    * collect), NOT data volume — measured: broadcast-single-row weights
    * (extra broadcast stage) and per-dimension explode+groupBy (extra
    * shuffle stage) were both slower, and codegen-off only saves the
    * compile slice. At real scale the per-round pass dominates and this
    * is the right plan: mergeable 64-long partials, driver holds 64
    * longs.
    */
  private val pcaMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Array[Double]]

  /** Trained loadings, layered like every other index artifact: in-JVM
    * memo (one training per sweep) over the disk store (one training per
    * fixture ever — parquet round-trips doubles bit-exactly, so a disk
    * hit is value-identical to the train it replaces). */
  private[queries] def pcaLoadings(s: SparkSession,
      d: String): Array[Double] =
    pcaMemo.getOrElseUpdate((s, d), {
      import s.implicits._
      trainedArtifact(s, d, "pca_loadings", version = 1) {
        trainPcaLoadings(s, d).toSeq.zipWithIndex
          .map { case (x, i) => ((i + 1).toLong, x) }
          .toDF("component", "loading")
      }.orderBy("component").select("loading").as[Double].collect()
    })

  private def trainPcaLoadings(s: SparkSession,
      d: String): Array[Double] = {
      val emb = cached(s, d, "pca_emb") {
        table(s, d, "embeddings").select(col("embedding"))
      }
      val n = emb.count()
      val k = 1000000.0 / n
      var v = Array.fill(PcaDims)(1.0)
      for (_ <- 1 to PcaRounds) {
        // Double.toString round-trips exactly, so the literal array
        // reproduces v bit-for-bit in the parsed plan
        val vLit = v.map(x => s"CAST(${x}D AS DOUBLE)")
          .mkString("array(", ", ", ")")
        val sHof = expr(s"""aggregate(sequence(1, $PcaDims),
          |CAST(0.0 AS DOUBLE),
          |(acc, j) -> acc + CAST(element_at(embedding, j) AS DOUBLE)
          |  * element_at($vLit, j))""".stripMargin)
        val aggs = (1 to PcaDims).map(j =>
          sum(round(expr(s"CAST(element_at(embedding, $j) AS DOUBLE)") *
            col("s") * lit(k)).cast("long")).as(s"s$j"))
        val row = emb.select(col("embedding"), sHof.as("s"))
          .agg(aggs.head, aggs.tail: _*).collect()(0)
        val sums = (0 until PcaDims).map(row.getLong)
        var norm2 = 0.0
        sums.foreach(sj => norm2 = norm2 + sj.toDouble * sj.toDouble)
        val norm = math.sqrt(norm2)
        // an all-zero matrix (norm 0) would NaN the loadings in both
        // engines identically; real fixtures can't produce it, so no
        // special case — documenting rather than guarding keeps the
        // driver arithmetic a strict mirror of the oracle's
        v = sums.map(sj => sj.toDouble / norm).toArray
      }
      v
  }

  /** The matrix-free JL sign "matrix": ±1 for (output row j 0-15, input
    * dim 1-64) from the parity of md5's first hex character — a fixed
    * pseudo-random pattern any engine regenerates bit-identically. */
  private def jlSigns(s: SparkSession): DataFrame =
    s.range(0, 16).select(col("id").as("j"))
      .crossJoin(s.range(1, 65).select(col("id").as("dim")))
      .select(col("j"), col("dim"),
        (lit(1L) - lit(2L) *
          (ascii(substring(md5(concat_ws("_", col("j"), col("dim"))), 1, 1))
            .cast("long") % 2)).as("sg"))

  // declared before `defs` — string CTEs interpolate at defs init time
  private val JlSignsSql: String =
    """sg AS (SELECT j, dim,
      |    1 - 2 * (ascii(substr(md5(CAST(j AS VARCHAR) || '_' ||
      |      CAST(dim AS VARCHAR)), 1, 1)) % 2) AS sg
      |  FROM (SELECT unnest(range(0, 16)) AS j),
      |       (SELECT unnest(range(1, 65)) AS dim))""".stripMargin
  private def pqCodebooks(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "pq_codebooks", version = 1) {
      // all 4 subspace codebooks train in ONE grouped Lloyd pipeline
      // (grp = subspace): one corpus pass per iteration total, instead of
      // 4 separate scan+shuffle pipelines per iteration. Bit-identical
      // per subspace to independent training — the groups never interact.
      val gcomps = table(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
        .select(expr(s"CAST(dim0 DIV $PqSubDims AS BIGINT)").as("grp"),
          col("vec_id"),
          (col("dim0") % PqSubDims + 1).as("dim"),
          expr("CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)").as("qx"))
      graft.operators.IvfCodebook
        .trainGrouped(s, gcomps, k = 16, iters = 2, sampleEvery = 4)
        .select(col("grp").as("m"), col("cent_id"), col("dim"), col("cs"))
    }

  /** The PQ-compressed corpus: per vector, one code per subspace (nearest
    * centroid by exact-integer cosine, cent_id tiebreak) plus the exact
    * subspace norm — 4 codes + 4 norms instead of 64 floats, the 100 TB
    * representation an ADC scan reads (codes are what stays hot; raw
    * vectors are only touched for the final re-rank). Persisted once per
    * (session, dataset).
    */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "pq_codes", version = 1) {
      val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val comps = v
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
        .select(col("vec_id"),
          expr(s"CAST(dim0 DIV $PqSubDims AS BIGINT)").as("m"),
          (col("dim0") % PqSubDims + 1).as("dim"),
          expr("CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)").as("qx"))
      val cb = pqCodebooks(s, d)
      val cn = cb.groupBy("m", "cent_id").agg(sum(col("cs") * col("cs")).as("cn2"))
      val xn = comps.groupBy("vec_id", "m").agg(sum(col("qx") * col("qx")).as("xn2"))
      val dots = comps.join(broadcast(cb), Seq("m", "dim"))
        .groupBy("vec_id", "m", "cent_id").agg(sum(col("qx") * col("cs")).as("dot"))
      val w = Window.partitionBy("vec_id", "m")
        .orderBy(col("sim").desc, col("cent_id"))
      dots.join(xn, Seq("vec_id", "m")).join(broadcast(cn), Seq("m", "cent_id"))
        .select(col("vec_id"), col("m"), col("cent_id"), col("xn2"),
          (col("dot").cast("double") /
            (sqrt(col("xn2").cast("double")) * sqrt(col("cn2").cast("double"))))
            .as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("cent_id").as("code"), col("xn2"))
    }

  /** DuckDB rendering of the deterministic random-hyperplane bucketing
    * (±1 weights from sha256(plane-dim) hex parity, exact integer
    * projections, bucket = sign-bit signature) as a `buckets` CTE. The
    * Spark side computes the same thing with the native `lsh_bits`
    * expression (graft.functions.LshBits) — one fused loop per vector over
    * a static weight table instead of a 64-row explode + plane join + two
    * aggregations.
    */
  private val BucketsSql =
    """planes AS (
      |  SELECT p, dim,
      |    CASE WHEN instr('02468ace',
      |      substr(sha256(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)) > 0
      |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS w
      |  FROM (SELECT unnest(range(0, 8)) AS p),
      |       (SELECT unnest(range(1, 65)) AS dim)),
      |comps AS (SELECT vec_id,
      |    unnest(range(1, len(embedding) + 1)) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
      |  FROM embeddings),
      |proj AS (SELECT vec_id, p, CAST(sum(w * qx) AS BIGINT) AS proj
      |  FROM comps JOIN planes USING (dim) GROUP BY 1, 2),
      |buckets AS (SELECT vec_id,
      |  CAST(sum((CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << p) AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id)""".stripMargin

  /** Bounded-probe exact embedding near-dup pairs (the LSH recall ground
    * truth): the 128 lowest vec_ids vs the whole corpus, broadcast probe,
    * exact quantized cosine ≥ 0.4.
    */
  private def embeddingCosine(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val a = v.filter(col("vec_id") < 128)
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    broadcast(a).join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine", expr("quant_cosine_sim(ea, eb)"))
      .filter(col("cosine") >= 0.4)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Max vectors one LSH (table, bucket) may hold and still enter the
    * candidate join pairwise. The bits-per-table dial (lshTableBits)
    * holds the AVERAGE bucket near ~125 vectors, but a tight embedding
    * cluster occupying a constant corpus FRACTION collapses into one
    * bucket at any band width — the x30 measured sweep caught exactly
    * this (dedup_embedding_lsh grew 6.3x on 3x data, both passes).
    * Buckets above the cap STAR-LINK through the bucket's min-vec_id
    * representative (O(bucket) pairs) instead of enumerating O(bucket²),
    * the same discipline the MinHash/simhash band joins apply, so a
    * near-dup cluster larger than the cap stays connected via its
    * representative while total pair work is bounded by cap·rows. At the
    * standard fixtures (≤ 2000 vectors, 16 buckets/table) no bucket
    * reaches the cap, so the static DuckDB oracles see identical inputs.
    */
  val LshBucketCap = 512

  /** LSH candidate pairs (vec_a < vec_b): 4 tables × lshTableBits-bit
    * buckets, pairwise within cool buckets, star-linked through the
    * min-vec_id representative within hot ones (see [[LshBucketCap]]).
    * `probeMax` bounds the smaller-id side of every pair: with
    * Some(m), the result is exactly the unbounded result filtered to
    * vec_a < m — pairwise keeps only a-sides below m and star buckets
    * only fire when their representative (the bucket min, hence always
    * the pair's vec_a) is below m — but the join never materializes
    * pairs outside the probe set, which is what keeps the recall audit
    * linear in the corpus rather than inheriting the full candidate
    * volume (the x30 sweep measured the unbounded form at 5.8x growth
    * on 3x data inside ann_recall_audit).
    */
  private def lshCandidates(s: SparkSession, d: String,
      probeMax: Option[Int]): DataFrame = {
    graft.functions.LshBits.register(s)
    val b = lshTableBits(s, d)
    val tb = table(s, d, "embeddings")
      .select(col("vec_id"), expr(s"lsh_bits(embedding, ${4 * b})").as("bits"))
      .select(col("vec_id"),
        explode(sequence(lit(0L), lit(3L))).as("t"), col("bits"))
      .withColumn("bucket", expr(s"(bits >> (t * $b)) & ${(1 << b) - 1}"))
      .drop("bits")
    val stats = tb.groupBy("t", "bucket")
      .agg(count(lit(1)).as("n_b"), min(col("vec_id")).as("rep"))
    val hot0 = stats.filter(col("n_b") > LshBucketCap)
      .select(col("t"), col("bucket"), col("rep"))
    // cool-bucket membership as an ANTI-join against the HOT keys (the
    // UNFILTERED hot0 — every hot bucket must leave the pairwise path
    // regardless of probeMax): cool grows with the corpus, so a semi-join
    // against it shuffles the full (vec, table, bucket) set at scale,
    // while hot0 is bounded by corpus/cap and already broadcast for the
    // star-link — tb ∉ hot ≡ tb ∈ cool (stats covers every (t, bucket)
    // present in tb), zero exchange on the tb side at any corpus size.
    // Anti build side = broadcast(hot0) verbatim (rep unused by the
    // anti-join): in the unbounded (probeMax = None) path the star-link
    // broadcasts the identical subtree, so ReuseExchange builds the hot
    // broadcast and its stats pass once.
    val ok = tb.join(broadcast(hot0), Seq("t", "bucket"), "left_anti")
    val aSide = probeMax.fold(ok)(m => ok.filter(col("vec_id") < m))
    val pairwise = aSide
      .select(col("vec_id").as("vec_a"), col("t"), col("bucket"))
      .join(ok.select(col("vec_id").as("vec_b"), col("t").as("t_b"),
        col("bucket").as("bucket_b")),
        col("t") === col("t_b") && col("bucket") === col("bucket_b") &&
          col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val hot = probeMax.fold(hot0)(m => hot0.filter(col("rep") < m))
    val star = tb.join(broadcast(hot), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("rep"))
      .select(col("rep").as("vec_a"), col("vec_id").as("vec_b"))
    pairwise.unionByName(star).distinct()
  }

  /** Exact quantized-cosine ≥ 0.4 verify over candidate (vec_a, vec_b)
    * pairs — the shared verify stage of the LSH near-dup path.
    */
  private def cosineVerify(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("cosine", expr("quant_cosine_sim(ea, eb)"))
      .filter(col("cosine") >= 0.4)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Corpus-wide LSH candidates (4 tables × 4 hyperplanes) + exact
    * quantized cosine ≥ 0.4 verify — the scale path whose recall the
    * audit query below measures.
    */
  private def embeddingLsh(s: SparkSession, d: String): DataFrame =
    cosineVerify(s, d, lshCandidates(s, d, None))

  /** Deterministic single-layer kNN graph (the NSW construction of a
    * graph-ANN index, Malkov et al.'s small-world family): each vector's
    * out-edges are its 6 most-similar neighbors among its LSH-bucket
    * candidates (4 tables × 4-bit signatures — the same banding as
    * `dedup_embedding_lsh`), symmetrized before truncation so a popular
    * hub can be ENTERED from either endpoint of a close pair. Persisted
    * once per (session, dataset); the beam search below reads it every
    * hop. Scale story: candidate generation is the bucket-key equi-join
    * (never all-pairs), per-node truncation is the native GroupTopK
    * bounded-heap operator (no per-bucket sort), and the finished
    * adjacency is O(n · degree) rows partitioned by `src` — at corpus
    * scale the graph STAYS put and only frontiers move. The COST DIAL is
    * bits-per-table: expected bucket population is n / 2^bits and pair
    * generation is quadratic per bucket, so bits must grow with
    * log2(corpus) to keep construction linear (at this test scale 4-bit
    * tables ≈ 125 vectors/bucket; a 10^9-vector corpus wants ~16-bit
    * tables for the same per-bucket work) — exactly the bands/rows dial
    * every LSH construction here exposes.
    */
  private[graft] def nswAdjacency(s: SparkSession, d: String): DataFrame =
    trainedArtifact(s, d, "nsw_adj", version = 1) {
      graft.functions.LshBits.register(s)
      graft.functions.VectorFunctions.register(s)
      val b = lshTableBits(s, d)
      val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val tb = v
        .select(col("vec_id"), expr(s"lsh_bits(embedding, ${4 * b})").as("bits"))
        .select(col("vec_id"),
          explode(sequence(lit(0L), lit(3L))).as("t"), col("bits"))
        .withColumn("bucket", expr(s"(bits >> (t * $b)) & ${(1 << b) - 1}"))
        .drop("bits")
      val cand = tb.select(col("vec_id").as("vec_a"), col("t"), col("bucket"))
        .join(tb.select(col("vec_id").as("vec_b"), col("t").as("t_b"),
          col("bucket").as("bucket_b")),
          col("t") === col("t_b") && col("bucket") === col("bucket_b") &&
            col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val scored = cand
        .join(v.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
          "vec_a")
        .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
          "vec_b")
        .withColumn("sim", expr("quant_cosine_sim(ea, eb)"))
        .select("vec_a", "vec_b", "sim")
      val sym = scored
        .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("sim"))
        .unionByName(scored
          .select(col("vec_b").as("src"), col("vec_a").as("dst"), col("sim")))
      // struct score (sim desc, dst asc via negation) — same non-primitive
      // GroupTopK ordering path q_trending_topk exercises
      val base = sym.withColumn("sc", struct(col("sim"), (-col("dst")).as("nd")))
      graft.plans.GroupTopK(base, Seq("src"), "sc", k = 6, descending = true)
        .select("src", "dst", "sim")
    }

  /** DuckDB rendering of [[nswAdjacency]]: a CTE prefix (no leading WITH)
    * ending in `adjt(src, dst, sim)` — the degree-6-truncated kNN graph —
    * plus `n(vec_id, qe, n2)` for downstream exact-cosine scoring. Keep in
    * lockstep with the Spark builder; shared by the graph-ANN search and
    * the graph-cluster dedup oracles.
    */
  private val NswAdjSql: String =
    """planes AS (
      |  SELECT p, dim,
      |    CASE WHEN instr('02468ace',
      |      substr(sha256(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)) > 0
      |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS w
      |  FROM (SELECT unnest(range(0, 16)) AS p),
      |       (SELECT unnest(range(1, 65)) AS dim)),
      |comps AS (SELECT vec_id,
      |    unnest(range(1, len(embedding) + 1)) AS dim,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
      |  FROM embeddings),
      |proj AS MATERIALIZED (SELECT vec_id, p, CAST(sum(w * qx) AS BIGINT) AS proj
      |  FROM comps JOIN planes USING (dim) GROUP BY 1, 2),
      |tb AS MATERIALIZED (SELECT vec_id, p // 4 AS t,
      |  CAST(sum((CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << CAST(p % 4 AS INT)) AS BIGINT) AS bucket
      |  FROM proj GROUP BY 1, 2),
      |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM tb a JOIN tb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |ve AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
      |  FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, qe,
      |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM ve),
      |sp AS MATERIALIZED (SELECT vec_a, vec_b,
      |  CAST(CAST(list_sum(list_transform(range(1, len(a.qe) + 1),
      |    i -> a.qe[i] * b.qe[i])) AS BIGINT) AS DOUBLE)
      |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS sim
      |  FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id),
      |sym AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst, sim FROM sp
      |  UNION ALL SELECT vec_b AS src, vec_a AS dst, sim FROM sp),
      |adjt AS MATERIALIZED (SELECT src, dst, sim FROM (
      |    SELECT src, dst, sim, row_number() OVER (PARTITION BY src
      |      ORDER BY sim DESC, dst) AS rn FROM sym) z WHERE rn <= 6)""".stripMargin

  /** DuckDB CTE chain replaying the deterministic Lloyd training of
    * [[graft.operators.IvfCodebook]]: integer-quantized comps, k lowest-id
    * seeds, `iters` assign/update rounds (centroids = componentwise
    * integer sums, argmax by exact-integer cosine with cent_id tiebreak,
    * empty lists keep their centroid). Ends with `r<iters>` = the ranked
    * similarities against the FINAL centroids, ready for assignment
    * (`rn = 1`) and probing (`rn <= nprobe`).
    */
  private def lloydCtes(k: Int, iters: Int, sampleEvery: Int): String =
    lloydCtesFor("", "embeddings", k, iters, sampleEvery)

  /** IMI CONTRACT parameters: a FORCED k = 72 (> FlatKMax) on the
    * standard fixture, so the two-level trainChildren / assignTwoLevel
    * path — the code that carries IVF at 100 TB, otherwise reached only
    * by the unoracled scaled sweeps — gets a DuckDB hash-green oracle
    * row like every other trained operator. k1 = ceil(√72) = 9 supers,
    * k2 = ceil(72/9) = 8 children per super — the exact derivation
    * trainedTree applies once ivfLists crosses FlatKMax.
    */
  private val ImiContractK = 72
  private val ImiK1 = ceilSqrt(ImiContractK)
  private val ImiK2 = (ImiContractK + ImiK1 - 1) / ImiK1

  /** DuckDB replay of [[graft.operators.IvfCodebook.trainChildren]] +
    * [[graft.operators.IvfCodebook.assignTwoLevel]]: a CTE suffix to
    * append after `lloydCtesFor("sup", …)` (whose sample `suptc`, full
    * components `supcomps`, norms `supnq`, final similarities
    * `sups<iters>` and ranking `supr<iters>` it consumes), ending in
    * `assign2(vec_id, list_id)`. Stage for stage in lockstep with the
    * Scala: sample assignment to supers (`sassign`), per-super grouped
    * components/norms/seed (k2 lowest member vec_ids), `iters` grouped
    * Lloyd rounds with empty-list carry-over, then the two-level
    * descent — level-1 argmax restricted to child-bearing supers,
    * level-2 argmax over the winning super's children — with the same
    * exact-integer dots/norms and (sim DESC, cent_id) tiebreaks
    * everywhere. Generated by a loop so the round structure cannot
    * drift from the trainGrouped iteration count.
    */
  private def imiCtes(k2: Int, iters: Int, sampleEvery: Int): String = {
    // Every CTE is MATERIALIZED: this suffix references the sup* Lloyd
    // prefix (suptc/supcomps/supnq/sups/supr) and its own chc*/chgc chain
    // many times; a plain CTE would let DuckDB inline and re-execute the
    // whole Lloyd replay per reference (~10 min at sf0.01 measured vs
    // 0.4 s materialized, identical rows) — the round-9 gate-zeroing bug.
    val sb = new StringBuilder
    sb.append(
      s"""sassign AS MATERIALIZED (SELECT vec_id, cent_id AS grp FROM supr$iters
        |  WHERE rn = 1 AND vec_id % $sampleEvery = 0),
        |chgc AS MATERIALIZED (SELECT sa.grp, c.vec_id, c.dim, c.qx
        |  FROM suptc c JOIN sassign sa USING (vec_id)),
        |chn AS MATERIALIZED (SELECT grp, vec_id, CAST(sum(qx * qx) AS BIGINT) AS n2
        |  FROM chgc GROUP BY 1, 2),
        |chseed AS MATERIALIZED (SELECT grp, vec_id,
        |    row_number() OVER (PARTITION BY grp ORDER BY vec_id) AS rk
        |  FROM sassign),
        |chc0 AS MATERIALIZED (SELECT g.grp, g.vec_id AS cent_id, g.dim, g.qx AS cs
        |  FROM chgc g JOIN chseed r ON g.grp = r.grp AND g.vec_id = r.vec_id
        |  WHERE r.rk <= $k2)""".stripMargin)
    for (t <- 0 until iters) {
      sb.append(s""",
        |chcn$t AS MATERIALIZED (SELECT grp, cent_id, CAST(sum(cs * cs) AS BIGINT) AS cn2
        |  FROM chc$t GROUP BY 1, 2),
        |chd$t AS MATERIALIZED (SELECT g.grp, g.vec_id, c.cent_id,
        |    CAST(sum(g.qx * c.cs) AS BIGINT) AS dot
        |  FROM chgc g JOIN chc$t c ON g.grp = c.grp AND g.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |chs$t AS MATERIALIZED (SELECT d.grp, d.vec_id, d.cent_id,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cc.cn2 AS DOUBLE))) AS sim
        |  FROM chd$t d JOIN chn n ON d.grp = n.grp AND d.vec_id = n.vec_id
        |  JOIN chcn$t cc ON d.grp = cc.grp AND d.cent_id = cc.cent_id),
        |chr$t AS MATERIALIZED (SELECT grp, vec_id, cent_id,
        |    row_number() OVER (PARTITION BY grp, vec_id ORDER BY sim DESC, cent_id) AS rn
        |  FROM chs$t),
        |cha$t AS MATERIALIZED (SELECT grp, vec_id, cent_id AS list_id FROM chr$t WHERE rn = 1),
        |chm${t + 1} AS MATERIALIZED (SELECT g.grp, a.list_id AS cent_id, g.dim,
        |    CAST(sum(g.qx) AS BIGINT) AS cs_new
        |  FROM chgc g JOIN cha$t a ON g.grp = a.grp AND g.vec_id = a.vec_id
        |  GROUP BY 1, 2, 3),
        |chc${t + 1} AS MATERIALIZED (SELECT c.grp, c.cent_id, c.dim,
        |    coalesce(m.cs_new, c.cs) AS cs
        |  FROM chc$t c LEFT JOIN chm${t + 1} m
        |    ON c.grp = m.grp AND c.cent_id = m.cent_id AND c.dim = m.dim)""".stripMargin)
    }
    sb.append(s""",
      |supok AS MATERIALIZED (SELECT DISTINCT grp AS cent_id FROM chc$iters),
      |l1 AS MATERIALIZED (SELECT vec_id, cent_id AS grp FROM (
      |  SELECT s.vec_id, s.cent_id,
      |    row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cent_id) AS rn
      |  FROM sups$iters s JOIN supok o ON s.cent_id = o.cent_id) WHERE rn = 1),
      |chcnf AS MATERIALIZED (SELECT cent_id, CAST(sum(cs * cs) AS BIGINT) AS cn2
      |  FROM chc$iters GROUP BY 1),
      |l2d AS MATERIALIZED (SELECT c.vec_id, ch.cent_id,
      |    CAST(sum(c.qx * ch.cs) AS BIGINT) AS dot
      |  FROM supcomps c JOIN l1 ON c.vec_id = l1.vec_id
      |  JOIN chc$iters ch ON ch.grp = l1.grp AND ch.dim = c.dim
      |  GROUP BY 1, 2),
      |l2s AS MATERIALIZED (SELECT d.vec_id, d.cent_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cc.cn2 AS DOUBLE))) AS sim
      |  FROM l2d d JOIN supnq n ON d.vec_id = n.vec_id
      |  JOIN chcnf cc ON d.cent_id = cc.cent_id),
      |assign2 AS MATERIALIZED (SELECT vec_id, cent_id AS list_id FROM (
      |  SELECT vec_id, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
      |  FROM l2s) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** Depth-3 CONTRACT parameters: a FORCED small three-level tree
    * (4 supers × 3 mids × 3 grandchildren ≈ 36 leaf lists) on the
    * standard fixture, so trainGrandChildren / assignThreeLevel — the
    * code path that carries IVF once even √k crosses FlatKMax — gets a
    * DuckDB hash-green oracle row at every standard scale, exactly the
    * treatment ann_imi_assign gives depth 2.
    */
  private val Imi3K1 = 4
  private val Imi3K2 = 3
  private val Imi3K3 = 3

  /** DuckDB replay of [[graft.operators.IvfCodebook.trainGrandChildren]]
    * + [[assignThreeLevel]]: a CTE suffix to append after
    * `lloydCtesFor("sup", …)` + [[imiCtes]] (whose sample `suptc`, full
    * components `supcomps`, norms `supnq`, final super scores
    * `sups<iters>`, child-bearing supers `supok`, final mid centroids
    * `chc<iters>` and mid norms `chcnf` it consumes), ending in
    * `assign3(vec_id, list_id)`. Stage for stage in lockstep with the
    * Scala: the SAMPLE descends the two-level tree (level-1 argmax over
    * child-bearing supers, level-2 over the winner's mids — the exact
    * serving path trainGrandChildren assigns through), per-mid grouped
    * components/norms/seed (k3 lowest member vec_ids), `iters` grouped
    * Lloyd rounds with empty-list carry-over, then the FULL corpus
    * three-level descent restricted at level 2 to grandchild-bearing
    * mids and at level 1 to supers that still have such mids — the
    * midOk/supOk discipline of assignThreeLevel — with the same
    * exact-integer dots/norms and (sim DESC, cent_id) tiebreaks
    * everywhere. All MATERIALIZED (the round-10 oracle-CTE rule).
    */
  private def imi3Ctes(k3: Int, iters: Int, sampleEvery: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""g3l1 AS MATERIALIZED (SELECT vec_id, cent_id AS sgrp FROM (
        |  SELECT s.vec_id, s.cent_id,
        |    row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cent_id) AS rn
        |  FROM sups$iters s JOIN supok o ON s.cent_id = o.cent_id
        |  WHERE s.vec_id % $sampleEvery = 0) WHERE rn = 1),
        |g3l2d AS MATERIALIZED (SELECT c.vec_id, ch.cent_id,
        |    CAST(sum(c.qx * ch.cs) AS BIGINT) AS dot
        |  FROM suptc c JOIN g3l1 ON c.vec_id = g3l1.vec_id
        |  JOIN chc$iters ch ON ch.grp = g3l1.sgrp AND ch.dim = c.dim
        |  GROUP BY 1, 2),
        |g3l2s AS MATERIALIZED (SELECT d.vec_id, d.cent_id,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cc.cn2 AS DOUBLE))) AS sim
        |  FROM g3l2d d JOIN supnq n ON d.vec_id = n.vec_id
        |  JOIN chcnf cc ON d.cent_id = cc.cent_id),
        |g3ma AS MATERIALIZED (SELECT vec_id, cent_id AS grp FROM (
        |  SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
        |  FROM g3l2s) WHERE rn = 1),
        |g3gc AS MATERIALIZED (SELECT ma.grp, c.vec_id, c.dim, c.qx
        |  FROM suptc c JOIN g3ma ma USING (vec_id)),
        |g3n AS MATERIALIZED (SELECT grp, vec_id, CAST(sum(qx * qx) AS BIGINT) AS n2
        |  FROM g3gc GROUP BY 1, 2),
        |g3seed AS MATERIALIZED (SELECT grp, vec_id,
        |    row_number() OVER (PARTITION BY grp ORDER BY vec_id) AS rk
        |  FROM g3ma),
        |g3c0 AS MATERIALIZED (SELECT g.grp, g.vec_id AS cent_id, g.dim, g.qx AS cs
        |  FROM g3gc g JOIN g3seed r ON g.grp = r.grp AND g.vec_id = r.vec_id
        |  WHERE r.rk <= $k3)""".stripMargin)
    for (t <- 0 until iters) {
      sb.append(s""",
        |g3cn$t AS MATERIALIZED (SELECT grp, cent_id, CAST(sum(cs * cs) AS BIGINT) AS cn2
        |  FROM g3c$t GROUP BY 1, 2),
        |g3d$t AS MATERIALIZED (SELECT g.grp, g.vec_id, c.cent_id,
        |    CAST(sum(g.qx * c.cs) AS BIGINT) AS dot
        |  FROM g3gc g JOIN g3c$t c ON g.grp = c.grp AND g.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |g3s$t AS MATERIALIZED (SELECT d.grp, d.vec_id, d.cent_id,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cc.cn2 AS DOUBLE))) AS sim
        |  FROM g3d$t d JOIN g3n n ON d.grp = n.grp AND d.vec_id = n.vec_id
        |  JOIN g3cn$t cc ON d.grp = cc.grp AND d.cent_id = cc.cent_id),
        |g3r$t AS MATERIALIZED (SELECT grp, vec_id, cent_id,
        |    row_number() OVER (PARTITION BY grp, vec_id ORDER BY sim DESC, cent_id) AS rn
        |  FROM g3s$t),
        |g3a$t AS MATERIALIZED (SELECT grp, vec_id, cent_id AS list_id FROM g3r$t WHERE rn = 1),
        |g3m${t + 1} AS MATERIALIZED (SELECT g.grp, a.list_id AS cent_id, g.dim,
        |    CAST(sum(g.qx) AS BIGINT) AS cs_new
        |  FROM g3gc g JOIN g3a$t a ON g.grp = a.grp AND g.vec_id = a.vec_id
        |  GROUP BY 1, 2, 3),
        |g3c${t + 1} AS MATERIALIZED (SELECT c.grp, c.cent_id, c.dim,
        |    coalesce(m.cs_new, c.cs) AS cs
        |  FROM g3c$t c LEFT JOIN g3m${t + 1} m
        |    ON c.grp = m.grp AND c.cent_id = m.cent_id AND c.dim = m.dim)""".stripMargin)
    }
    sb.append(s""",
      |g3midok AS MATERIALIZED (SELECT DISTINCT grp AS cent_id FROM g3c$iters),
      |g3supok AS MATERIALIZED (SELECT DISTINCT ch.grp AS cent_id
      |  FROM chc$iters ch JOIN g3midok mo ON ch.cent_id = mo.cent_id),
      |g3fl1 AS MATERIALIZED (SELECT vec_id, cent_id AS sgrp FROM (
      |  SELECT s.vec_id, s.cent_id,
      |    row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.cent_id) AS rn
      |  FROM sups$iters s JOIN g3supok o ON s.cent_id = o.cent_id) WHERE rn = 1),
      |g3fl2d AS MATERIALIZED (SELECT c.vec_id, ch.cent_id,
      |    CAST(sum(c.qx * ch.cs) AS BIGINT) AS dot
      |  FROM supcomps c JOIN g3fl1 ON c.vec_id = g3fl1.vec_id
      |  JOIN chc$iters ch ON ch.grp = g3fl1.sgrp AND ch.dim = c.dim
      |  JOIN g3midok mo ON ch.cent_id = mo.cent_id
      |  GROUP BY 1, 2),
      |g3fl2s AS MATERIALIZED (SELECT d.vec_id, d.cent_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cc.cn2 AS DOUBLE))) AS sim
      |  FROM g3fl2d d JOIN supnq n ON d.vec_id = n.vec_id
      |  JOIN chcnf cc ON d.cent_id = cc.cent_id),
      |g3fmid AS MATERIALIZED (SELECT vec_id, cent_id AS grp FROM (
      |  SELECT vec_id, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
      |  FROM g3fl2s) WHERE rn = 1),
      |g3cnf AS MATERIALIZED (SELECT cent_id, CAST(sum(cs * cs) AS BIGINT) AS cn2
      |  FROM g3c$iters GROUP BY 1),
      |g3l3d AS MATERIALIZED (SELECT c.vec_id, gc.cent_id,
      |    CAST(sum(c.qx * gc.cs) AS BIGINT) AS dot
      |  FROM supcomps c JOIN g3fmid ON c.vec_id = g3fmid.vec_id
      |  JOIN g3c$iters gc ON gc.grp = g3fmid.grp AND gc.dim = c.dim
      |  GROUP BY 1, 2),
      |g3l3s AS MATERIALIZED (SELECT d.vec_id, d.cent_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cc.cn2 AS DOUBLE))) AS sim
      |  FROM g3l3d d JOIN supnq n ON d.vec_id = n.vec_id
      |  JOIN g3cnf cc ON d.cent_id = cc.cent_id),
      |assign3 AS MATERIALIZED (SELECT vec_id, cent_id AS list_id FROM (
      |  SELECT vec_id, cent_id,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
      |  FROM g3l3s) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** [[lloydCtes]] generalized for product quantization: every CTE name
    * carries `pfx` so several independent Lloyd chains (one per PQ
    * subspace, each over a SLICED embedding relation `srcRel`) can share
    * one WITH clause without colliding.
    */
  private def lloydCtesFor(pfx: String, srcRel: String, k: Int, iters: Int,
      sampleEvery: Int): String = {
    // Every CTE is MATERIALIZED: downstream suffixes (imiCtes, probe/assign
    // stages) reference these names repeatedly, and DuckDB inlines plain
    // CTEs — re-executing the whole Lloyd chain once per reference. The
    // round-9 gate loss traced to exactly that (ann_imi_assign ~10 min at
    // sf0.01 un-hinted vs 0.4 s materialized, identical rows).
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}comps AS MATERIALIZED (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM $srcRel),
        |${pfx}tc AS MATERIALIZED (SELECT * FROM ${pfx}comps WHERE vec_id % $sampleEvery = 0),
        |${pfx}nq AS MATERIALIZED (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS n2 FROM ${pfx}comps GROUP BY 1),
        |${pfx}c0 AS MATERIALIZED (SELECT vec_id AS cent_id, dim, qx AS cs FROM ${pfx}comps WHERE vec_id < $k)""".stripMargin)
    for (t <- 0 to iters) {
      // training rounds (t < iters) assign only the SAMPLE; the final
      // round scores the FULL corpus against the trained centroids
      val src = if (t < iters) s"${pfx}tc" else s"${pfx}comps"
      sb.append(s""",
        |${pfx}cn$t AS MATERIALIZED (SELECT cent_id, CAST(sum(cs * cs) AS BIGINT) AS cn2 FROM ${pfx}c$t GROUP BY 1),
        |${pfx}d$t AS MATERIALIZED (SELECT vec_id, cent_id, CAST(sum(qx * cs) AS BIGINT) AS dot
        |  FROM $src JOIN ${pfx}c$t USING (dim) GROUP BY 1, 2),
        |${pfx}s$t AS MATERIALIZED (SELECT ${pfx}d$t.vec_id, ${pfx}d$t.cent_id,
        |    CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE))) AS sim
        |  FROM ${pfx}d$t JOIN ${pfx}nq ON ${pfx}d$t.vec_id = ${pfx}nq.vec_id JOIN ${pfx}cn$t ON ${pfx}d$t.cent_id = ${pfx}cn$t.cent_id),
        |${pfx}r$t AS MATERIALIZED (SELECT vec_id, cent_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
        |  FROM ${pfx}s$t)""".stripMargin)
      if (t < iters) sb.append(s""",
        |${pfx}a$t AS MATERIALIZED (SELECT vec_id, cent_id AS list_id FROM ${pfx}r$t WHERE rn = 1),
        |${pfx}m${t + 1} AS MATERIALIZED (SELECT list_id AS cent_id, dim, CAST(sum(qx) AS BIGINT) AS cs_new
        |  FROM ${pfx}tc JOIN ${pfx}a$t USING (vec_id) GROUP BY 1, 2),
        |${pfx}c${t + 1} AS MATERIALIZED (SELECT ${pfx}c$t.cent_id, ${pfx}c$t.dim, coalesce(${pfx}m${t + 1}.cs_new, ${pfx}c$t.cs) AS cs
        |  FROM ${pfx}c$t LEFT JOIN ${pfx}m${t + 1}
        |    ON ${pfx}c$t.cent_id = ${pfx}m${t + 1}.cent_id AND ${pfx}c$t.dim = ${pfx}m${t + 1}.dim)""".stripMargin)
    }
    sb.toString
  }

  /** Contrastive-mining anchor batch (`vec_id < 8`) and probe width —
    * shared by the exact and probe-bounded paths so their outputs are
    * comparable pair-for-pair. nprobe=8 is the STATED operating point
    * (round-12): the measured dial curve at sf0.01 is nprobe 2/4/6/8 →
    * hard-negative recall 0.06/0.44/0.50/0.63 vs the exact path
    * (SCALING.md §8), and the adopted target is recall ≥ 0.6 — hard
    * negatives need hardness, not completeness, but below ~0.6 the
    * probe path starts replacing near-boundary negatives with easier
    * ones from farther lists, which dilutes the gradient signal the
    * mining exists to capture. `corpus_contrastive_recall` re-attests
    * the number every gate run. */
  private val ContrastiveAnchors = 8
  private val ContrastiveNprobe = 8

  /** Contrastive pair mining, EXACT path: every anchor scored against the
    * full corpus. Broadcast anchors, rank truncation per (anchor, role).
    * O(|anchors|·n) per batch — kept as the recall GROUND TRUTH the
    * probe-bounded plan (`contrastiveProbePairs`) is audited against,
    * the same discipline as `ann_recall_audit`'s exact fixture. */
  private def contrastiveExactPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val va = corpusAssignment(s, d).join(v, "vec_id")
    val anchors = va.filter(col("vec_id") < ContrastiveAnchors)
      .select(col("vec_id").as("anchor_id"), col("list_id").as("list_a"),
        col("embedding").as("ea"))
    val cand = va.select(col("vec_id").as("pair_id"),
      col("list_id").as("list_b"), col("embedding").as("eb"))
    val scored = broadcast(anchors)
      .join(cand, col("anchor_id") =!= col("pair_id"))
      .withColumn("cosine", expr("quant_cosine_sim(ea, eb)"))
      .withColumn("role",
        when(col("list_a") === col("list_b"), lit("pos"))
          .otherwise(lit("neg")))
    val w = Window.partitionBy("anchor_id", "role")
      .orderBy(col("cosine").desc, col("pair_id"))
    scored.select(col("anchor_id"), col("pair_id"), col("role"),
        col("cosine"), row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 2)
  }

  /** Contrastive pair mining, PROBE-BOUNDED path: hard-negative
    * candidates come from the anchor's nprobe nearest IVF lists under the
    * shared trained codebook — the `ann_ivfpq_topk` shape (probe lists →
    * shortlist → exact re-rank) applied to mining instead of search.
    * Per-anchor cost is k centroid dots + ~|corpus|·nprobe/lists exact
    * cosines, never a full corpus scan — the 100 TB plan for every
    * training mini-batch. Positives are by construction identical to the
    * exact path's: the anchor's ASSIGNED list is explicitly unioned into
    * the probe set (standard IVF practice — in the flat regime it is
    * probe rank 1 anyway, but the union keeps the invariant when the
    * corpus assignment runs multi-level descent at scale), and 'pos'
    * candidates are exactly that list's members either way. Only the
    * negative set is approximate; `corpus_contrastive_recall` measures it. */
  private def contrastiveProbePairs(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IvfCodebook
    graft.functions.VectorFunctions.register(s)
    val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val asg = corpusAssignment(s, d)
    val anchors = v.filter(col("vec_id") < ContrastiveAnchors)
    // per-anchor nprobe nearest coarse lists: k centroid dots per anchor
    // against the broadcast trained codebook (probeLists' computation,
    // widened to the mining anchor batch)
    val cm = IvfCodebook.comps(anchors)
    val sims = IvfCodebook.similarities(cm, IvfCodebook.norms(cm),
      broadcast(trainedCodebook(s, d)))
    val wNearest = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("cent_id"))
    val probeRanked = sims.withColumn("rn", row_number().over(wNearest))
      .filter(col("rn") <= ContrastiveNprobe)
      .select(col("vec_id").as("anchor_id"), col("cent_id").as("list_id"))
    val alist = asg.filter(col("vec_id") < ContrastiveAnchors)
      .select(col("vec_id").as("anchor_id"), col("list_id").as("list_a"))
    // standard IVF practice: the anchor's ASSIGNED list is always probed.
    // In the flat regime (imiDepth=1, k ≤ 64) it is probe rank 1 anyway,
    // but at scaled sweeps corpusAssignment switches to multi-level
    // descent while this ranking is flat over the flattened codebook —
    // without the union an anchor's own list could fall outside the
    // probe set and its positives silently vanish.
    val probe = probeRanked
      .unionByName(alist.select(col("anchor_id"),
        col("list_a").as("list_id")))
      .distinct()
    // candidates = members of the probed lists only (each corpus vector
    // lives in exactly one list, so no (anchor, pair) duplicates); the
    // tiny probe table broadcasts into the partitioned assignment — the
    // corpus is never re-shuffled
    val cand = broadcast(probe).join(asg, "list_id")
      .filter(col("vec_id") =!= col("anchor_id"))
      .join(broadcast(alist), "anchor_id")
      .withColumn("role",
        when(col("list_id") === col("list_a"), lit("pos"))
          .otherwise(lit("neg")))
      .select(col("anchor_id"), col("vec_id").as("pair_id"), col("role"))
    val ae = anchors.select(col("vec_id").as("anchor_id"),
      col("embedding").as("ea"))
    val pe = v.select(col("vec_id").as("pair_id"), col("embedding").as("eb"))
    val w = Window.partitionBy("anchor_id", "role")
      .orderBy(col("cosine").desc, col("pair_id"))
    cand.join(broadcast(ae), "anchor_id").join(pe, "pair_id")
      .withColumn("cosine", expr("quant_cosine_sim(ea, eb)"))
      .select(col("anchor_id"), col("pair_id"), col("role"), col("cosine"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 2)
  }

  // test-only visibility bridges (CorpusOpsSpec asserts probe positives
  // match the exact path's and the negative candidate set stayed bounded)
  private[graft] def contrastiveExactForTest(s: SparkSession, d: String): DataFrame =
    contrastiveExactPairs(s, d)
  private[graft] def contrastiveProbeForTest(s: SparkSession, d: String): DataFrame =
    contrastiveProbePairs(s, d)

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-10 for query vectors vec_id < 5, via the
    // native QuantizedCosine expression (bit-identical to the SQL lambda
    // chain the oracle runs, ~6x faster — one fused codegen loop per pair).
    QueryDef("ann_cosine_topk",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qq"))
        val pairs = broadcast(q).join(v, col("query_id") =!= col("vec_id"))
          .withColumn("cosine", expr("quant_cosine_sim(qq, embedding)"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("vec_id"))
        pairs.select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cosine"), row_number().over(w).cast("long").as("rank"))
          .filter(col("rank") <= 10)
      },
      Some("""WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |p AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  CAST(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  q.n2 AS qn2, b.n2 AS bn2
        |  FROM n q JOIN n b ON q.vec_id < 5 AND q.vec_id <> b.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE))) AS cosine
        |  FROM p)
        |SELECT * FROM (SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM r) WHERE rank <= 10""".stripMargin)),

    // Brute-force cosine top-10 via the NATIVE codegen'd expression
    // (graft.functions.CosineSimilarity) — the production hot path: one
    // fused loop per pair inside whole-stage codegen, no per-row array
    // allocation. Oracle-eligible since round 8: the score is rounded at
    // the OUTPUT BOUNDARY to integer micros (the text_bm25_search ln
    // treatment) and the ranking orders by the ROUNDED value with a
    // neighbor_id tiebreak in both engines, so the double accumulation-
    // order difference between Spark and DuckDB (~1e-15, six orders of
    // magnitude under the 1e-6 grid) cannot move a hash. The 5e-7
    // rounding perturbation is far below the fixture's neighbor
    // separation, so the ranking itself is unchanged (VectorFunctionsSpec
    // still pins it against the 1e-4-quantized twin).
    QueryDef("ann_cosine_native",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val q = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val pairs = broadcast(q).join(v, col("query_id") =!= col("vec_id"))
          .withColumn("cosine_micro", expr(
            "CAST(round(cosine_sim(qe, embedding) * 1000000) AS BIGINT)"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine_micro").desc, col("vec_id"))
        pairs.select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("cosine_micro"), row_number().over(w).cast("long").as("rank"))
          .filter(col("rank") <= 10)
      },
      Some("""WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x * x)) AS n2 FROM v),
        |p AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(q.e) + 1), i -> q.e[i] * b.e[i])) AS dot,
        |  q.n2 AS qn2, b.n2 AS bn2
        |  FROM n q JOIN n b ON q.vec_id < 5 AND q.vec_id <> b.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(round(dot / sqrt(qn2 * bn2) * 1000000) AS BIGINT) AS cosine_micro
        |  FROM p)
        |SELECT * FROM (SELECT query_id, neighbor_id, cosine_micro,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine_micro DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM r) WHERE rank <= 10""".stripMargin)),

    // Embedding-cosine near-dup, EXACT form over a BOUNDED probe set: the
    // 128 lowest vec_ids vs the whole corpus. The probe side is broadcast,
    // so the plan is O(|probe|·n) — linear in the corpus, never all-pairs
    // (the corpus-wide dedup path is dedup_embedding_lsh below; this exact
    // fixture is what you run to audit LSH recall on a sample). An
    // unbounded all-pairs self-join is the 100 TB anti-pattern and is
    // deliberately NOT registered.
    QueryDef("dedup_embedding_cosine",
      (s, d) => embeddingCosine(s, d),
      Some("""WITH v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  a.n2 AS n2a, b.n2 AS n2b
        |  FROM n a JOIN n b ON a.vec_id < 128 AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cosine
        |FROM p
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.4""".stripMargin)),

    // The composed 100 TB near-dup path: MULTI-TABLE LSH candidate join
    // (4 tables × 4 hyperplanes — at cosine 0.4 a single 8-plane table
    // collides ~2.5% of true pairs; four 4-plane tables ~60%, the standard
    // recall amplification), then exact quantized cosine verify within
    // candidates. Never an all-pairs join; the cost dial is (tables, planes).
    QueryDef("dedup_embedding_lsh",
      (s, d) => embeddingLsh(s, d),
      Some(s"""WITH planes AS (
        |  SELECT p, dim,
        |    CASE WHEN instr('02468ace',
        |      substr(sha256(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)) > 0
        |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS w
        |  FROM (SELECT unnest(range(0, 16)) AS p),
        |       (SELECT unnest(range(1, 65)) AS dim)),
        |comps AS (SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM embeddings),
        |proj AS (SELECT vec_id, p, CAST(sum(w * qx) AS BIGINT) AS proj
        |  FROM comps JOIN planes USING (dim) GROUP BY 1, 2),
        |tb AS (SELECT vec_id, p // 4 AS t,
        |  CAST(sum((CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << CAST(p % 4 AS INT)) AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1, 2),
        |tstat AS (SELECT t, bucket, count(*) AS n_b, min(vec_id) AS rep
        |  FROM tb GROUP BY t, bucket),
        |tcool AS (SELECT t, bucket FROM tstat WHERE n_b <= $LshBucketCap),
        |tok AS (SELECT tb.* FROM tb JOIN tcool USING (t, bucket)),
        |thot AS (SELECT t, bucket, rep FROM tstat WHERE n_b > $LshBucketCap),
        |cand AS (SELECT DISTINCT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM tok a JOIN tok b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  UNION ALL
        |  SELECT h.rep AS vec_a, tb.vec_id AS vec_b
        |  FROM tb JOIN thot h USING (t, bucket)
        |  WHERE tb.vec_id <> h.rep)),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |p2 AS (SELECT vec_a, vec_b,
        |  CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  a.n2 AS n2a, b.n2 AS n2b
        |  FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id)
        |SELECT vec_a, vec_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cosine
        |FROM p2
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.4""".stripMargin)),

    // IVF (inverted-file) ANN — the other classic scale path next to LSH:
    // a coarse codebook quantizes the corpus into lists, each vector is
    // assigned to its nearest centroid, and a query probes only its
    // nprobe=4 closest lists, exact-ranking within them. The codebook is
    // TRAINED: deterministic fixed-iteration Lloyd over integer-quantized
    // vectors (graft.operators.IvfCodebook — centroids are componentwise
    // integer sums, seeded by the 16 lowest-id vectors, 2 iterations, the
    // DuckDB oracle replays the identical iterations), which is what
    // balances list sizes and makes nprobe/lists the real cost dial.
    // Search cost is O(centroids + corpus·nprobe/lists) instead of
    // O(corpus); the trained codebook is a collected k·dims-row local
    // table (the codebook broadcast every IVF performs), so every join is
    // a broadcast of a tiny side — the corpus-sized assignment scan is
    // touched once per training iteration plus once at search.
    QueryDef("ann_ivf_topk",
      (s, d) => {
        import graft.operators.IvfCodebook
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val cm = IvfCodebook.comps(v)
        val nm = IvfCodebook.norms(cm)
        val trained = broadcast(trainedCodebook(s, d))
        val sims = IvfCodebook.similarities(cm, nm, trained)
        val wNearest = Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("cent_id"))
        // list structure = the SHARED persisted full-corpus assignment
        // (IvfCodebook.assign is the same argmax/tiebreak as wNearest)
        val assign = corpusAssignment(s, d)
        val probe = sims.filter(col("vec_id") < 5)
          .withColumn("rn", row_number().over(wNearest))
          .filter(col("rn") <= 4)
          .select(col("vec_id").as("query_id"), col("cent_id").as("list_id"))
        val candp = broadcast(probe).join(assign, "list_id")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
        val qe = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
        val ne = v.select(col("vec_id").as("neighbor_id"), col("embedding").as("nemb"))
        val wRank = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        candp.join(broadcast(qe), "query_id")
          .join(ne, "neighbor_id")
          .withColumn("cosine", expr("quant_cosine_sim(qemb, nemb)"))
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            row_number().over(wRank).cast("long").as("rank"))
          .filter(col("rank") <= 10)
      },
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |probe AS (SELECT vec_id AS query_id, cent_id AS list_id
        |  FROM r2 WHERE vec_id < 5 AND rn <= 4),
        |candp AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |  FROM probe p JOIN assign a ON p.list_id = a.list_id
        |  WHERE a.vec_id <> p.query_id),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |pair AS (SELECT query_id, neighbor_id,
        |  CAST(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  q.n2 AS qn2, b.n2 AS bn2
        |  FROM candp JOIN n q ON query_id = q.vec_id JOIN n b ON neighbor_id = b.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE))) AS cosine
        |  FROM pair)
        |SELECT * FROM (SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM r) WHERE rank <= 10""".stripMargin)),

    // Recall audit closing the LSH loop: the exact bounded-probe pairs
    // (dedup_embedding_cosine) are the ground truth; how many of them does
    // the corpus-wide LSH+verify path (dedup_embedding_lsh) find? This is
    // the query you run on a sample whenever (tables, planes) change —
    // silent recall collapse becomes a number, not a guess. Exact-oracled:
    // both sides are deterministic, so found/total is too.
    QueryDef("ann_recall_audit",
      (s, d) => {
        val truth = embeddingCosine(s, d).select(col("vec_a"), col("vec_b"))
        // The LSH side is PROBE-BOUNDED: every ground-truth pair has
        // vec_a < 128 (the bounded probe set), so LSH pairs with
        // vec_a >= 128 can never match and need not be generated. The
        // bounded form is exactly embeddingLsh filtered to vec_a < 128
        // (see lshCandidates) but costs O(probe · bucket) instead of the
        // full corpus-wide candidate volume — the audit that guards
        // recall must itself stay bounded (the x30 sweep measured the
        // unbounded audit at 5.8x growth on 3x data).
        val lsh = cosineVerify(s, d, lshCandidates(s, d, Some(128)))
          .select(col("vec_a").as("l_a"), col("vec_b").as("l_b"))
        truth.join(lsh,
            col("vec_a") === col("l_a") && col("vec_b") === col("l_b"), "left")
          .agg(count(lit(1)).cast("long").as("total_true"),
            sum(when(col("l_a").isNotNull, 1L).otherwise(0L))
              .cast("long").as("found"))
          .select(col("total_true"), col("found"),
            when(col("total_true") === 0, lit(0.0))
              .otherwise(col("found").cast("double") /
                col("total_true").cast("double")).as("recall"))
      },
      Some(s"""WITH planes AS (
        |  SELECT p, dim,
        |    CASE WHEN instr('02468ace',
        |      substr(sha256(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)) > 0
        |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS w
        |  FROM (SELECT unnest(range(0, 16)) AS p),
        |       (SELECT unnest(range(1, 65)) AS dim)),
        |comps AS (SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM embeddings),
        |proj AS (SELECT vec_id, p, CAST(sum(w * qx) AS BIGINT) AS proj
        |  FROM comps JOIN planes USING (dim) GROUP BY 1, 2),
        |tb AS (SELECT vec_id, p // 4 AS t,
        |  CAST(sum((CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << CAST(p % 4 AS INT)) AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1, 2),
        |tstat AS (SELECT t, bucket, count(*) AS n_b, min(vec_id) AS rep
        |  FROM tb GROUP BY t, bucket),
        |tcool AS (SELECT t, bucket FROM tstat WHERE n_b <= $LshBucketCap),
        |tok AS (SELECT tb.* FROM tb JOIN tcool USING (t, bucket)),
        |thot AS (SELECT t, bucket, rep FROM tstat
        |  WHERE n_b > $LshBucketCap AND rep < 128),
        |cand AS (SELECT DISTINCT vec_a, vec_b FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM tok a JOIN tok b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE a.vec_id < 128
        |  UNION ALL
        |  SELECT h.rep AS vec_a, tb.vec_id AS vec_b
        |  FROM tb JOIN thot h USING (t, bucket)
        |  WHERE tb.vec_id <> h.rep)),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |p2 AS (SELECT vec_a, vec_b,
        |  CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  a.n2 AS n2a, b.n2 AS n2b
        |  FROM cand JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id),
        |lshp AS (SELECT vec_a, vec_b FROM p2
        |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.4),
        |tp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  a.n2 AS n2a, b.n2 AS n2b
        |  FROM n a JOIN n b ON a.vec_id < 128 AND a.vec_id < b.vec_id),
        |truep AS (SELECT vec_a, vec_b FROM tp
        |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.4)
        |SELECT CAST(count(*) AS BIGINT) AS total_true,
        |  CAST(coalesce(sum(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS found,
        |  CASE WHEN count(*) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(CAST(coalesce(sum(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) END AS recall
        |FROM truep t LEFT JOIN lshp l ON t.vec_a = l.vec_a AND t.vec_b = l.vec_b""".stripMargin)),

    // Bucket OCCUPANCY histogram for the embedding-LSH band table — the
    // twin of dedup_simhash_occupancy on the vector side, and the
    // measurement behind the LshBucketCap saturation claim: candidate
    // work is Σ min(n_b, cap)·n_b per (table, bucket), so the occupancy
    // distribution (how much mass sits in the top bins, above the cap)
    // is the number that says whether star-linking is carrying a
    // constant corpus fraction or a vanishing one. Bucket sizes bin by
    // bit length (integer-exact via length(bin(n))); one groupBy over
    // the banding the candidate join already computes.
    QueryDef("ann_lsh_occupancy",
      (s, d) => {
        graft.functions.LshBits.register(s)
        val b = lshTableBits(s, d)
        val tb = table(s, d, "embeddings")
          .select(col("vec_id"),
            expr(s"lsh_bits(embedding, ${4 * b})").as("bits"))
          .select(col("vec_id"),
            explode(sequence(lit(0L), lit(3L))).as("t"), col("bits"))
          .withColumn("bucket", expr(s"(bits >> (t * $b)) & ${(1 << b) - 1}"))
        val stats = tb.groupBy("t", "bucket").agg(count(lit(1)).as("n_b"))
        stats.groupBy(length(bin(col("n_b"))).cast("long").as("bin"))
          .agg(count(lit(1)).as("n_buckets"),
            sum("n_b").cast("long").as("n_vectors"),
            max("n_b").cast("long").as("max_bucket"))
      },
      Some(s"""WITH $LshDialSql,
        |planes AS (
        |  SELECT p, dim,
        |    CASE WHEN instr('02468ace',
        |      substr(sha256(CAST(p AS VARCHAR) || '-' || CAST(dim AS VARCHAR)), 1, 1)) > 0
        |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS w
        |  FROM (SELECT unnest(range(0, 4 * (SELECT bw FROM dial))) AS p),
        |       (SELECT unnest(range(1, 65)) AS dim)),
        |comps AS (SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM embeddings),
        |proj AS MATERIALIZED (SELECT vec_id, p, CAST(sum(w * qx) AS BIGINT) AS proj
        |  FROM comps JOIN planes USING (dim) GROUP BY 1, 2),
        |tb AS (SELECT vec_id, p // (SELECT bw FROM dial) AS t,
        |  CAST(sum((CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << CAST(p % (SELECT bw FROM dial) AS INT)) AS BIGINT) AS bucket
        |  FROM proj GROUP BY 1, 2),
        |tstat AS (SELECT t, bucket, CAST(count(*) AS BIGINT) AS n_b
        |  FROM tb GROUP BY t, bucket)
        |SELECT CAST(len(bin(n_b)) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(n_b) AS BIGINT) AS n_vectors,
        |  CAST(max(n_b) AS BIGINT) AS max_bucket
        |FROM tstat GROUP BY 1""".stripMargin)),


    // Corpus clustering profile over the TRAINED codebook: every vector
    // assigned to its nearest list, then per-list sizes and per-mille
    // share. This is (a) the list-balance diagnostic that tells you
    // whether nprobe/lists is a usable cost dial (a degenerate codebook
    // shows up as one list holding most of the corpus), and (b) the
    // k-means corpus-clustering operator of a curation pipeline (cluster
    // sizes drive mixing/pruning decisions). Shares the persisted trained
    // codebook with ann_ivf_topk — training runs once per session; the
    // profile itself is one broadcast-join pass over the corpus plus a
    // 16-group aggregate.
    QueryDef("corpus_embedding_clusters",
      (s, d) => {
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val assign = corpusAssignment(s, d)
        val total = v.agg(count(lit(1)).as("n_total"))
        assign.groupBy("list_id")
          .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec"))
          .crossJoin(broadcast(total))
          .select(col("list_id"), col("n_vectors"), col("min_vec"),
            expr("CAST((n_vectors * 1000) DIV n_total AS BIGINT)").as("share_pm"))
      },
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |tot AS (SELECT count(*) AS n_total FROM embeddings)
        |SELECT list_id, count(*) AS n_vectors, min(vec_id) AS min_vec,
        |  CAST((count(*) * 1000) // n_total AS BIGINT) AS share_pm
        |FROM assign CROSS JOIN tot GROUP BY list_id, n_total""".stripMargin)),

    // Two-level IMI coarse-quantizer CONTRACT query: force k = 72 (>
    // FlatKMax) on the standard fixture so trainChildren (super-grouped
    // Lloyd) and assignTwoLevel (level-1 argmax over child-bearing
    // supers, level-2 argmax over the winner's children) — the exact
    // code path that carries IVF once list count grows with the corpus —
    // produce a DuckDB-oracled result at every standard scale, not only
    // inside unoracled scaled sweeps. Output is the per-list assignment
    // profile (all-BIGINT: deterministic across engines; the float sim
    // enters only argmax comparisons, the established Lloyd-oracle
    // discipline). The oracle replays super training, sample super
    // assignment, per-super seeded grouped Lloyd, and the two-level
    // descent stage for stage (imiCtes).
    // Contract artifact tags carry a VERSION suffix (_v1): the IndexStore
    // keeps trained artifacts on disk across binary changes, so a change
    // to train/trainChildren/trainGrandChildren must bump the suffix or
    // the gate replays the NEW algorithm in DuckDB against a STALE
    // pre-change artifact — the same dial-in-tag discipline as
    // ivf_tree_r${passes}s2 (round-10 advice).
    QueryDef("ann_imi_assign",
      (s, d) => {
        import graft.operators.IvfCodebook
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val sup = trainedArtifact(s, d, "imi_contract_super_v1", version = 1)(
          IvfCodebook.train(s, v, k = ImiK1, iters = 2, sampleEvery = 4))
        val tree = trainedArtifact(s, d, "imi_contract_tree_v1", version = 1)(
          IvfCodebook.trainChildren(s, v, sup, k2 = ImiK2, iters = 2,
            sampleEvery = 4))
        val cm = IvfCodebook.comps(v)
        IvfCodebook.assignTwoLevel(cm, IvfCodebook.norms(cm), sup, tree)
          .groupBy("list_id")
          .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec"))
      },
      Some(s"""WITH ${lloydCtesFor("sup", "embeddings", ImiK1, 2, 4)},
        |${imiCtes(ImiK2, 2, 4)}
        |SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors,
        |  min(vec_id) AS min_vec
        |FROM assign2 GROUP BY 1""".stripMargin)),

    // Depth-3 coarse-quantizer CONTRACT query — ann_imi_assign's twin
    // one level down: a FORCED small three-level tree (4 supers × 3 mids
    // × 3 grandchildren) on the standard fixture, so trainGrandChildren
    // (sample descends the SERVING two-level path, then per-mid grouped
    // Lloyd) and assignThreeLevel (midOk/supOk-restricted three-level
    // descent) — the code that carries IVF once even √k crosses
    // FlatKMax — produce a DuckDB-oracled result at every standard
    // scale, not only inside the unoracled x300 sweep that first
    // engaged the depth dial. Output is the per-list assignment profile
    // (all-BIGINT; floats enter argmax comparisons only — the
    // established Lloyd-oracle discipline). The oracle replays super
    // training, mid training, the sample's two-level descent, per-mid
    // seeded grouped Lloyd, and the full three-level descent stage for
    // stage (imi3Ctes).
    QueryDef("ann_imi3_assign",
      (s, d) => {
        import graft.operators.IvfCodebook
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val sup = trainedArtifact(s, d, "imi3_contract_super_v1", version = 1)(
          IvfCodebook.train(s, v, k = Imi3K1, iters = 2, sampleEvery = 4))
        val mids = trainedArtifact(s, d, "imi3_contract_mids_v1", version = 1)(
          IvfCodebook.trainChildren(s, v, sup, k2 = Imi3K2, iters = 2,
            sampleEvery = 4))
        val grand = trainedArtifact(s, d, "imi3_contract_grand_v1", version = 1)(
          IvfCodebook.trainGrandChildren(s, v, sup, mids, k3 = Imi3K3,
            iters = 2, sampleEvery = 4))
        val cm = IvfCodebook.comps(v)
        IvfCodebook.assignThreeLevel(cm, IvfCodebook.norms(cm), sup, mids,
            grand)
          .groupBy("list_id")
          .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec"))
      },
      Some(s"""WITH ${lloydCtesFor("sup", "embeddings", Imi3K1, 2, 4)},
        |${imiCtes(Imi3K2, 2, 4)},
        |${imi3Ctes(Imi3K3, 2, 4)}
        |SELECT list_id, CAST(count(*) AS BIGINT) AS n_vectors,
        |  min(vec_id) AS min_vec
        |FROM assign3 GROUP BY 1""".stripMargin)),

    // Semantic deduplication (SemDeDup-style): partition the corpus by the
    // trained k-means codebook, then WITHIN each cluster drop every vector
    // that has ANY lower-id neighbor at quantized cosine >= 0.4 — the
    // dropped neighbor itself included, so on a similarity chain a<b<c
    // (a~b, b~c, a!~c) both b and c drop. That is deliberately STRICTER
    // than the greedy sequential scan (which would keep c): the rule is
    // embarrassingly parallel — one within-list pair join, no sequential
    // dependence — where greedy maximal-independent-set needs an
    // iterative frontier at cluster scale. The cluster partition is what
    // makes this a scale path: the quadratic pair search runs only
    // inside a list (bounded by list size, the codebook's k dial), never
    // across the corpus; cross-list near-dups are the documented recall
    // tradeoff, audited by ann_recall_audit's exact fixture. Survivor
    // properties (CorpusOpsSpec): each list's min id survives, and no
    // two kept vectors in the same list are similar.
    QueryDef("dedup_semantic",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val asg = corpusAssignment(s, d)
        val a = asg.join(v, "vec_id")
          .select(col("list_id"), col("vec_id").as("vec_a"),
            col("embedding").as("ea"))
        val b = asg.join(v, "vec_id")
          .select(col("list_id").as("list_b"), col("vec_id").as("vec_b"),
            col("embedding").as("eb"))
        val dropped = a.join(b,
            col("list_id") === col("list_b") && col("vec_a") < col("vec_b"))
          .withColumn("cosine", expr("quant_cosine_sim(ea, eb)"))
          .filter(col("cosine") >= 0.4)
          .select(col("vec_b").as("vec_id")).distinct()
        asg.join(dropped.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("list_id"),
            when(col("hit").isNull, 1L).otherwise(0L)
              .cast("long").as("kept"))
      },
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |pr AS (SELECT sa.vec_id AS vec_a, sb.vec_id AS vec_b,
        |  CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  a.n2 AS n2a, b.n2 AS n2b
        |  FROM assign sa JOIN assign sb
        |    ON sa.list_id = sb.list_id AND sa.vec_id < sb.vec_id
        |  JOIN n a ON sa.vec_id = a.vec_id JOIN n b ON sb.vec_id = b.vec_id),
        |dropped AS (SELECT DISTINCT vec_b AS vec_id FROM pr
        |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.4)
        |SELECT a.vec_id, a.list_id,
        |  CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM assign a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id""".stripMargin)),

    // Recall audit for SEMANTIC dedup — the missing twin that completes
    // the recall-audit family (MinHash has dedup_recall_audit, ANN has
    // ann_recall_audit, IR has its eval): dedup_semantic's documented
    // tradeoff is that the quadratic pair search runs only WITHIN a
    // coarse list, so a similar pair split across two lists is never
    // evaluated. This audit makes that tradeoff a number: on a bounded
    // anchor sample (vec_id < 64 — the same broadcast-against-corpus
    // shape as the contrastive exact path, O(|anchors|·n)), the exact
    // corpus-wide quantized cosine is the ground truth for duplicate
    // pairs (>= 0.4, the dedup threshold), and `found` counts how many
    // of those pairs share a coarse list — i.e. are visible to the
    // cluster-bounded candidate generation at all. Run whenever the
    // codebook dial (lists, iters, sample) changes.
    QueryDef("dedup_semantic_recall",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val anchors = v.filter(col("vec_id") < 64)
          .select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
        val tru = broadcast(anchors)
          .join(v.select(col("vec_id").as("vec_b"),
            col("embedding").as("eb")), col("vec_a") < col("vec_b"))
          .filter(expr("quant_cosine_sim(ea, eb) >= 0.4"))
          .select("vec_a", "vec_b")
        val asg = corpusAssignment(s, d)
        tru
          .join(asg.select(col("vec_id").as("vec_a"),
            col("list_id").as("la")), "vec_a")
          .join(asg.select(col("vec_id").as("vec_b"),
            col("list_id").as("lb")), "vec_b")
          .agg(count(lit(1)).cast("long").as("total_true"),
            sum(when(col("la") === col("lb"), 1L).otherwise(0L))
              .cast("long").as("found"))
          .select(col("total_true"), col("found"),
            when(col("total_true") === 0, lit(0.0))
              .otherwise(col("found").cast("double") /
                col("total_true").cast("double")).as("recall"))
      },
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |tru AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM n a JOIN n b ON a.vec_id < 64 AND a.vec_id < b.vec_id
        |  WHERE CAST(CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.4),
        |fnd AS (SELECT t.vec_a FROM tru t
        |  JOIN assign sa ON sa.vec_id = t.vec_a
        |  JOIN assign sb ON sb.vec_id = t.vec_b
        |  WHERE sa.list_id = sb.list_id)
        |SELECT CAST((SELECT count(*) FROM tru) AS BIGINT) AS total_true,
        |  CAST((SELECT count(*) FROM fnd) AS BIGINT) AS found,
        |  CASE WHEN (SELECT count(*) FROM tru) = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE CAST((SELECT count(*) FROM fnd) AS DOUBLE)
        |      / (SELECT count(*) FROM tru) END AS recall""".stripMargin)),

    // Contrastive pair MINING — the training-data step for embedding
    // models (SimCLR/SBERT-style): for each anchor, the top positives
    // (nearest SAME-cluster vectors — semantically aligned under the
    // shared trained IVF partition) and the top HARD negatives (nearest
    // DIFFERENT-cluster vectors — the near-boundary examples that carry
    // the gradient signal; random negatives are trivially separable).
    // Composes the shared corpus assignment with the exact
    // integer-quantized cosine, so the whole mining run is bit-
    // deterministic and the oracle replays it. This is the EXACT path —
    // the anchor mini-batch BROADCASTS against the full corpus,
    // O(|anchors|·n) per batch — kept as the recall ground truth for the
    // probe-bounded production plan (`corpus_contrastive_probe`); the
    // audit between them is `corpus_contrastive_recall`.
    QueryDef("corpus_contrastive_pairs",
      (s, d) => contrastiveExactPairs(s, d),
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |sc AS (SELECT a.vec_id AS anchor_id, b.vec_id AS pair_id,
        |  CASE WHEN sa.list_id = sb.list_id THEN 'pos' ELSE 'neg' END AS role,
        |  CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  a.n2 AS n2a, b.n2 AS n2b
        |  FROM n a JOIN n b ON a.vec_id < 8 AND a.vec_id <> b.vec_id
        |  JOIN assign sa ON sa.vec_id = a.vec_id
        |  JOIN assign sb ON sb.vec_id = b.vec_id),
        |r AS (SELECT anchor_id, pair_id, role,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cosine
        |  FROM sc)
        |SELECT * FROM (SELECT anchor_id, pair_id, role, cosine,
        |  CAST(row_number() OVER (PARTITION BY anchor_id, role
        |    ORDER BY cosine DESC, pair_id) AS BIGINT) AS rank
        |  FROM r) WHERE rank <= 2""".stripMargin)),

    // Contrastive mining, PROBE-BOUNDED (the scale path): hard-negative
    // candidates come from the anchor's nprobe=8 nearest IVF lists under
    // the shared trained codebook instead of the full corpus — probe
    // lists → shortlist → exact quantized-cosine re-rank, exactly
    // `ann_ivfpq_topk`'s candidate-generation shape applied to mining.
    // Per anchor: k centroid dots + ~|corpus|·nprobe/lists re-ranks; the
    // corpus is scanned by LIST, never in full, so a 100 TB corpus costs
    // each training mini-batch only its probed fraction. Positives are
    // identical to the exact path's by construction (the anchor's own
    // list is probe rank 1). The oracle replays codebook training, the
    // probe ranking, and the bounded re-rank.
    QueryDef("corpus_contrastive_probe",
      (s, d) => contrastiveProbePairs(s, d),
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |probe AS (SELECT vec_id AS anchor_id, cent_id AS list_id
        |  FROM r2 WHERE vec_id < $ContrastiveAnchors AND rn <= $ContrastiveNprobe
        |  UNION SELECT vec_id AS anchor_id, list_id
        |  FROM assign WHERE vec_id < $ContrastiveAnchors),
        |alist AS (SELECT vec_id AS anchor_id, list_id AS list_a
        |  FROM assign WHERE vec_id < $ContrastiveAnchors),
        |cand AS (SELECT p.anchor_id, a.vec_id AS pair_id,
        |    CASE WHEN a.list_id = al.list_a THEN 'pos' ELSE 'neg' END AS role
        |  FROM probe p JOIN assign a ON p.list_id = a.list_id
        |  JOIN alist al ON p.anchor_id = al.anchor_id
        |  WHERE a.vec_id <> p.anchor_id),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |r AS (SELECT anchor_id, pair_id, role,
        |  CAST(CAST(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * b.qe[i])) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
        |  FROM cand JOIN n q ON anchor_id = q.vec_id JOIN n b ON pair_id = b.vec_id)
        |SELECT * FROM (SELECT anchor_id, pair_id, role, cosine,
        |  CAST(row_number() OVER (PARTITION BY anchor_id, role
        |    ORDER BY cosine DESC, pair_id) AS BIGINT) AS rank
        |  FROM r) WHERE rank <= 2""".stripMargin)),

    // Recall audit closing the mining loop (the `ann_recall_audit`
    // discipline): the exact path's top hard negatives are ground truth;
    // how many does the probe-bounded path recover? Both sides are
    // deterministic, so found/total is exact-oracled — recall collapse
    // after a (codebook, nprobe) change becomes a gate number, not a
    // guess. Positives are excluded: they match by construction.
    QueryDef("corpus_contrastive_recall",
      (s, d) => {
        val exact = contrastiveExactPairs(s, d)
          .filter(col("role") === "neg")
          .select(col("anchor_id"), col("pair_id"))
        val probe = contrastiveProbePairs(s, d)
          .filter(col("role") === "neg")
          .select(col("anchor_id").as("p_a"), col("pair_id").as("p_b"))
        exact.join(probe,
            col("anchor_id") === col("p_a") && col("pair_id") === col("p_b"),
            "left")
          .agg(count(lit(1)).cast("long").as("total_true"),
            sum(when(col("p_a").isNotNull, 1L).otherwise(0L))
              .cast("long").as("found"))
          .select(col("total_true"), col("found"),
            when(col("total_true") === 0, lit(0.0))
              .otherwise(col("found").cast("double") /
                col("total_true").cast("double")).as("recall"))
      },
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |v AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |n AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM v),
        |exsc AS (SELECT a.vec_id AS anchor_id, b.vec_id AS pair_id,
        |  CASE WHEN sa.list_id = sb.list_id THEN 'pos' ELSE 'neg' END AS role,
        |  CAST(CAST(list_sum(list_transform(range(1, len(a.qe) + 1), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < $ContrastiveAnchors AND a.vec_id <> b.vec_id
        |  JOIN assign sa ON sa.vec_id = a.vec_id
        |  JOIN assign sb ON sb.vec_id = b.vec_id),
        |ex AS (SELECT anchor_id, pair_id FROM (SELECT anchor_id, pair_id, role,
        |    row_number() OVER (PARTITION BY anchor_id, role
        |      ORDER BY cosine DESC, pair_id) AS rank FROM exsc) z
        |  WHERE role = 'neg' AND rank <= 2),
        |probe AS (SELECT vec_id AS anchor_id, cent_id AS list_id
        |  FROM r2 WHERE vec_id < $ContrastiveAnchors AND rn <= $ContrastiveNprobe
        |  UNION SELECT vec_id AS anchor_id, list_id
        |  FROM assign WHERE vec_id < $ContrastiveAnchors),
        |alist AS (SELECT vec_id AS anchor_id, list_id AS list_a
        |  FROM assign WHERE vec_id < $ContrastiveAnchors),
        |pcand AS (SELECT p.anchor_id, a.vec_id AS pair_id,
        |    CASE WHEN a.list_id = al.list_a THEN 'pos' ELSE 'neg' END AS role
        |  FROM probe p JOIN assign a ON p.list_id = a.list_id
        |  JOIN alist al ON p.anchor_id = al.anchor_id
        |  WHERE a.vec_id <> p.anchor_id),
        |prsc AS (SELECT anchor_id, pair_id, role,
        |  CAST(CAST(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * b.qe[i])) AS BIGINT) AS DOUBLE)
        |    / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
        |  FROM pcand JOIN n q ON anchor_id = q.vec_id JOIN n b ON pair_id = b.vec_id),
        |pr AS (SELECT anchor_id, pair_id FROM (SELECT anchor_id, pair_id, role,
        |    row_number() OVER (PARTITION BY anchor_id, role
        |      ORDER BY cosine DESC, pair_id) AS rank FROM prsc) z
        |  WHERE role = 'neg' AND rank <= 2)
        |SELECT CAST(count(*) AS BIGINT) AS total_true,
        |  CAST(sum(CASE WHEN pr.anchor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS found,
        |  CASE WHEN count(*) = 0 THEN 0.0
        |    ELSE CAST(sum(CASE WHEN pr.anchor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |  END AS recall
        |FROM ex LEFT JOIN pr
        |  ON ex.anchor_id = pr.anchor_id AND ex.pair_id = pr.pair_id""".stripMargin)),

    // LSH bucketing: 8 deterministic pseudo-random hyperplanes (signs from
    // sha256(plane-dim)), bucket = sign-bit signature. Vectors sharing a
    // bucket are each other's ANN candidates.
    QueryDef("ann_lsh_buckets",
      (s, d) => {
        graft.functions.LshBits.register(s)
        table(s, d, "embeddings")
          .select(col("vec_id"), expr("lsh_bits(embedding, 8)").as("bucket"))
      },
      Some(s"WITH $BucketsSql SELECT vec_id, bucket FROM buckets")),

    // Graph-ANN: deterministic beam search over the NSW-style kNN graph
    // (nswAdjacency) — the third ANN architecture next to brute force and
    // IVF, and the one whose query cost is O(hops · beam · degree)
    // INDEPENDENT of corpus size. Entirely deterministic (fixed entry
    // points, exact integer-quantized cosine, (sim desc, vec_id) total
    // order at every truncation), so the oracle replays the IDENTICAL
    // algorithm — construction, entries, all three hops — and the compare
    // is exact equality, not a recall bound. (Measured recall vs the
    // exact brute force is GraphAnnSpec's job.) Scale shape per hop: the
    // frontier (queries × beam, tiny) BROADCASTS into the partitioned
    // adjacency and the corpus embedding table; the corpus is never
    // re-shuffled and no per-hop state ever exceeds
    // O(queries × visited).
    QueryDef("ann_graph_topk",
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val adj = nswAdjacency(s, d)
        val queries = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val entries = v.orderBy("vec_id").limit(4).select("vec_id")
        // score (query_id, vec_id) candidates: frontier-side broadcast,
        // corpus-side stays partitioned
        def score(cands: DataFrame): DataFrame =
          broadcast(cands).join(v, "vec_id")
            .join(broadcast(queries), "query_id")
            .withColumn("sim", expr("quant_cosine_sim(embedding, qe)"))
            .select("query_id", "vec_id", "sim")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
        var visited = score(
          queries.select("query_id").crossJoin(broadcast(entries)))
        for (_ <- 1 to 3) {
          val frontier = visited
            .withColumn("rn", row_number().over(w)).filter(col("rn") <= 8)
            .select(col("query_id"), col("vec_id").as("src"))
          val nbrs = frontier.join(adj, "src")
            .select(col("query_id"), col("dst").as("vec_id")).distinct()
          visited = visited.unionByName(score(nbrs)).distinct()
        }
        visited
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("rank"), col("vec_id"),
            col("sim").as("cosine"))
      },
      Some {
        // one hop of the replayed beam search: frontier f$p → neighbor
        // set → scored → visited v$r → next frontier f$r
        def hop(r: Int, p: Int): String =
          s""",
          |nb$r AS (SELECT DISTINCT f$p.query_id, adj.dst AS vec_id
          |  FROM f$p JOIN adj ON f$p.vec_id = adj.src),
          |s$r AS (SELECT nb$r.query_id, nb$r.vec_id,
          |    CAST(CAST(list_sum(list_transform(range(1, len(q_qe) + 1),
          |      i -> q_qe[i] * n.qe[i])) AS BIGINT) AS DOUBLE)
          |      / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE))) AS sim
          |  FROM nb$r JOIN qv ON nb$r.query_id = qv.query_id
          |    JOIN n ON nb$r.vec_id = n.vec_id),
          |v$r AS (SELECT * FROM v$p UNION SELECT * FROM s$r),
          |f$r AS (SELECT query_id, vec_id FROM (
          |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
          |      ORDER BY sim DESC, vec_id) AS rn FROM v$r) z WHERE rn <= 8)""".stripMargin
        s"""WITH $NswAdjSql,
        |adj AS (SELECT src, dst FROM adjt),
        |qv AS (SELECT vec_id AS query_id, qe AS q_qe, n2 AS q_n2
        |  FROM n WHERE vec_id < 5),
        |ep AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |v0 AS (SELECT query_id, ep.vec_id,
        |    CAST(CAST(list_sum(list_transform(range(1, len(q_qe) + 1),
        |      i -> q_qe[i] * n.qe[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE))) AS sim
        |  FROM qv CROSS JOIN ep JOIN n ON ep.vec_id = n.vec_id),
        |f0 AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, vec_id) AS rn FROM v0) z WHERE rn <= 8)""".stripMargin +
        hop(1, 0) + hop(2, 1) + hop(3, 2) + """
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, sim AS cosine
        |FROM (SELECT query_id, vec_id, sim, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
        |  FROM v3) z
        |WHERE rank <= 10""".stripMargin
      }),

    // Graph-based semantic dedup: connected components over the NSW
    // adjacency's strong edges (sim ≥ 0.4 — the same verify threshold as
    // the exact and LSH embedding-dedup paths). Composes THREE existing
    // operators without new machinery: the shared persisted kNN graph
    // (its truncated degree bounds the edge count at O(n·6) no matter how
    // dense the similarity structure), min-label propagation with pointer
    // jumping (graft.operators.ConnectedComponents, O(log diameter)
    // rounds), and the broadcast cluster-size join. Against
    // `dedup_semantic` (IVF-cluster-bounded) this is the TRANSITIVE
    // variant: a~b and b~c land in one cluster even when a~c never
    // surfaced — exactly the dedup_clusters-vs-pairwise distinction, now
    // at the embedding level. The oracle replays the same graph and walks
    // the closure with a recursive CTE.
    QueryDef("dedup_graph_clusters",
      (s, d) => {
        val adj = nswAdjacency(s, d)
        val pairs = adj.filter(col("sim") >= 0.4)
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("w"))
          .distinct()
        val (labels, _) = graft.operators.ConnectedComponents.run(pairs)
        val rep = labels
          .select(col("v").as("vec_id"), col("component").as("cluster_id"))
        val sizes = rep.groupBy("cluster_id")
          .agg(count(lit(1)).as("cluster_size"))
        rep.join(broadcast(sizes), "cluster_id")
          .select(col("vec_id"), col("cluster_id"), col("cluster_size"))
      },
      Some(s"""WITH RECURSIVE $NswAdjSql,
        |edges AS MATERIALIZED (SELECT src AS u, dst AS w FROM adjt WHERE sim >= 0.4
        |  UNION SELECT dst, src FROM adjt WHERE sim >= 0.4),
        |verts AS MATERIALIZED (SELECT DISTINCT u AS v FROM edges),
        |reach(v, r) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT rc.v, e.w FROM reach rc JOIN edges e ON e.u = rc.r),
        |rep AS (SELECT v AS vec_id, min(r) AS cluster_id FROM reach GROUP BY v)
        |SELECT vec_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM rep""".stripMargin)),

    // PAGERANK centrality over the shared kNN graph — the graph-analytic
    // reading of the same adjacency the ANN search walks: a document
    // vector cited as a near neighbor by many well-cited vectors is a
    // corpus "hub" (useful as a curation prior — hubs are prototypical,
    // anti-hubs are outliers). Fixed 8 damped rounds in EXACT fixed-point
    // arithmetic: mass is scaled to 10^12, per-edge contributions are
    // pr DIV outdeg and the damping mix is (15·base + 85·inflow) DIV 100
    // — every operation integer, every sum order-free, so Spark and the
    // unrolled DuckDB rounds agree bit-for-bit (the determinism rule that
    // bans floating-point aggregation, applied to an iterative graph
    // kernel). Scale shape per round: one shuffle of O(E) contribution
    // rows into a dst-keyed sum, then a node-keyed left join — the
    // classic synchronous PageRank step; rounds are a fixed constant and
    // at production scale each round's frame would persist (the
    // ConnectedComponents pattern) rather than nest, which at this size
    // Catalyst handles as one 8-deep plan. The top-20 readout rides the
    // distributed prefix-sum ranker — no SinglePartition window.
    QueryDef("graph_pagerank",
      (s, d) => {
        val S = 1000000000000L
        // out-degree rides each edge row (one window over the persisted
        // adjacency, src-partitioned) so every round is ONE equi-join +
        // one dst-keyed sum instead of two joins — per-edge contribution
        // pr DIV od is computed where the edge already lives
        val adj = nswAdjacency(s, d).select(col("src"), col("dst"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("src")).as("od"))
        val nRow = table(s, d, "embeddings").agg(count(lit(1)).as("n"))
        var pr = table(s, d, "embeddings").select(col("vec_id"))
          .crossJoin(broadcast(nRow))
          .select(col("vec_id"), expr(s"CAST($S AS LONG) DIV n").as("pr"),
            col("n"))
        for (_ <- 1 to 8) {
          val contrib = adj
            .join(pr.select(col("vec_id").as("src"), col("pr")), "src")
            .groupBy(col("dst").as("vec_id"))
            .agg(sum(expr("pr DIV od")).as("contrib"))
          pr = pr.join(contrib, Seq("vec_id"), "left")
            .select(col("vec_id"),
              (expr(s"(15 * (CAST($S AS LONG) DIV n)) DIV 100") +
                expr("(85 * coalesce(contrib, CAST(0 AS LONG))) DIV 100"))
                .as("pr"),
              col("n"))
        }
        graft.operators.TotalOrder.globalRank(
            pr.select(col("vec_id"), col("pr").as("pr_scaled"),
              (-col("pr")).as("np")),
            Seq(col("np"), col("vec_id")), "rank", numPartitions = 8)
          .filter(col("rank") <= 20)
          .select(col("rank").cast("long").as("rank"), col("vec_id"),
            col("pr_scaled"))
      },
      Some {
        // every round CTE is MATERIALIZED: a plain CTE would inline into
        // both of its two consumers (the contribution join and the next
        // round's left join), re-evaluating the whole chain — including
        // the graph construction — 2^8 times (the same blow-up the BPE
        // oracle's unrolled rounds guard against)
        val rounds = (1 to 8).map { r =>
          s""",
          |c$r AS MATERIALIZED (SELECT a.dst AS vec_id,
          |    CAST(sum(p.pr // d.od) AS BIGINT) AS contrib
          |  FROM adjm a JOIN pr${r - 1} p ON a.src = p.vec_id
          |  JOIN deg d ON a.src = d.src
          |  GROUP BY a.dst),
          |pr$r AS MATERIALIZED (SELECT p.vec_id,
          |    CAST((15 * (1000000000000 // p.n)) // 100
          |      + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS pr,
          |    p.n
          |  FROM pr${r - 1} p LEFT JOIN c$r c ON p.vec_id = c.vec_id)"""
            .stripMargin
        }.mkString
        s"""WITH $NswAdjSql,
        |adjm AS MATERIALIZED (SELECT src, dst FROM adjt),
        |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS od
        |  FROM adjm GROUP BY src),
        |pn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        |pr0 AS MATERIALIZED (SELECT vec_id,
        |    CAST(1000000000000 // n AS BIGINT) AS pr, n
        |  FROM embeddings, pn)$rounds
        |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
        |  CAST(pr AS BIGINT) AS pr_scaled
        |FROM (SELECT vec_id, pr, row_number() OVER (
        |    ORDER BY pr DESC, vec_id) AS rank FROM pr8) z
        |WHERE rank <= 20""".stripMargin
      }),

    // TRIANGLE COUNTING over the shared kNN graph — the clustering-
    // coefficient primitive (a vector in many triangles sits inside a
    // tight semantic clique; triangle-free vectors are bridges/outliers —
    // the complementary curation signal to PageRank's hub score). The
    // classic distributed plan: orient every undirected edge low→high id,
    // then ordered wedges (a<b)⋈(b<c) close into triangles iff (a,c) is
    // also an edge — each triangle counted exactly once as a<b<c. Two
    // equi-joins on the degree-truncated edge set: per-key fanout is
    // bounded by the graph's max degree (≤12 undirected here), which is
    // the well-known reason degree-capped graphs make triangle counting
    // linear-ish at scale — no node explodes a join key. All-integer, so
    // the per-node participation counts hash-match the oracle's replay.
    QueryDef("graph_triangles",
      (s, d) => {
        val und = nswAdjacency(s, d)
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .filter(col("u") < col("v")).distinct()
        val e1 = und.select(col("u").as("a"), col("v").as("b"))
        val e2 = und.select(col("u").as("b"), col("v").as("c"))
        val e3 = und.select(col("u").as("a"), col("v").as("c"))
        val tris = e1.join(e2, "b").join(e3, Seq("a", "c"))
        tris.select(col("a").as("vec_id"))
          .unionByName(tris.select(col("b").as("vec_id")))
          .unionByName(tris.select(col("c").as("vec_id")))
          .groupBy("vec_id").agg(count(lit(1)).as("n_tri"))
      },
      Some(s"""WITH $NswAdjSql,
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM adjt WHERE src <> dst),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM und e1 JOIN und e2 ON e1.v = e2.u
        |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        |parts AS (SELECT a AS vec_id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_tri
        |FROM parts GROUP BY 1""".stripMargin)),

    // RANDOM-WALK positive mining (the DeepWalk/node2vec sampling step,
    // reduced to deterministic integer dataflow): from each of 32 anchor
    // vectors, walk 3 steps over the shared kNN graph, choosing at every
    // node the neighbor indexed by a hash of (anchor, step, node) — a
    // fixed pseudo-random policy any engine replays bit-identically, the
    // same md5-derived determinism the LSH planes and JL signs use. The
    // (anchor, walked-to) pairs are the positives a skip-gram embedding
    // trainer consumes; contrastive mining (corpus_contrastive_pairs)
    // picks by similarity rank, this picks by graph PROXIMITY — the two
    // standard positive-pair sources. Scale shape per step: the frontier
    // (≤ anchors) broadcasts into the rank-indexed adjacency; the corpus
    // and graph never re-shuffle, and the per-node rank window is bounded
    // by the truncated degree. Walks from anchors absent from the graph
    // die silently — matching the oracle's inner joins.
    QueryDef("corpus_walk_pairs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wRank = Window.partitionBy("src")
          .orderBy(col("sim").desc, col("dst"))
        val radj = nswAdjacency(s, d)
          .withColumn("rn", row_number().over(wRank).cast("long"))
          .withColumn("deg",
            count(lit(1)).over(Window.partitionBy("src")))
          .select("src", "dst", "rn", "deg")
        var frontier = table(s, d, "embeddings")
          .filter(col("vec_id") < 32)
          .select(col("vec_id").as("anchor_id"), col("vec_id").as("cur"))
        var out: Option[org.apache.spark.sql.DataFrame] = None
        for (t <- 1 to 3) {
          val pick = expr(
            s"""conv(substring(md5(concat_ws('_', anchor_id, $t, cur)),
               |1, 4), 16, 10)""".stripMargin).cast("long")
          val step = broadcast(frontier.withColumn("h", pick))
            .join(radj, col("cur") === col("src") &&
              col("rn") === col("h") % col("deg") + 1)
            .select(col("anchor_id"), lit(t.toLong).as("step"),
              col("dst"))
          out = Some(out.map(_.unionByName(step)).getOrElse(step))
          frontier = step.select(col("anchor_id"),
            col("dst").as("cur"))
        }
        out.get.select(col("anchor_id"), col("step"),
          col("dst").as("node_id"))
      },
      Some {
        def hx(k: String, t: Int): String = (1 to 4).map(i =>
          s"(strpos('0123456789abcdef', substr(md5(CAST(f$t.anchor_id AS VARCHAR) || '_' || $t || '_' || CAST(f$t.cur AS VARCHAR)), $i, 1)) - 1) * ${Seq(4096, 256, 16, 1)(i - 1)}")
          .mkString(" + ")
        val steps = (1 to 3).map { t =>
          s""",
          |s$t AS MATERIALIZED (SELECT f$t.anchor_id,
          |    CAST($t AS BIGINT) AS step, radj.dst
          |  FROM f$t JOIN radj ON f$t.cur = radj.src
          |    AND radj.rn = (${hx("", t)}) % radj.deg + 1),
          |f${t + 1} AS (SELECT anchor_id, dst AS cur FROM s$t)"""
            .stripMargin
        }.mkString
        s"""WITH $NswAdjSql,
        |radj AS MATERIALIZED (SELECT src, dst,
        |    CAST(row_number() OVER (PARTITION BY src
        |      ORDER BY sim DESC, dst) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |  FROM adjt),
        |f1 AS (SELECT vec_id AS anchor_id, vec_id AS cur
        |  FROM embeddings WHERE vec_id < 32)$steps
        |SELECT anchor_id, step, dst AS node_id FROM s1
        |UNION ALL SELECT anchor_id, step, dst FROM s2
        |UNION ALL SELECT anchor_id, step, dst FROM s3""".stripMargin
      }),

    // Product quantization — the fourth ANN architecture, and the one
    // that changes the SCAN, not just the candidate set: each vector is
    // compressed to 4 subspace codes + 4 exact subspace norms (here
    // 4 bytes + 4 ints standing in for 64 floats — a 16-64× scan-width
    // reduction), queries precompute a 4×16 lookup table of subspace
    // dots against the trained codebooks, and the ADC (asymmetric
    // distance computation) pass scores the ENTIRE corpus by table
    // lookups over the codes — never touching raw vectors. Raw embeddings
    // are read only for the exact re-rank of the deterministic top-50
    // shortlist, the standard PQ → re-rank production shape. Everything
    // is bit-reproducible: training is the same integer Lloyd as IVF run
    // per subspace (the oracle replays all 4 chains), the ADC term
    // `dot · sqrt(xn2) / sqrt(cn2)` is one fixed-order double expression,
    // the 4 terms are summed in WRITTEN order (t0+t1+t2+t3, never an
    // aggregation whose order an engine chooses), and every truncation
    // tiebreaks on vec_id.
    QueryDef("ann_pq_topk",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val codes = pqCodes(s, d)
        val cb = pqCodebooks(s, d)
        val cn = cb.groupBy("m", "cent_id")
          .agg(sum(col("cs") * col("cs")).as("cn2"))
        // query-side 4×16 ADC lookup table: subspace dots vs every centroid
        val qcomps = v.filter(col("vec_id") < 5)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
          .select(col("vec_id"),
            expr(s"CAST(dim0 DIV $PqSubDims AS BIGINT)").as("m"),
            (col("dim0") % PqSubDims + 1).as("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)").as("qx"))
        val lut = qcomps.join(broadcast(cb), Seq("m", "dim"))
          .groupBy("vec_id", "m", "cent_id")
          .agg(sum(col("qx") * col("cs")).as("dot"))
          .join(broadcast(cn), Seq("m", "cent_id"))
          .select(col("vec_id").as("query_id"), col("m"),
            col("cent_id").as("code"), col("dot"), col("cn2"))
        // ADC scan: codes × lookup table, one fixed-order term per subspace
        val terms = codes.join(broadcast(lut), Seq("m", "code"))
          .withColumn("term", col("dot").cast("double") *
            sqrt(col("xn2").cast("double")) / sqrt(col("cn2").cast("double")))
        val adc = terms.groupBy(col("query_id"), col("vec_id"))
          .agg(sum(when(col("m") === 0, col("term"))).as("t0"),
            sum(when(col("m") === 1, col("term"))).as("t1"),
            sum(when(col("m") === 2, col("term"))).as("t2"),
            sum(when(col("m") === 3, col("term"))).as("t3"),
            sum(col("xn2")).as("xn2t"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("adc", expr("(t0 + t1 + t2 + t3) / sqrt(CAST(xn2t AS DOUBLE))"))
        val wShort = Window.partitionBy("query_id")
          .orderBy(col("adc").desc, col("vec_id"))
        val short = adc.withColumn("srn", row_number().over(wShort))
          .filter(col("srn") <= 50)
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
        val qe = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
        val ne = v.select(col("vec_id").as("neighbor_id"), col("embedding").as("nemb"))
        val wRank = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        short.join(broadcast(qe), "query_id").join(ne, "neighbor_id")
          .withColumn("cosine", expr("quant_cosine_sim(qemb, nemb)"))
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            row_number().over(wRank).cast("long").as("rank"))
          .filter(col("rank") <= 10)
      },
      Some(s"""WITH ${pqLloydAll},
        |codes AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id, cent_id AS code FROM p${m}_r2 WHERE rn = 1")
          .mkString("\n  UNION ALL ")}),
        |xn AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id, n2 AS xn2 FROM p${m}_nq")
          .mkString("\n  UNION ALL ")}),
        |cns AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, cent_id, cn2 FROM p${m}_cn2")
          .mkString("\n  UNION ALL ")}),
        |qd AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id AS query_id, cent_id AS code, dot FROM p${m}_d2 WHERE vec_id < 5")
          .mkString("\n  UNION ALL ")}),
        |terms AS (SELECT q.query_id, c.vec_id, c.m,
        |    CAST(q.dot AS DOUBLE) * sqrt(CAST(x.xn2 AS DOUBLE)) / sqrt(CAST(n.cn2 AS DOUBLE)) AS term,
        |    x.xn2 AS xn2
        |  FROM codes c JOIN qd q ON q.m = c.m AND q.code = c.code
        |  JOIN xn x ON x.m = c.m AND x.vec_id = c.vec_id
        |  JOIN cns n ON n.m = c.m AND n.cent_id = c.code),
        |adc AS (SELECT query_id, vec_id,
        |    sum(CASE WHEN m = 0 THEN term END) AS t0,
        |    sum(CASE WHEN m = 1 THEN term END) AS t1,
        |    sum(CASE WHEN m = 2 THEN term END) AS t2,
        |    sum(CASE WHEN m = 3 THEN term END) AS t3,
        |    CAST(sum(xn2) AS BIGINT) AS xn2t
        |  FROM terms GROUP BY 1, 2),
        |sl AS (SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY (t0 + t1 + t2 + t3) / sqrt(CAST(xn2t AS DOUBLE)) DESC, vec_id) AS srn
        |    FROM adc WHERE vec_id <> query_id) z WHERE srn <= 50),
        |rv AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |rnorm AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM rv),
        |pair AS (SELECT query_id, neighbor_id,
        |  CAST(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  q.n2 AS qn2, b.n2 AS bn2
        |  FROM sl JOIN rnorm q ON query_id = q.vec_id JOIN rnorm b ON neighbor_id = b.vec_id),
        |rr AS (SELECT query_id, neighbor_id,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE))) AS cosine
        |  FROM pair)
        |SELECT * FROM (SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM rr) WHERE rank <= 10""".stripMargin)),

    // IVF-PQ — the composition that runs billion-scale ANN in production
    // (the IVF-ADC design of Jégou et al.'s product-quantization paper):
    // the coarse trained codebook prunes the corpus to nprobe=4 inverted
    // lists (~1/4 of the corpus here), the PQ codes ADC-score ONLY those
    // candidates from the 4×16 lookup table, and raw vectors are touched
    // just for the exact re-rank of the top-20 shortlist. Both quantizers
    // and all intermediate tables (coarse codebook, corpus assignment, PQ
    // codebooks, codes) are the SAME persisted objects the standalone IVF
    // and PQ queries use — at scale these are the index you build once.
    // Cost per query: 16 centroid dots + |corpus|·nprobe/lists code
    // lookups + 20 exact dots, vs |corpus| exact dots brute-force.
    QueryDef("ann_ivfpq_topk",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val probe = probeLists(s, d, nprobe = 4)
        val cand = broadcast(probe).join(corpusAssignment(s, d), "list_id")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"))
        val codes = pqCodes(s, d)
        val cb = pqCodebooks(s, d)
        val cn = cb.groupBy("m", "cent_id")
          .agg(sum(col("cs") * col("cs")).as("cn2"))
        val qcomps = v.filter(col("vec_id") < 5)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "x")))
          .select(col("vec_id"),
            expr(s"CAST(dim0 DIV $PqSubDims AS BIGINT)").as("m"),
            (col("dim0") % PqSubDims + 1).as("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)").as("qx"))
        val lut = qcomps.join(broadcast(cb), Seq("m", "dim"))
          .groupBy("vec_id", "m", "cent_id")
          .agg(sum(col("qx") * col("cs")).as("dot"))
          .join(broadcast(cn), Seq("m", "cent_id"))
          .select(col("vec_id").as("query_id"), col("m"),
            col("cent_id").as("code"), col("dot"), col("cn2"))
        val terms = cand.join(codes, "vec_id")
          .join(broadcast(lut), Seq("query_id", "m", "code"))
          .withColumn("term", col("dot").cast("double") *
            sqrt(col("xn2").cast("double")) / sqrt(col("cn2").cast("double")))
        val adc = terms.groupBy(col("query_id"), col("vec_id"))
          .agg(sum(when(col("m") === 0, col("term"))).as("t0"),
            sum(when(col("m") === 1, col("term"))).as("t1"),
            sum(when(col("m") === 2, col("term"))).as("t2"),
            sum(when(col("m") === 3, col("term"))).as("t3"),
            sum(col("xn2")).as("xn2t"))
          .withColumn("adc", expr("(t0 + t1 + t2 + t3) / sqrt(CAST(xn2t AS DOUBLE))"))
        val wShort = Window.partitionBy("query_id")
          .orderBy(col("adc").desc, col("vec_id"))
        val short = adc.withColumn("srn", row_number().over(wShort))
          .filter(col("srn") <= 20)
          .select(col("query_id"), col("vec_id").as("neighbor_id"))
        val qe = v.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qemb"))
        val ne = v.select(col("vec_id").as("neighbor_id"), col("embedding").as("nemb"))
        val wRank = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        short.join(broadcast(qe), "query_id").join(ne, "neighbor_id")
          .withColumn("cosine", expr("quant_cosine_sim(qemb, nemb)"))
          .select(col("query_id"), col("neighbor_id"), col("cosine"),
            row_number().over(wRank).cast("long").as("rank"))
          .filter(col("rank") <= 10)
      },
      Some(s"""WITH ${lloydCtes(16, 2, 4)},
        |probe AS (SELECT vec_id AS query_id, cent_id AS list_id
        |  FROM r2 WHERE vec_id < 5 AND rn <= 4),
        |assign AS (SELECT vec_id, cent_id AS list_id FROM r2 WHERE rn = 1),
        |cand AS (SELECT p.query_id, a.vec_id
        |  FROM probe p JOIN assign a ON p.list_id = a.list_id
        |  WHERE a.vec_id <> p.query_id),
        |${pqLloydAll},
        |codes AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id, cent_id AS code FROM p${m}_r2 WHERE rn = 1")
          .mkString("\n  UNION ALL ")}),
        |xn AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id, n2 AS xn2 FROM p${m}_nq")
          .mkString("\n  UNION ALL ")}),
        |cns AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, cent_id, cn2 FROM p${m}_cn2")
          .mkString("\n  UNION ALL ")}),
        |qd AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id AS query_id, cent_id AS code, dot FROM p${m}_d2 WHERE vec_id < 5")
          .mkString("\n  UNION ALL ")}),
        |terms AS (SELECT q.query_id, c.vec_id, c.m,
        |    CAST(q.dot AS DOUBLE) * sqrt(CAST(x.xn2 AS DOUBLE)) / sqrt(CAST(n.cn2 AS DOUBLE)) AS term,
        |    x.xn2 AS xn2
        |  FROM cand cd
        |  JOIN codes c ON c.vec_id = cd.vec_id
        |  JOIN qd q ON q.query_id = cd.query_id AND q.m = c.m AND q.code = c.code
        |  JOIN xn x ON x.m = c.m AND x.vec_id = c.vec_id
        |  JOIN cns n ON n.m = c.m AND n.cent_id = c.code),
        |adc AS (SELECT query_id, vec_id,
        |    sum(CASE WHEN m = 0 THEN term END) AS t0,
        |    sum(CASE WHEN m = 1 THEN term END) AS t1,
        |    sum(CASE WHEN m = 2 THEN term END) AS t2,
        |    sum(CASE WHEN m = 3 THEN term END) AS t3,
        |    CAST(sum(xn2) AS BIGINT) AS xn2t
        |  FROM terms GROUP BY 1, 2),
        |sl AS (SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY (t0 + t1 + t2 + t3) / sqrt(CAST(xn2t AS DOUBLE)) DESC, vec_id) AS srn
        |    FROM adc) z WHERE srn <= 20),
        |rv AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |rnorm AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM rv),
        |pair AS (SELECT query_id, neighbor_id,
        |  CAST(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * b.qe[i])) AS BIGINT) AS dot,
        |  q.n2 AS qn2, b.n2 AS bn2
        |  FROM sl JOIN rnorm q ON query_id = q.vec_id JOIN rnorm b ON neighbor_id = b.vec_id),
        |rr AS (SELECT query_id, neighbor_id,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE))) AS cosine
        |  FROM pair)
        |SELECT * FROM (SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM rr) WHERE rank <= 10""".stripMargin)),

    // PQ codebook balance — the compression-quality diagnostic mirroring
    // corpus_embedding_clusters for the coarse quantizer: per (subspace,
    // code) population. A usable PQ codebook spreads the corpus across
    // codes (one dominant code per subspace = that subspace carries ~0
    // bits of information and reconstruction collapses); this is the
    // number to watch when retraining. Shares the persisted codes — zero
    // extra training or scan cost.
    QueryDef("pq_code_balance",
      (s, d) => pqCodes(s, d)
        .groupBy("m", "code")
        .agg(count(lit(1)).cast("long").as("n_vecs")),
      Some(s"""WITH ${pqLloydAll},
        |codes AS (${(0 until PqM).map(m =>
          s"SELECT CAST($m AS BIGINT) AS m, vec_id, cent_id AS code FROM p${m}_r2 WHERE rn = 1")
          .mkString("\n  UNION ALL ")})
        |SELECT m, code, CAST(count(*) AS BIGINT) AS n_vecs
        |FROM codes GROUP BY 1, 2""".stripMargin)),

    // Johnson-Lindenstrauss random projection 64 → 16 dims — the
    // data-independent dimension reduction a 100 TB embedding corpus can
    // afford: no training, no second pass, each vector projects
    // independently (matrix-free: the ±1 entry for (output row j, input
    // dim d) derives from md5(j || '_' || d), so the "matrix" is a
    // broadcast 16×64 sign table both engines regenerate identically).
    // Arithmetic is exact-integer end to end: projected component
    // p(v, j) = Σ_d sign(j,d)·qx(v,d) over the repo-standard quantized
    // components. Output is the long-form (vec_id, j, p) table.
    QueryDef("embedding_project",
      (s, d) => {
        val v = table(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        val comps = graft.operators.IvfCodebook.comps(v)
        comps.join(broadcast(jlSigns(s)), "dim")
          .groupBy("vec_id", "j")
          .agg(sum(col("sg") * col("qx")).as("p"))
      },
      Some(s"""WITH $JlSignsSql,
        |c AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM embeddings)
        |SELECT vec_id, j, CAST(sum(sg * qx) AS BIGINT) AS p
        |FROM c JOIN sg USING (dim) GROUP BY 1, 2""".stripMargin)),

    // Distributed PCA by POWER ITERATION — the top principal direction of
    // the (uncentered) embedding matrix, the classic preprocessing step
    // before whitening/OPQ/dimension-cut. Each round is textbook
    // distributed linear algebra: v ← Xᵀ(Xv)/‖·‖ computed as ONE
    // map-side-combined aggregation producing 64 longs (per row: the dot
    // product s = x·v, then 64 quantized contributions x_j·s), so at
    // 100 TB every round is a single pass with a 64-cell mergeable
    // partial state and the driver holds 64 longs — the same bounded-
    // collect discipline as BPE/IvfCodebook/the classifier. Determinism
    // is engineered, not assumed: per-row contributions quantize to
    // integer MICROS scaled by 1/N (long sums are order-free AND the
    // scale bound is independent of corpus size), the norm accumulates
    // s_j² in a FIXED left-associative double chain mirrored
    // operand-for-operand by the oracle, and sqrt/division are
    // IEEE-exactly-rounded in both engines. v₀ = all-ones; 8 rounds
    // (enough for the fixture's eigengap — TrainingDataOpsSpec measures
    // alignment with a long-horizon reference iteration).
    QueryDef("embedding_pca_power",
      (s, d) => {
        import s.implicits._
        pcaLoadings(s, d).toSeq.zipWithIndex
          .map { case (vj, i) => ((i + 1).toLong, vj) }
          .toDF("component", "loading")
      },
      Some(pcaOracleSql)),

    // PCA PROJECTION — apply the trained principal direction to every
    // vector: the score a curation pipeline thresholds/buckets on (and
    // the first step of an OPQ-style rotation). One corpus pass; the
    // 64 loadings travel as a literal array (bounded driver state); the
    // per-row dot product is the SAME fixed left-associative fold the
    // training rounds and the oracle use, quantized to micros so the
    // output column is integer-exact.
    QueryDef("embedding_pca_project",
      (s, d) => {
        val v = pcaLoadings(s, d)
        val vLit = v.map(x => s"CAST(${x}D AS DOUBLE)")
          .mkString("array(", ", ", ")")
        val sHof = expr(s"""aggregate(sequence(1, $PcaDims),
          |CAST(0.0 AS DOUBLE),
          |(acc, j) -> acc + CAST(element_at(embedding, j) AS DOUBLE)
          |  * element_at($vLit, j))""".stripMargin)
        table(s, d, "embeddings")
          .select(col("vec_id"),
            round(sHof * lit(1000000.0)).cast("long").as("proj_micros"))
      },
      Some(pcaProjectOracleSql)),

    // The JL guarantee, MEASURED (the recall-audit discipline applied to
    // dimension reduction): for every pair in a bounded 50-vector sample,
    // compare the projected squared distance against k·(original squared
    // distance) — E[d2_proj] = k·d2_orig for a ±1 projection — and count
    // pairs preserved within ±50%. ENTIRELY integer: both distances are
    // integer sums, the predicate is 2·|d2p − k·d2o| ≤ k·d2o, so the
    // oracle is exact, no floating point anywhere. A projection bug
    // (sign drift, dimension mixup) collapses n_preserved instantly.
    QueryDef("embedding_project_audit",
      (s, d) => {
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < 50)
        val comps = graft.operators.IvfCodebook.comps(v)
        val proj = comps.join(broadcast(jlSigns(s)), "dim")
          .groupBy("vec_id", "j")
          .agg(sum(col("sg") * col("qx")).as("p"))
        val dproj = proj.select(col("vec_id").as("va"), col("j"), col("p").as("pa"))
          .join(proj.select(col("vec_id").as("vb"), col("j"), col("p").as("pb")), "j")
          .filter(col("va") < col("vb"))
          .groupBy("va", "vb")
          .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb"))).as("d2p"))
        val dorig = comps.select(col("vec_id").as("va"), col("dim"), col("qx").as("qa"))
          .join(comps.select(col("vec_id").as("vb"), col("dim"), col("qx").as("qb")), "dim")
          .filter(col("va") < col("vb"))
          .groupBy("va", "vb")
          .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("d2o"))
        dproj.join(dorig, Seq("va", "vb"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(when(abs(col("d2p") - lit(16L) * col("d2o")) * 2 <=
              lit(16L) * col("d2o"), 1L).otherwise(0L)).as("n_preserved"))
      },
      Some(s"""WITH $JlSignsSql,
        |c AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM embeddings WHERE vec_id < 50),
        |proj AS (SELECT vec_id, j, CAST(sum(sg * qx) AS BIGINT) AS p
        |  FROM c JOIN sg USING (dim) GROUP BY 1, 2),
        |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |    CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS d2p
        |  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |dd AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |    CAST(sum((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2o
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN 2 * abs(d2p - 16 * d2o) <= 16 * d2o
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_preserved
        |FROM dp JOIN dd USING (va, vb)""".stripMargin)),

    // MATRYOSHKA truncation audit — the JL audit's measured-guarantee
    // discipline applied to PREFIX-dimension truncation (the MRL-style
    // "use the first k dims as a cheap embedding" deployment question):
    // for every pair in the bounded 50-vector sample, compare the
    // squared distance on the first 16 dims, scaled by 64/16 = 4 (the
    // isotropic expectation), against the full 64-dim squared distance,
    // and count pairs preserved within ±50%. ENTIRELY integer — both
    // distances are exact quantized sums and the predicate is
    // 2·|4·d2_16 − d2_64| ≤ d2_64 — so the verdict hash-matches. A low
    // preserved share means prefix truncation is NOT safe for this
    // embedding space and retrieval should pay for the full vectors.
    QueryDef("embedding_matryoshka_audit",
      (s, d) => {
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < 50)
        val comps = graft.operators.IvfCodebook.comps(v)
        def pairD2(c: org.apache.spark.sql.DataFrame, out: String) =
          c.select(col("vec_id").as("va"), col("dim"), col("qx").as("qa"))
            .join(c.select(col("vec_id").as("vb"), col("dim"),
              col("qx").as("qb")), "dim")
            .filter(col("va") < col("vb"))
            .groupBy("va", "vb")
            .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb")))
              .as(out))
        pairD2(comps.filter(col("dim") <= 16), "d2p")
          .join(pairD2(comps, "d2f"), Seq("va", "vb"))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            sum(when(abs(lit(4L) * col("d2p") - col("d2f")) * 2 <=
              col("d2f"), 1L).otherwise(0L)).as("n_preserved"))
          .select(col("n_pairs"), col("n_preserved"),
            expr("n_preserved * 1000000 DIV n_pairs").as("preserved_ppm"))
      },
      Some("""WITH c AS (SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS qx
        |  FROM embeddings WHERE vec_id < 50),
        |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |    CAST(sum((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2p
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.vec_id < b.vec_id
        |  WHERE a.dim <= 16 GROUP BY 1, 2),
        |df AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |    CAST(sum((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2f
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT n_pairs, n_preserved,
        |  n_preserved * 1000000 // n_pairs AS preserved_ppm
        |FROM (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN 2 * abs(4 * d2p - d2f) <= d2f
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_preserved
        |  FROM dp JOIN df USING (va, vb)) z""".stripMargin)),

    // MMR DIVERSIFIED RERANKING (maximal marginal relevance, the
    // classic diversity/relevance trade-off of retrieval): from the
    // exact top-20 cosine candidates of one query vector, greedily pick
    // 5 results maximizing 0.7·sim(q,c) − 0.3·max_{s∈S} sim(c,s) — so
    // near-duplicates of an already-picked result are pushed down and
    // the answer set COVERS the neighborhood instead of repeating it
    // (the retrieval-time complement of semantic dedup). Each greedy
    // round is one bounded job over the persisted 20-candidate /
    // 20×19-pair-sim tables with a ONE-ROW argmax collect (the BPE-
    // round discipline — 5 nested-plan rounds would grow the plan
    // ~3^r); candidate generation is the only corpus-sized stage. The
    // MMR arithmetic is fixed-operand-order doubles over the integer-
    // quantized cosine, surfaced as integer milli, so the unrolled
    // 5-round DuckDB replay agrees bit-for-bit.
    QueryDef("ann_mmr_rerank",
      (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val cand = cached(s, d, "mmr_cand") {
          val v = table(s, d, "embeddings")
            .select(col("vec_id"), col("embedding"))
          val q = v.filter(col("vec_id") === 0)
            .select(col("embedding").as("qe"))
          v.crossJoin(broadcast(q))
            .filter(col("vec_id") =!= 0)
            .withColumn("simq", expr("quant_cosine_sim(embedding, qe)"))
            .orderBy(col("simq").desc, col("vec_id")).limit(20)
            .select("vec_id", "embedding", "simq")
        }
        val pairs = cached(s, d, "mmr_pairs") {
          broadcast(cand.select(col("vec_id").as("va"),
              col("embedding").as("ea")))
            .join(cand.select(col("vec_id").as("vb"),
              col("embedding").as("eb")), col("va") =!= col("vb"))
            .withColumn("sim", expr("quant_cosine_sim(ea, eb)"))
            .select("va", "vb", "sim")
        }
        var sel = Vector.empty[(Long, Long, Long)]
        for (r <- 1 to 5) {
          val selIds = sel.map(_._2)
          val base0 = cand.select("vec_id", "simq")
          val base =
            if (selIds.isEmpty) base0
            else base0.filter(!col("vec_id").isin(selIds: _*))
          val ms =
            if (selIds.isEmpty)
              base.withColumn("max_s", lit(null).cast("double"))
            else base.join(
              pairs.filter(col("vb").isin(selIds: _*))
                .groupBy(col("va").as("vec_id"))
                .agg(max("sim").as("max_s")),
              Seq("vec_id"), "left")
          val row = ms
            .withColumn("mmr", expr(
              "CAST(0.7 AS DOUBLE) * simq - CAST(0.3 AS DOUBLE) * coalesce(max_s, CAST(0.0 AS DOUBLE))"))
            .orderBy(col("mmr").desc, col("vec_id")).limit(1)
            .select(col("vec_id"),
              expr("CAST(round(mmr * 1000) AS BIGINT)"))
            .collect()(0)
          sel = sel :+ ((r.toLong, row.getLong(0), row.getLong(1)))
        }
        import s.implicits._
        sel.toDF("rank", "vec_id", "mmr_milli")
      },
      Some {
        val rounds = (1 to 5).map { r =>
          s""",
          |mp$r AS MATERIALIZED (SELECT vec_id, mmr FROM (
          |  SELECT c.vec_id,
          |    0.7 * c.simq - 0.3 * coalesce(m.ms, 0.0) AS mmr
          |  FROM mcand c LEFT JOIN (
          |    SELECT va AS vec_id, max(sim) AS ms FROM mpr
          |    WHERE vb IN (SELECT vec_id FROM msel${r - 1}) GROUP BY 1) m
          |    USING (vec_id)
          |  WHERE c.vec_id NOT IN (SELECT vec_id FROM msel${r - 1}))
          |  ORDER BY mmr DESC, vec_id LIMIT 1),
          |msel$r AS MATERIALIZED (SELECT * FROM msel${r - 1}
          |  UNION ALL SELECT CAST($r AS BIGINT) AS rank, vec_id,
          |    CAST(round(mmr * 1000) AS BIGINT) AS mmr_milli FROM mp$r)"""
            .stripMargin
        }.mkString
        val dot = "CAST(CAST(list_sum(list_transform(range(1, len(a.qe) + 1)," +
          " i -> a.qe[i] * b.qe[i])) AS BIGINT) AS DOUBLE)" +
          " / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))"
        s"""WITH ve AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |mn AS (SELECT vec_id, qe,
        |  CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS n2 FROM ve),
        |mcand AS MATERIALIZED (SELECT vec_id, sim AS simq FROM (
        |  SELECT b.vec_id, $dot AS sim
        |  FROM mn a, mn b WHERE a.vec_id = 0 AND b.vec_id <> 0
        |  ORDER BY sim DESC, b.vec_id LIMIT 20) z),
        |mpr AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb, $dot AS sim
        |  FROM mn a JOIN mcand ca ON a.vec_id = ca.vec_id
        |  JOIN mn b ON b.vec_id <> a.vec_id
        |  JOIN mcand cb ON b.vec_id = cb.vec_id),
        |msel0 AS (SELECT CAST(NULL AS BIGINT) AS rank,
        |  CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS BIGINT) AS mmr_milli
        |  WHERE 1 = 0)$rounds
        |SELECT rank, vec_id, mmr_milli FROM msel5""".stripMargin
      })
  )


  /** The 4 per-subspace Lloyd CTE chains (each over its 16-dim slice of
    * `embeddings`), shared by the PQ oracles. */
  private def pqLloydAll: String =
    (0 until PqM).map { m =>
      val lo = m * PqSubDims + 1; val hi = (m + 1) * PqSubDims
      lloydCtesFor(s"p${m}_",
        s"(SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)",
        k = 16, iters = 2, sampleEvery = 4)
    }.mkString(",\n")
}

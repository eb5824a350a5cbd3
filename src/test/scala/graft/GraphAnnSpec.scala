package graft

import org.apache.spark.sql.functions._

/** The graph-ANN path (`ann_graph_topk`): determinism under repartitioning,
  * bounded per-hop work, and MEASURED recall against the exact brute-force
  * top-k — the same silent-recall-collapse guard the LSH and IVF paths
  * carry. The DuckDB oracle already pins exact equality of the whole
  * algorithm; this spec pins the properties equality alone can't show.
  */
class GraphAnnSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  override protected def afterAll(): Unit = {
    graft.queries.Q.release(spark)
    super.afterAll()
  }

  test("beam search is deterministic: identical result on a re-run") {
    val a = SparkEntry.queries("ann_graph_topk")(spark, dir).collect().toSeq
    graft.queries.Q.release(spark) // drop the memoized adjacency: full rebuild
    val b = SparkEntry.queries("ann_graph_topk")(spark, dir).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty && a.size == 50) // 5 queries × top-10
  }

  test("graph search recall vs exact brute-force top-10 is usable") {
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val truth = v.crossJoin(broadcast(q))
      .withColumn("sim", expr("quant_cosine_sim(embedding, qe)"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val got = SparkEntry.queries("ann_graph_topk")(spark, dir)
      .select(col("query_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (truth & got).size.toDouble / truth.size
    // 3 hops × beam 8 × degree 6 from 4 entries on a ~200-vector corpus:
    // well-connected, so most exact neighbors must be reachable. The bound
    // is a collapse guard (a broken graph or search scores ~0), not a
    // quality claim — recall/hops trade-off is the operator's cost dial.
    assert(recall >= 0.5, s"graph-ANN recall collapsed: $recall")
  }

  test("per-hop state stays bounded by queries x visited, never corpus-sized") {
    // the plan must not contain a corpus-by-corpus join: every join in the
    // search phase has the tiny frontier/query side broadcast
    val plan = SparkEntry.queries("ann_graph_topk")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"),
      s"graph search plans a cartesian product:\n$plan")
  }

  test("pagerank top-20 equals an in-memory reference on the same graph") {
    // independent witness: pull the adjacency the query reads, replay the
    // identical fixed-point arithmetic sequentially on the driver, and
    // demand exact agreement of the distributed result
    val adj = graft.queries.SimilarityQueries.nswAdjacency(spark, dir)
      .select("src", "dst").as[(Long, Long)].collect()
    val nodes = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id").as[Long].collect().sorted
    val S = 1000000000000L
    val base = S / nodes.length
    val outdeg = adj.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var pr = nodes.map(_ -> base).toMap
    for (_ <- 1 to 8) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long]
      adj.foreach { case (src, dst) =>
        val c = pr(src) / outdeg(src)
        inflow(dst) = inflow.getOrElse(dst, 0L) + c
      }
      pr = nodes.map(v =>
        v -> ((15L * base) / 100L + (85L * inflow.getOrElse(v, 0L)) / 100L))
        .toMap
    }
    val want = pr.toSeq.sortBy { case (v, p) => (-p, v) }.take(20)
      .zipWithIndex.map { case ((v, p), i) => (i + 1L, v, p) }
    val got = SparkEntry.queries("graph_pagerank")(spark, dir)
      .select("rank", "vec_id", "pr_scaled")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want, s"got=${got.take(5)}... want=${want.take(5)}...")
  }

  test("triangle counts equal a brute-force enumeration of the same graph") {
    val edges = graft.queries.SimilarityQueries.nswAdjacency(spark, dir)
      .selectExpr("least(src, dst) AS u", "greatest(src, dst) AS v")
      .where("u < v").distinct().as[(Long, Long)].collect().toSet
    val nbrs = edges.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val want = scala.collection.mutable.Map.empty[Long, Long]
    for ((u, v) <- edges; w <- nbrs(u) & nbrs(v); if v < w) {
      // (u,v,w) with u<v<w enumerated once per closing vertex w
      Seq(u, v, w).foreach(x => want(x) = want.getOrElse(x, 0L) + 1L)
    }
    val got = SparkEntry.queries("graph_triangles")(spark, dir)
      .select("vec_id", "n_tri").as[(Long, Long)].collect().toMap
    assert(got == want.toMap,
      s"got ${got.size} noded, want ${want.size}; diff=${
        (got.toSet diff want.toSet).take(3)}")
  }

  test("walk pairs are valid graph paths from their anchors") {
    val adj = graft.queries.SimilarityQueries.nswAdjacency(spark, dir)
      .select("src", "dst").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val walks = SparkEntry.queries("corpus_walk_pairs")(spark, dir)
      .select("anchor_id", "step", "node_id")
      .as[(Long, Long, Long)].collect()
    assert(walks.nonEmpty)
    val byAnchor = walks.groupBy(_._1)
    byAnchor.foreach { case (a, steps) =>
      val path = steps.sortBy(_._2).map(_._3)
      // step counts are a prefix 1..k (a walk that died stays dead)
      assert(steps.map(_._2).sorted.toSeq == (1 to steps.length).map(_.toLong),
        s"anchor $a has non-contiguous steps: $steps")
      var cur = a
      path.foreach { nxt =>
        assert(adj(cur).contains(nxt),
          s"walk from $a uses a non-edge $cur -> $nxt")
        cur = nxt
      }
    }
  }
}

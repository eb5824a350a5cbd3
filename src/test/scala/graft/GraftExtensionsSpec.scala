package graft

import org.apache.spark.sql.{GraftExtensionsProbe, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The one-stop extension entry point: both the plugin path
  * (spark.sql.extensions=graft.GraftExtensions) and the runtime install
  * must expose every native expression and the GroupTopK strategy, and
  * a session built by `GraftSession` carries the native functions from
  * the start.
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val nativeFunctions = Seq("cosine_sim", "quant_cosine_sim",
    "lsh_bits", "winnow_fps", "minhash_sigs", "simhash_bits",
    "simhash_bits_block")

  /** Every native function answers from SQL in `s`. */
  private def assertResolvesAll(s: SparkSession): Unit = {
    import s.implicits._
    val row = Seq(("hello world hello spark", Array(1f, 0f), Array(1f, 0f)))
      .toDF("t", "a", "b")
      .selectExpr(
        "cosine_sim(a, b) AS cs",
        "quant_cosine_sim(a, b) AS qcs",
        "lsh_bits(a, 2) AS lb",
        "size(winnow_fps(t, 3, 4, 2)) AS wf",
        "size(minhash_sigs(t)) AS mh",
        "simhash_bits(t, 4) AS sh",
        "simhash_bits_block(t, 4, 0) AS shb")
      .collect().head
    assert(row.getAs[Double]("cs") == 1.0)
    assert(row.getAs[Double]("qcs") == 1.0)
    assert(row.getAs[Int]("wf") > 0)
    assert(row.getAs[Int]("mh") == 16)
    assert(row.getAs[Long]("sh") >= 0L)
    // block 0 is bit-identical to simhash_bits
    assert(row.getAs[Long]("shb") == row.getAs[Long]("sh"))
  }

  test("install() exposes every native function and the topk strategy") {
    // an isolated session: install() now also attaches the optimizer
    // rewrite, which must not leak into the shared suite session (other
    // specs assert window shapes on unrewritten plans)
    val s = spark.newSession()
    GraftExtensions.install(s)
    import s.implicits._
    // each native expression answers from SQL with no per-object register
    assertResolvesAll(s)
    // idempotent
    GraftExtensions.install(s)
    assert(s.experimental.extraStrategies
      .count(_ == graft.plans.GroupTopKStrategy) == 1)
    assert(s.experimental.extraOptimizations
      .count(_ == graft.plans.WindowTopKRewrite) == 1)
    // the custom operator plans through the strategy
    val df = graft.plans.GroupTopK(
      Seq((1L, 5.0), (1L, 7.0), (2L, 3.0)).toDF("g", "s"),
      Seq("g"), "s", k = 1)
    assert(df.queryExecution.executedPlan.toString.contains("GroupTopK"))
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      == Set((1L, 7.0), (2L, 3.0)))
  }

  test("install() registers only the functions a session does not resolve") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val dropped = FunctionIdentifier("cosine_sim")
    val kept = registry.lookupFunction(FunctionIdentifier("lsh_bits")).get
    assert(registry.dropFunction(dropped))
    GraftExtensions.install(s)
    assert(registry.functionExists(dropped))
    assert(registry.lookupFunction(FunctionIdentifier("lsh_bits")).get eq kept)
  }

  test("the plugin path injects the same functions, strategy, and rewrite") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val strategies = GraftExtensionsProbe.plannerStrategies(ext, spark)
    assert(strategies.contains(graft.plans.GroupTopKStrategy))
    assert(GraftExtensionsProbe.optimizerRules(ext, spark)
      .contains(graft.plans.WindowTopKRewrite))
    val names = GraftExtensionsProbe.injectedFunctionNames(ext).toSet
    nativeFunctions.foreach { f =>
      assert(names.contains(f), s"$f not injected by the plugin path")
    }
  }

  test("a GraftSession session and its clones resolve every native function") {
    assertResolvesAll(spark)
    assertResolvesAll(spark.newSession())
  }

  test("running the banded dedup queries twice replaces no native function") {
    val dir = tmpDir("native-fns")
    (0 until 40).map(i => (i.toLong, (1 to 30).map(j => s"w${i % 7}x$j").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val registry = spark.sessionState.functionRegistry
    def infos() = nativeFunctions.map(f =>
      f -> registry.lookupFunction(FunctionIdentifier(f)))
    val before = infos()
    before.foreach { case (f, info) => assert(info.isDefined, s"$f missing") }
    for (_ <- 1 to 2; q <- Seq("dedup_simhash_pairs", "dedup_minhash_lsh"))
      SparkEntry.queries(q)(spark, dir).count()
    graft.queries.Q.release(spark)
    before.zip(infos()).foreach { case ((f, was), (_, now)) =>
      assert(was.get eq now.get, s"$f was replaced in the session's registry")
    }
  }

  test("window top-k rewrites to the bounded heap only when it is sound") {
    val s = spark.newSession()
    graft.plans.WindowTopKRewrite.install(s)
    graft.plans.GroupTopK.install(s)
    import s.implicits._
    val df = Seq((1L, 10L, 101L), (1L, 30L, 102L), (1L, 20L, 103L),
      (2L, 5L, 104L), (2L, 15L, 105L)).toDF("g", "score", "payload")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc)
    // the idiom: rank, filter, DROP the rank → rewritten to GroupTopK
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).select("g", "score", "payload")
    assert(q.queryExecution.executedPlan.toString.contains("GroupTopK"),
      s"rewrite must fire:\n${q.queryExecution.executedPlan}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 30L), (1L, 20L), (2L, 15L), (2L, 5L)))
    // guard 1: the rank column survives into the output → NOT rewritten
    val kept = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    assert(!kept.queryExecution.executedPlan.toString.contains("GroupTopK"),
      "rank in output must block the rewrite")
    assert(kept.count() == 4)
    // guard 2: nullable sort key (window ranks nulls, the heap drops
    // them) → NOT rewritten
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(when(col("score") > 5, col("score")).desc)
    val qn = df.withColumn("rn", row_number().over(wn))
      .filter(col("rn") <= 2).select("g", "payload")
    assert(!qn.queryExecution.executedPlan.toString.contains("GroupTopK"),
      "nullable score must block the rewrite")
    // multi-key ordering FIRES (since round 8): the tie-broken
    // `ORDER BY score DESC, payload ASC` idiom ranks natively and is
    // row-identical to the window — mixed directions included
    val dup = Seq((1L, 10L, 101L), (1L, 30L, 102L), (1L, 30L, 103L),
      (1L, 20L, 104L), (2L, 5L, 105L), (2L, 5L, 106L), (2L, 15L, 107L))
      .toDF("g", "score", "payload")
    val wm = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("payload"))
    val qm = dup.withColumn("rn", row_number().over(wm))
      .filter(col("rn") <= 2).select("g", "score", "payload")
    assert(qm.queryExecution.executedPlan.toString.contains("GroupTopK"),
      s"multi-key rewrite must fire:\n${qm.queryExecution.executedPlan}")
    // survivors under (score DESC, payload ASC): g1 → the two 30s;
    // g2 → 15 then the smaller-payload 5
    assert(qm.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == Set((1L, 30L, 102L), (1L, 30L, 103L),
        (2L, 15L, 107L), (2L, 5L, 105L)),
      "multi-key rewrite must pick the window's exact survivor rows")
  }

  test("rank() <= k rewrites to the WITH-TIES heap and keeps the boundary cohort") {
    val s = spark.newSession()
    graft.plans.WindowTopKRewrite.install(s)
    graft.plans.GroupTopK.install(s)
    import s.implicits._
    // score ties at the k-boundary by construction
    val df = Seq((1L, 30L, 1L), (1L, 20L, 2L), (1L, 20L, 3L), (1L, 20L, 4L),
      (1L, 10L, 5L), (2L, 7L, 6L), (2L, 7L, 7L)).toDF("g", "score", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc)
    val q = df.withColumn("rk", rank().over(w))
      .filter(col("rk") <= 2).select("g", "score", "id")
    assert(q.queryExecution.executedPlan.toString.contains("GroupTopK"),
      s"rank rewrite must fire:\n${q.queryExecution.executedPlan}")
    // group 1: 30 (rank 1) + ALL THREE 20s (rank 2); group 2: both 7s
    assert(q.collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      Set((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (2L, 6L), (2L, 7L)),
      "rank() <= k must keep every row tied with the k-th best")
    // rank() = 1 fires too (the argmax-with-ties idiom)
    val q1 = df.withColumn("rk", rank().over(w))
      .filter(col("rk") === 1).select("g", "id")
    assert(q1.queryExecution.executedPlan.toString.contains("GroupTopK"))
    assert(q1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 6L), (2L, 7L)))
    // guard: rank() = k for k > 1 is NOT a prefix filter → NOT rewritten
    val qe = df.withColumn("rk", rank().over(w))
      .filter(col("rk") === 2).select("g", "id")
    assert(!qe.queryExecution.executedPlan.toString.contains("GroupTopK"),
      "rank = k (k > 1) must block the rewrite")
    // guard: dense_rank has different survivor semantics → NOT rewritten
    val qd = df.withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= 2).select("g", "id")
    assert(!qd.queryExecution.executedPlan.toString.contains("GroupTopK"),
      "dense_rank must block the rewrite")
  }
}

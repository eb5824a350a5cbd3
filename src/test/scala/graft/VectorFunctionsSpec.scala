package graft

import org.apache.spark.sql.functions._

/** The native CosineSimilarity expression: interpreted vs codegen vs the
  * integer-quantized oracle-checked query must all agree on ranking.
  */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim: golden values, zero-norm safety, codegen path") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),   // identical → 1
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),   // orthogonal → 0
      (Array(1f, 2f, 3f), Array(-1f, -2f, -3f)),// opposite → -1
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)))   // zero norm → 0, no NaN
      .toDF("a", "b")
    val got = df.select(expr("cosine_sim(a, b)")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
    assert(got(3) == 0.0)
    // null propagation
    val n = Seq((Array(1f), Option.empty[Array[Float]])).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).collect()
    assert(n.head.isNullAt(0))
  }

  test("quant_cosine_sim is bit-identical to the SQL quantization chain") {
    // includes negative exact-half quantization points (-0.00025*10000 =
    // -2.5 must round AWAY from zero to -3, like Spark/DuckDB round(),
    // unlike Math.round)
    val vecs = Seq(
      (Array(-0.00025f, 0.00025f, 0.5f, -0.7f), Array(0.1f, -0.2f, 0.3f, 0.4f)),
      (Array(0.00015f, -0.00015f, -1f, 1f), Array(-0.00025f, 0.00035f, 2f, 3f)))
      .toDF("a", "b")
    val native = vecs.select(expr("quant_cosine_sim(a, b)")).as[Double].collect()
    val sqlChain = vecs.select(expr(
      """aggregate(zip_with(
        |  transform(a, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)),
        |  transform(b, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)),
        |  (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
        .cast("double") /
      (sqrt(expr("aggregate(transform(a, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").cast("double")) *
       sqrt(expr("aggregate(transform(b, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x * x)").cast("double"))))
      .as[Double].collect()
    assert(native.toSeq == sqlChain.toSeq) // bitwise equality, no tolerance
  }

  test("native top-k ranking matches the quantized oracle query") {
    val dir = "/root/testdata/sf0.001"
    val native = SparkEntry.queries("ann_cosine_native")(spark, dir)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val quant = SparkEntry.queries("ann_cosine_topk")(spark, dir)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native == quant) // 1e-4 quantization ≪ neighbor separation
  }
}

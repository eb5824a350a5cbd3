package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Every engine extension of a Spark session: the seven native SQL
  * functions of [[GraftExtensions.functions]] (`cosine_sim`,
  * `quant_cosine_sim`, `lsh_bits`, `winnow_fps`, `minhash_sigs`,
  * `simhash_bits`, `simhash_bits_block`), the
  * [[graft.plans.GroupTopKStrategy]] planner strategy and the
  * [[graft.plans.WindowTopKRewrite]] optimizer rule.
  *
  * The functions are injected when the session is built:
  * [[GraftSession.tuned]] adds them (and only them) to every builder, so
  * every main, the test harness, the benchmark and each `newSession()`
  * clone resolve them, and no query registers anything. The strategy and
  * the rewrite stay opt-in per session (`GroupTopK.install`,
  * `WindowTopKRewrite.install`).
  *
  * Two other paths take everything at once:
  *
  *  - at session BUILD time (the standard plugin mechanism): set
  *    `spark.sql.extensions=graft.GraftExtensions` on the builder, or
  *    call `builder.withExtensions(new GraftExtensions)`;
  *
  *  - on an EXISTING session that [[GraftSession.tuned]] did not build
  *    (notebooks): `GraftExtensions.install(spark)` registers the
  *    functions the session does not resolve yet and attaches the
  *    strategy and the rewrite; idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injectFunctions(ext)
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}

object GraftExtensions {

  /** (name, usage, builder) for every native expression: the one list of
    * the engine's SQL functions, read by the build-time and the runtime
    * path alike.
    */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - float-array cosine similarity",
      exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1))),
    ("quant_cosine_sim",
      "quant_cosine_sim(a, b) - integer-quantized exact cosine",
      exprs => graft.functions.QuantizedCosine(exprs(0), exprs(1))),
    ("lsh_bits", "lsh_bits(embedding, nPlanes) - hyperplane sign bits",
      { exprs =>
        require(exprs.length == 2, "lsh_bits(embedding, nPlanes)")
        graft.functions.LshBits(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue())
      }),
    ("winnow_fps", "winnow_fps(text, n_win, k, w) - MOSS winnow minima",
      { exprs =>
        require(exprs.length == 4, "winnow_fps(text, n_win, k, w)")
        graft.functions.WinnowFingerprints(exprs(0), exprs(1),
          exprs(2).eval().asInstanceOf[Number].intValue(),
          exprs(3).eval().asInstanceOf[Number].intValue())
      }),
    ("minhash_sigs", "minhash_sigs(text) - 16-piece MinHash signature",
      { exprs =>
        require(exprs.length == 1, "minhash_sigs(text)")
        graft.functions.MinhashSigs(exprs(0))
      }),
    ("simhash_bits", "simhash_bits(text, hex_digits) - SimHash signature",
      { exprs =>
        require(exprs.length == 2, "simhash_bits(text, hex_digits)")
        graft.functions.SimhashBits(exprs(0), exprs(1))
      }),
    ("simhash_bits_block",
      "simhash_bits_block(text, hex_digits, block) - SimHash signature " +
        "of one sha256 digest block",
      { exprs =>
        require(exprs.length == 3,
          "simhash_bits_block(text, hex_digits, block)")
        graft.functions.SimhashBitsBlock(exprs(0), exprs(1), exprs(2))
      }))

  /** Inject every function of [[functions]] into a session being built. */
  private[graft] def injectFunctions(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, usage, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo("graft", name, usage), builder))
    }

  /** Install everything into an existing session (idempotent): a
    * function the session already resolves is left as it is. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    graft.plans.GroupTopK.install(spark)
    graft.plans.WindowTopKRewrite.install(spark)
  }
}

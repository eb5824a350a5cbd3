package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One-stop installation of every engine extension into a Spark session —
  * the four native Catalyst expressions (`cosine_sim`, `quant_cosine_sim`,
  * `lsh_bits`, `winnow_fps`, `minhash_sigs`, `simhash_bits`) and the
  * [[graft.plans.GroupTopKStrategy]] planner strategy.
  *
  * Two supported paths:
  *
  *  - at session BUILD time (the standard plugin mechanism): set
  *    `spark.sql.extensions=graft.GraftExtensions` on the builder, or
  *    call `builder.withExtensions(new GraftExtensions)`;
  *
  *  - on an EXISTING session (tests, notebooks): `GraftExtensions
  *    .install(spark)` — uses the runtime function registry and
  *    `experimental.extraStrategies`, both idempotent.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}

object GraftExtensions {

  /** (name, usage, builder) for every native expression. Single source of
    * truth shared by the plugin path and the runtime-install path.
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
      }))

  /** Install everything into an existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    graft.plans.GroupTopK.install(spark)
    graft.plans.WindowTopKRewrite.install(spark)
  }
}

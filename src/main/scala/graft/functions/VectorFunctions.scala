package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors.
  *
  * This is the hot-path scalar of the similarity-search surface (SURVEY.md
  * §7.5): at 100 TB the brute-force stage evaluates it O(n·q) times, so it
  * must live inside whole-stage codegen — a Scala UDF would pay
  * serialization + megamorphic dispatch per row, and the built-in
  * `aggregate(zip_with(...))` chain allocates an intermediate array per
  * row. This expression is one fused loop over the two ArrayData buffers,
  * with both interpreted (`nullSafeEval`) and generated (`doGenCode`)
  * implementations.
  *
  * Zero-norm inputs yield 0.0 (no NaN escapes into ranking).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / java.lang.Math.sqrt($nx * $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native expression for the ORACLE-EXACT cosine path: reproduces the
  * integer-quantization pipeline (`round(x*10000)` away-from-zero per
  * element → exact BIGINT dot/norms → one sqrt+division) in a single fused
  * loop. Bit-identical to the SQL
  * `aggregate(zip_with(transform(...)))` chain and to DuckDB's
  * `list_sum(list_transform(...))` rendering — but those evaluate
  * interpreted lambdas and allocate an intermediate array per pair, which
  * made the all-pairs near-dup query ~6x slower than this expression.
  *
  * Away-from-zero half rounding matches both Spark's `round()` (BigDecimal
  * HALF_UP) and DuckDB's `round()` for doubles; `Math.round` would NOT
  * (it rounds -2.5 to -2).
  */
case class QuantizedCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quant_cosine_sim"

  @inline private def q(v: Double): Long =
    (if (v >= 0) math.floor(v * 10000.0 + 0.5)
     else math.ceil(v * 10000.0 - 0.5)).toLong

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var nx = 0L; var ny = 0L
    var i = 0
    while (i < n) {
      val xi = q(x.getFloat(i).toDouble)
      val yi = q(y.getFloat(i).toDouble)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0L || ny == 0L) 0.0
    else dot.toDouble / (math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $dot = 0L; long $nx = 0L; long $ny = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ((double) $x.getFloat($i)) * 10000.0;
         |  double $yv = ((double) $y.getFloat($i)) * 10000.0;
         |  long $xi = (long) ($xv >= 0 ? java.lang.Math.floor($xv + 0.5)
         |                              : java.lang.Math.ceil($xv - 0.5));
         |  long $yi = (long) ($yv >= 0 ? java.lang.Math.floor($yv + 0.5)
         |                              : java.lang.Math.ceil($yv - 0.5));
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0L || $ny == 0L) ? 0.0
         |  : ((double) $dot) / (java.lang.Math.sqrt((double) $nx)
         |                       * java.lang.Math.sqrt((double) $ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

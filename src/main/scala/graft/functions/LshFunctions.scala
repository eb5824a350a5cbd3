package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression: the sign bits of `nPlanes` deterministic
  * random-hyperplane projections of a float vector, as one LONG bitmask
  * (bit p = 1 iff projection p > 0).
  *
  * Bit-for-bit the declarative chain in ann_lsh_buckets /
  * dedup_embedding_lsh's oracles: plane weights are ±1 from the parity of
  * `sha256("<p>-<dim>")`'s first hex char (dim is 1-based), components are
  * quantized `round(x·10000)` away-from-zero to exact longs, and the
  * projection is an exact integer sum — so the sign is engine-independent.
  * An 8-plane call IS the ann_lsh_buckets bucket; the 16-plane call yields
  * the 4×4-band buckets via `(bits >> 4t) & 15`.
  *
  * Why native: the declarative form explodes 64 component rows per vector,
  * joins them against a broadcast 1024-row plane table and runs TWO
  * aggregations; per-row here it's a 16×64 fused dot-product loop over a
  * precomputed static weight table and no shuffle at all.
  */
case class LshBits(child: Expression, nPlanes: Int) extends UnaryExpression {
  require(nPlanes > 0 && nPlanes <= LshBits.MaxPlanes,
    s"nPlanes must be in [1,${LshBits.MaxPlanes}], got $nPlanes " +
      "(the static weight table is sized for MaxPlanes)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${t.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bits"

  override def nullSafeEval(a: Any): Any =
    LshBits.compute(a.asInstanceOf[ArrayData], nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.LshBits.compute($v, $nPlanes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBits {
  // 64 planes lets 4-table banding scale its bits-per-table with
  // log2(corpus) (the LSH cost dial) up to 15-bit tables; the static
  // table is 64x64 longs — negligible. Planes 0..15 are unchanged, so
  // every existing signature and oracle is bit-identical.
  val MaxPlanes = 64
  private val CachedDims = 64

  /** weights(p)(d) = ±1 for plane p, 0-based dim d (sha input is 1-based).
    * Deterministic, so a static table shared by every task is safe.
    */
  private lazy val weights: Array[Array[Long]] = {
    val md = MessageDigest.getInstance("SHA-256")
    Array.tabulate(MaxPlanes, CachedDims) { (p, d) =>
      weightOf(md, p, d + 1)
    }
  }

  private def weightOf(md: MessageDigest, p: Int, dim1: Int): Long = {
    md.reset()
    val h = md.digest(s"$p-$dim1".getBytes(StandardCharsets.UTF_8))
    // first hex char = high nibble of byte 0; even nibble value → +1
    if (((h(0) >> 4) & 1) == 0) 1L else -1L
  }

  def compute(vec: ArrayData, nPlanes: Int): Long = {
    val n = vec.numElements()
    var bits = 0L
    var p = 0
    val slowMd =
      if (n > CachedDims) MessageDigest.getInstance("SHA-256") else null
    while (p < nPlanes) {
      val w = weights(p)
      var proj = 0L
      var d = 0
      while (d < n) {
        val x = vec.getFloat(d).toDouble * 10000.0
        val q = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
        val wd = if (d < CachedDims) w(d) else weightOf(slowMd, p, d + 1)
        proj += wd * q
        d += 1
      }
      if (proj > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the winnowing fingerprint set (the MOSS
  * scheme — Schleimer/Wilkerson/Aiken, SIGMOD'03) of one text block.
  *
  * `winnow_fps(btext, n_win, k, w)` hashes every char `k`-gram of `btext`
  * with md5 (the cheapest hash Spark and DuckDB share bit-for-bit), takes
  * the minimum of each of the `n_win` windows of `w` consecutive gram
  * hashes, and returns the DISTINCT minima as `array<string>` (8 hex chars
  * = the md5's first 4 bytes, exactly `substr(md5(gram), 1, 8)`).
  *
  * Why native: the same computation as a Catalyst HOF chain
  * (`transform` + `slice` + `array_min`) evaluates interpreted lambdas with
  * per-element allocation — measured ~3x slower than even the exploded
  * sha256+window plan. Here the grams are hashed once each into an unsigned
  * int array and the window minima come from one flat loop — per-row cost
  * is ~n_grams md5 calls and nothing else. Codegen emits a single static
  * call, keeping the surrounding projection inside whole-stage codegen.
  *
  * Character semantics match SQL `substr` (code points) for BMP text;
  * comparison of hex strings equals unsigned comparison of the int hashes,
  * which is how minima are selected.
  */
case class WinnowFingerprints(left: Expression, right: Expression,
    k: Int, w: Int) extends BinaryExpression {
  require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(a: Any, b: Any): Any =
    WinnowFingerprints.compute(a.asInstanceOf[UTF8String],
      b.asInstanceOf[Int], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.WinnowFingerprints.compute($t, $n, $k, $w);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WinnowFingerprints {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Distinct winnowed minima of `text`'s first `nWin` windows, as 8-hex
    * gram-hash prefixes. Called from both eval and generated code.
    */
  def compute(text: UTF8String, nWin: Int, k: Int, w: Int): ArrayData = {
    val str = text.toString
    val md = digest.get()
    // grams needed: window start j in [0, nWin) covers grams j..j+w-1
    val nGrams = math.min(nWin + w - 1, str.length - k + 1)
    if (nGrams <= 0 || nWin <= 0) return new GenericArrayData(Array.empty[Any])
    // first 4 md5 bytes as an unsigned int in a long — hex-lexicographic
    // order on substr(md5, 1, 8) IS unsigned numeric order on these
    val gh = new Array[Long](nGrams)
    var j = 0
    while (j < nGrams) {
      md.reset()
      val d = md.digest(str.substring(j, j + k).getBytes(StandardCharsets.UTF_8))
      gh(j) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      j += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var s = 0
    val lastStart = math.min(nWin, nGrams - w + 1)
    while (s < lastStart) {
      var m = Long.MaxValue
      var t = s
      while (t < s + w) { if (gh(t) < m) m = gh(t); t += 1 }
      seen.add(m)
      s += 1
    }
    val out = new Array[Any](seen.size)
    var idx = 0
    val it = seen.iterator()
    while (it.hasNext) {
      val v = it.next().longValue()
      val cs = new Array[Char](8)
      var sh = 28
      var c = 0
      while (c < 8) { cs(c) = HEX(((v >>> sh) & 0xf).toInt); sh -= 4; c += 1 }
      out(idx) = UTF8String.fromString(new String(cs))
      idx += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: the 16 MinHash signature pieces of one
  * document in a single fused loop.
  *
  * `minhash_sigs(t)` reproduces, bit-for-bit, the declarative chain in
  * dedup_minhash_lsh's oracle: char-5-gram shingles at stride 2, one
  * sha256‖md5 hex digest per shingle, signature piece j = the MINIMUM of
  * `substr(hex, 6j+1, 6)` over all shingles (string order on lowercase hex
  * == unsigned numeric order on the 24-bit nibble group, which is how the
  * minima are tracked — as ints, formatted at the end). Like
  * [[WinnowFingerprints]], character indexing matches SQL `substr` (code
  * points) for BMP text only — supplementary characters (surrogate pairs)
  * would shift shingle positions relative to the oracle.
  *
  * Why native: the same computation as explode-shingles → groupBy(doc) with
  * 16 min() aggregates materializes ~100 rows per document and shuffles
  * them; per-row here it's ~100 digest pairs in a tight loop and NO
  * shuffle at all in the signature stage. Documents shorter than k return
  * an empty array (the declarative form emits no shingle rows — such docs
  * then simply have no bands).
  */
case class MinhashSigs(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string, got ${t.simpleString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(a: Any): Any =
    MinhashSigs.compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.functions.MinhashSigs.compute($t)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSigs {
  private val K = 5          // shingle length (chars)
  private val Stride = 2     // shingle stride
  private val Pieces = 16    // 6-hex-digit signature pieces

  private val sha = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  /** nibble i (0-based) of the 96-hex sha256‖md5 concatenation. */
  @inline private def nibble(s: Array[Byte], m: Array[Byte], i: Int): Int = {
    val b = if (i < 64) s(i >> 1) else m((i - 64) >> 1)
    if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
  }

  def compute(text: UTF8String): ArrayData = {
    val str = text.toString
    if (str.length < K) return new GenericArrayData(Array.empty[Any])
    val mins = Array.fill(Pieces)(Int.MaxValue)
    val shaMd = sha.get(); val md5Md = md5.get()
    var i = 0
    val last = str.length - K
    while (i <= last) {
      val bytes = str.substring(i, i + K).getBytes(StandardCharsets.UTF_8)
      shaMd.reset(); val ds = shaMd.digest(bytes)
      md5Md.reset(); val dm = md5Md.digest(bytes)
      var j = 0
      while (j < Pieces) {
        val n0 = 6 * j
        val v = (nibble(ds, dm, n0) << 20) | (nibble(ds, dm, n0 + 1) << 16) |
          (nibble(ds, dm, n0 + 2) << 12) | (nibble(ds, dm, n0 + 3) << 8) |
          (nibble(ds, dm, n0 + 4) << 4) | nibble(ds, dm, n0 + 5)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += Stride
    }
    val out = new Array[Any](Pieces)
    var j = 0
    while (j < Pieces) {
      val v = mins(j)
      val cs = new Array[Char](6)
      var sh = 20; var c = 0
      while (c < 6) { cs(c) = HEX((v >>> sh) & 0xf); sh -= 4; c += 1 }
      out(j) = UTF8String.fromString(new String(cs))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: the SimHash signature of one document in a
  * single fused loop.
  *
  * `simhash_bits(text, hexDigits)` reproduces, bit-for-bit, the
  * declarative chain in dedup_simhash's oracle: words = split on single
  * spaces (empties dropped), each word's sha256 hex prefix of `hexDigits`
  * digits votes ±1 per bit position b (bit = digit `b DIV 4`'s bit
  * `3 - b%4`), and signature bit b is 1 iff the vote is positive; result
  * is the LONG `Σ bit_b << b`.
  *
  * Why native: the declarative form explodes words × (4·hexDigits) bit
  * rows (tens of millions of rows at sf0.1) through two groupBy shuffles;
  * here it is one sha256 per word and a vote array per row — the
  * signature stage shuffles nothing.
  */
case class SimhashBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash_bits"

  override def nullSafeEval(a: Any, b: Any): Any =
    SimhashBits.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n) => s"graft.functions.SimhashBits.compute($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SimhashBits {

  private val sha = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }

  /** nibble i (0-based, high first) of a digest — matches hex-string
    * indexing `substr(hex, i+1, 1)`.
    */
  @inline private def nib(d: Array[Byte], i: Int): Int = {
    val b = d(i >> 1)
    if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
  }

  def compute(text: UTF8String, hexDigits: Int): Long =
    compute(text, hexDigits, 0)

  /** `block` selects which 16-nibble (64-bit) slice of the sha256 digest
    * the per-word votes read: block 0 is the canonical signature
    * (identical to the 2-arg form, every existing oracle's semantics),
    * blocks 1–3 are INDEPENDENT permuted-block signatures — the extra
    * band tables the corpus-size dial adds once 16-bit bands saturate
    * (see DedupQueries.simhashTables). One digest per word regardless of
    * block count; sha256's 64 nibbles hold exactly 4 such blocks.
    */
  def compute(text: UTF8String, hexDigits: Int, block: Int): Long = {
    val str = text.toString
    val nBits = hexDigits * 4
    val off = block * 16 // nibble offset of this 64-bit digest block
    val votes = new Array[Int](nBits)
    val md = sha.get()
    var start = 0
    val len = str.length
    while (start <= len) {
      var end = str.indexOf(' ', start)
      if (end < 0) end = len
      if (end > start) { // empty tokens (consecutive spaces) are dropped
        md.reset()
        val d = md.digest(
          str.substring(start, end).getBytes(StandardCharsets.UTF_8))
        var b = 0
        while (b < nBits) {
          val bit = (nib(d, off + (b >> 2)) >> (3 - (b & 3))) & 1
          votes(b) += 2 * bit - 1
          b += 1
        }
      }
      start = end + 1
    }
    var sim = 0L
    var b = 0
    while (b < nBits) { if (votes(b) > 0) sim |= 1L << b; b += 1 }
    sim
  }
}

/** [[SimhashBits]] with an explicit sha256 block selector — the extra
  * band TABLES of the saturation dial (one 64-bit signature per digest
  * block, up to 4). Block 0 is bit-identical to `simhash_bits`.
  */
case class SimhashBitsBlock(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, int, int), got " +
          s"(${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash_bits_block"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    SimhashBits.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[Int],
      c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n, blk) => s"graft.functions.SimhashBits.compute($t, $n, $blk)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

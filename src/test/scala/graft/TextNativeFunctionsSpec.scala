package graft

import java.security.MessageDigest
import org.apache.spark.sql.functions._

/** The native winnow_fps expression: block-local winnowing must equal a
  * naive single-pass winnow of the whole document — including documents
  * long enough to span multiple blocks (the boundary-overlap exactness
  * argument: a window of w gram hashes needs at most k+w-2 chars past its
  * start, which is exactly the block overlap).
  */
class TextNativeFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val k = 8; private val w = 4

  private def md5hex8(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Naive reference: hash every gram, min per window, distinct. */
  private def naiveWinnow(text: String): Set[String] = {
    if (text.length < k + w - 1) return Set.empty
    val ghs = (0 to text.length - k).map(i => md5hex8(text.substring(i, i + k)))
    (0 to text.length - k - (w - 1)).map(j => (j until j + w).map(ghs).min).toSet
  }

  /** The registered query's block pipeline over an in-memory doc set. */
  private def blockWinnow(docs: Seq[(Long, String)], b: Int): Map[Long, Set[String]] = {
    docs.toDF("doc_id", "text")
      .filter(length($"text") >= k + w - 1)
      .select($"doc_id", $"text",
        (length($"text") - (k - 1) - (w - 1)).as("n_win"))
      .select($"doc_id", $"text", $"n_win",
        explode(sequence(lit(0), floor(($"n_win" - 1) / b).cast("int"))).as("blk"))
      .select($"doc_id",
        $"text".substr($"blk" * b + 1, lit(b + k + w - 2)).as("btext"),
        least(lit(b), $"n_win" - $"blk" * b).cast("int").as("loc_win"))
      .select($"doc_id", explode(expr(s"winnow_fps(btext, loc_win, $k, $w)")).as("fp"))
      .distinct()
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  test("multi-block documents winnow exactly like a single pass") {
    val rnd = new scala.util.Random(7)
    // alphabet of 4 chars → repeated grams → real window-min collisions
    val long1 = (1 to 10000).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val long2 = (1 to 4097).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val short = "the quick brown fox jumps"
    val docs = Seq((1L, long1), (2L, long2), (3L, short))
    // tiny block size in one case to force MANY blocks
    for (b <- Seq(64, 4096)) {
      val got = blockWinnow(docs, b)
      docs.foreach { case (id, text) =>
        assert(got.getOrElse(id, Set.empty) == naiveWinnow(text),
          s"doc $id mismatch at block size $b")
      }
    }
  }

  test("edge cases: too-short text, exact-minimum length, empty result") {
    // below k+w-1 chars → no windows → no rows
    assert(blockWinnow(Seq((1L, "0123456789")), 4096).isEmpty)
    // exactly k+w-1 = 11 chars → exactly one window
    val t = "abcdefghijk"
    val got = blockWinnow(Seq((2L, t)), 4096)
    assert(got(2L) == naiveWinnow(t) && got(2L).size == 1)
  }

  test("minhash_sigs equals the declarative shingle-min chain exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", substring($"text", 1, 200).as("t"))
    val native = docs.select($"doc_id", expr("minhash_sigs(t)").as("mhs"))
      .filter(size($"mhs") > 0)
    val sh = docs
      .select($"doc_id",
        explode(when(length($"t") >= 5,
            sequence(lit(1), length($"t") - 4, lit(2)))
          .otherwise(array().cast("array<int>"))).as("i"), $"t")
      .select($"doc_id", concat(sha2($"t".substr($"i", lit(5)), 256),
        md5($"t".substr($"i", lit(5)))).as("h"))
    val aggs = (0 until 16).map(j => min(substring($"h", 6 * j + 1, 6)).as(s"mh$j"))
    val ref = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    assert(native.count() == ref.count())
    val mismatches = native.join(ref, "doc_id")
      .filter((0 until 16).map(j =>
        element_at($"mhs", j + 1) =!= col(s"mh$j")).reduce(_ || _))
      .count()
    assert(mismatches == 0)

    // shorter than one shingle → empty signature (no bands downstream)
    val empty = Seq("abcd").toDF("t")
      .select(size(expr("minhash_sigs(t)")).as("n")).as[Int].head()
    assert(empty == 0)
  }

  test("simhash_bits equals the declarative word-vote chain exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    for (hexDigits <- Seq(4, 8)) {
      val native = docs.select($"doc_id",
        expr(s"simhash_bits(text, $hexDigits)").as("nh"))
      val ref = docs
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .filter(length($"w") > 0)
        .select($"doc_id", substring(sha2($"w", 256), 1, hexDigits).as("hx"))
        .select($"doc_id", $"hx",
          explode(sequence(lit(0), lit(hexDigits * 4 - 1))).as("b"))
        .withColumn("v",
          expr("instr('0123456789abcdef', substr(hx, (b DIV 4) + 1, 1)) - 1"))
        .withColumn("bit", expr("shiftright(v, 3 - (b % 4)) & 1"))
        .groupBy("doc_id", "b").agg(sum(expr("2 * bit - 1")).as("vote"))
        .withColumn("bitval", when($"vote" > 0, 1L).otherwise(0L))
        .groupBy("doc_id").agg(sum(expr("shiftleft(bitval, b)")).as("rh"))
      val mism = native.join(ref, "doc_id")
        .filter($"nh" =!= $"rh").count()
      assert(mism == 0, s"simhash_bits($hexDigits) diverges from declarative")
      assert(native.count() == ref.count())
    }
    // empty / all-space text: no words vote, all bits 0
    val z = Seq(("", 1L), ("   ", 2L)).toDF("text", "doc_id")
      .select(expr("simhash_bits(text, 8)").as("h")).as[Long].collect()
    assert(z.toSeq == Seq(0L, 0L))
  }

  test("winnow_fps agrees with the SQL md5 rendering per gram") {
    val one = Seq(("abcdefgh")).toDF("t")
      .select(expr("winnow_fps(t, 1, 8, 1)").getItem(0).as("fp"),
        expr("substring(md5(t), 1, 8)").as("direct"))
      .as[(String, String)].head()
    assert(one._1 == one._2)
  }
}

package graft

import graft.operators.BandedJoin
import graft.operators.BandedJoin.{Drop, HotBuckets, StarLink}

/** [[BandedJoin]] against a brute-force reference on random (id, key)
  * multisets with a small cap, so buckets above the cap are common.
  */
class BandedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 3

  private type Row3 = (Long, Int, Int) // (doc_id, band, bv)

  private def sample(seed: Int): Seq[Row3] = {
    val r = new scala.util.Random(seed)
    Seq.fill(40 + r.nextInt(40))(
      (r.nextInt(30).toLong, r.nextInt(2), r.nextInt(6)))
  }

  /** Pairs by definition: every a < b within a bucket of at most `cap`
    * rows; above it, the bucket min paired with each other member
    * (StarLink) or nothing (Drop). */
  private def reference(rows: Seq[Row3], hotBuckets: HotBuckets,
      probeMax: Option[Long]): Set[(Long, Long)] =
    rows.groupBy(r => (r._2, r._3)).values.flatMap { bucket =>
      val ids = bucket.map(_._1)
      if (bucket.size <= Cap) for (a <- ids; b <- ids if a < b) yield (a, b)
      else hotBuckets match {
        case StarLink => ids.filter(_ != ids.min).map(ids.min -> _)
        case Drop => Nil
      }
    }.toSet.filter { case (a, _) => probeMax.forall(a < _) }

  private def run(rows: Seq[Row3], hotBuckets: HotBuckets,
      probeMax: Option[Long]): Set[(Long, Long)] =
    BandedJoin.pairs(rows.toDF("doc_id", "band", "bv"), "doc_id",
        Seq("band", "bv"), Cap, hotBuckets, probeMax)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet

  test("pairs equals the brute-force reference, StarLink and Drop, bounded and not") {
    (1 to 6).foreach { seed =>
      val rows = sample(seed)
      assert(rows.groupBy(r => (r._2, r._3)).values.exists(_.size > Cap),
        s"seed $seed: no bucket above the cap")
      Seq(StarLink, Drop).foreach { mode =>
        val full = run(rows, mode, None)
        assert(full == reference(rows, mode, None), s"seed $seed, $mode")
        Seq(5L, 15L).foreach { m =>
          val bounded = run(rows, mode, Some(m))
          assert(bounded == reference(rows, mode, Some(m)),
            s"seed $seed, $mode, probeMax $m")
          // the documented contract: the unbounded result filtered to a < m
          assert(bounded == full.filter(_._1 < m),
            s"seed $seed, $mode: probeMax $m is not the filtered full result")
        }
      }
    }
  }

  test("cool keeps exactly the rows of buckets at or below the cap") {
    val rows = sample(7)
    val expect = rows.groupBy(r => (r._2, r._3)).values
      .filter(_.size <= Cap).flatten.toSeq.sorted
    val got = BandedJoin.cool(rows.toDF("doc_id", "band", "bv"),
        Seq("band", "bv"), Cap)
      .select("doc_id", "band", "bv").as[Row3].collect().toSeq.sorted
    assert(got == expect)
  }
}

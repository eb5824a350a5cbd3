package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cap-gated banded self-join: candidate pairs from rows that share a band
  * key, with a per-bucket work bound. Every banded candidate generator in
  * the engine (SimHash, MinHash, embedding LSH, phash) and the gram df gate
  * go through it.
  *
  * Why a cap: pair work inside one bucket is quadratic in its population,
  * and a band value can be shared by a constant FRACTION of the corpus at
  * any band width (stopword-profile simhash bands, boilerplate MinHash
  * fragments, tight embedding clusters, flat image borders). The x30
  * scaling sweep measured exactly this: 650x MinHash candidates on 30x
  * data, 9.7x simhash growth on 3x. So a bucket holding at most `cap` rows
  * ("cool") enumerates all its pairs, and a hotter bucket either
  *  - [[StarLink]]s: every member pairs with the bucket's min-id
  *    representative, O(bucket) pairs instead of O(bucket²). A duplicate
  *    group larger than the cap (whose members share every band, so every
  *    band goes hot) stays connected through its representative, and the
  *    downstream transitive closure recovers the whole group; the cap is
  *    a work bound, not a recall bound. Or it
  *  - [[Drop]]s: the bucket emits nothing. Right when true near-dups still
  *    collide on their other bands (phash's 4×16-bit bands).
  *
  * Cool membership is an ANTI-join against the HOT keys, not a semi-join
  * against the cool ones: cool grows with the corpus, so joining it
  * shuffles the full band set at scale, while hot is bounded by
  * corpus/cap and broadcast. `bands ∉ hot ≡ bands ∈ cool`, because the
  * stats aggregate covers every key present in `bands`; the band side
  * never shuffles to be filtered. Under [[StarLink]] the anti-join's build
  * side is the same `broadcast(hot)` frame the star-link joins (with
  * `probeMax`, the anti side keeps the unfiltered frame). Column pruning
  * drops the `rep` the anti-join does not read, though, so the physical
  * plan builds the star-link's broadcast apart from the anti-join's, with
  * its own stats pass over the bands. The DuckDB rendering ([[candSql]])
  * keeps the semi-join form, so the oracle still checks that
  * anti ≡ semi.
  */
object BandedJoin {

  /** What a bucket above the cap contributes to [[pairs]]. */
  sealed trait HotBuckets
  case object StarLink extends HotBuckets
  case object Drop extends HotBuckets

  /** The rows of `df` whose `keys` bucket holds at most `cap` rows. */
  def cool(df: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    df.join(broadcast(hot(df, keys, cap, None)), keys, "left_anti")

  /** Buckets above the cap: `keys` (plus `rep` = min `id` when given). */
  private def hot(df: DataFrame, keys: Seq[String], cap: Long,
      id: Option[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_b") +: id.map(min(_).as("rep")).toSeq
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .filter(col("n_b") > cap)
      .select((keys ++ id.map(_ => "rep")).map(col): _*)
  }

  /** Pair column names for an id column: `doc_id` gives `doc_a`/`doc_b`. */
  private def pairColumns(id: String): (String, String) = {
    val stem = id.stripSuffix("_id")
    (s"${stem}_a", s"${stem}_b")
  }

  /** Distinct candidate pairs (a, b), a < b, named by [[pairColumns]]:
    * pairwise within cool buckets, hot buckets per `hotBuckets`.
    *
    * `probeMax = Some(m)` bounds the smaller-id side: the result is
    * exactly the unbounded result filtered to a < m, but no pair outside
    * the probe set is materialized (pairwise keeps only a-sides below m;
    * a star bucket fires only when its representative, the bucket min and
    * hence always the pair's a, is below m). Every hot bucket still
    * leaves the pairwise path: the anti side takes the unfiltered hot set,
    * the star side the filtered one.
    */
  def pairs(bands: DataFrame, id: String, keys: Seq[String], cap: Long,
      hotBuckets: HotBuckets = StarLink,
      probeMax: Option[Long] = None): DataFrame = {
    val (a, b) = pairColumns(id)
    val hot0 = hotBuckets match {
      case StarLink => Some(hot(bands, keys, cap, Some(id)))
      case Drop => None
    }
    val ok = hot0.fold(cool(bands, keys, cap))(h =>
      bands.join(broadcast(h), keys, "left_anti"))
    val aSide = probeMax.fold(ok)(m => ok.filter(col(id) < m))
    val sameKey: Column =
      keys.map(k => col(k) === col(s"${k}_b")).reduce(_ && _)
    val pairwise = aSide.select(col(id).as(a) +: keys.map(col): _*)
      .join(ok.select(col(id).as(b) +: keys.map(k => col(k).as(s"${k}_b")): _*),
        sameKey && col(a) < col(b))
      .select(a, b)
    hot0.fold(pairwise) { h0 =>
      val h = probeMax.fold(h0)(m => h0.filter(col("rep") < m))
      val star = bands.join(broadcast(h), keys)
        .filter(col(id) =!= col("rep"))
        .select(col("rep").as(a), col(id).as(b))
      pairwise.unionByName(star)
    }.distinct()
  }

  /** DuckDB rendering of [[pairs]] over the CTE `bands` (columns `id`,
    * `keys`): CTEs `<bands>_stat`, `<bands>_cool`, `<bands>_ok`
    * (`<bands>_hot` under [[StarLink]]), ending in
    * `cand(<a>, <b>)`. Cool membership is a semi-join on `n_b <= cap`,
    * the independent formulation of the Spark anti-join.
    */
  def candSql(bands: String, id: String, keys: Seq[String], cap: Long,
      hotBuckets: HotBuckets = StarLink,
      probeMax: Option[Long] = None): String = {
    val (a, b) = pairColumns(id)
    val ks = keys.mkString(", ")
    val on = keys.map(k => s"x.$k = y.$k").mkString(" AND ")
    val rep = if (hotBuckets == StarLink) s", min($id) AS rep" else ""
    val probe = probeMax.fold("")(m => s"\n  WHERE x.$id < $m")
    val pairwise =
      s"""SELECT x.$id AS $a, y.$id AS $b
        |  FROM ${bands}_ok x JOIN ${bands}_ok y
        |    ON $on AND x.$id < y.$id$probe""".stripMargin
    val cand = hotBuckets match {
      case Drop => s"SELECT DISTINCT $a, $b FROM ($pairwise)"
      case StarLink =>
        s"""SELECT DISTINCT $a, $b FROM (
          |  $pairwise
          |  UNION ALL
          |  SELECT h.rep AS $a, $bands.$id AS $b
          |  FROM $bands JOIN ${bands}_hot h USING ($ks)
          |  WHERE $bands.$id <> h.rep)""".stripMargin
    }
    val hotCte = if (hotBuckets == StarLink)
      s"""
        |${bands}_hot AS MATERIALIZED (SELECT $ks, rep FROM ${bands}_stat
        |  WHERE n_b > $cap${probeMax.fold("")(m => s" AND rep < $m")}),""".stripMargin
    else ""
    s"""${bands}_stat AS MATERIALIZED (SELECT $ks, count(*) AS n_b$rep
      |  FROM $bands GROUP BY $ks),
      |${bands}_cool AS MATERIALIZED (SELECT $ks FROM ${bands}_stat WHERE n_b <= $cap),
      |${bands}_ok AS MATERIALIZED (SELECT $bands.* FROM $bands JOIN ${bands}_cool USING ($ks)),$hotCte
      |cand AS MATERIALIZED ($cand)""".stripMargin
  }
}

package graft.queries

import graft.operators.{HeavyHitters, SkewTools}
import org.apache.spark.sql.functions._

/** Oracle rows for the scale operators that were previously spec-only:
  * salted aggregation and the Space-Saving sketch. Both are registered in
  * configurations where their result is EXACTLY a plain SQL aggregate, so
  * DuckDB can oracle the distributed implementation (the approximation
  * regimes — more keys than capacity, genuinely skewed reducers — are
  * covered by OperatorsSpec's property tests).
  */
object ScaleOpQueries {
  import Q._

  /** Sketch size for the KMV queries — small enough that the estimator
    * path (not the exact small-set path) is exercised at every test
    * scale (150 distinct users/type at sf0.01), large enough for a
    * meaningful estimate. */
  private val KmvK = 64

  /** 48-bit uniform hash of user_id, identical in both engines: the
    * first 12 hex digits of sha256 of the decimal string. 48 bits keeps
    * the DuckDB rendering in the double-exact range (< 2^53) while
    * leaving collision odds negligible at test cardinalities. */
  private val KmvHashExpr =
    "CAST(conv(substring(sha2(CAST(user_id AS STRING), 256), 1, 12)," +
      " 16, 10) AS BIGINT)"

  /** Count-Min geometry: 4 hash rows × 1024 buckets — small enough that
    * collisions (and thus a non-trivial overestimate column) appear at
    * every test scale, large enough that min-over-rows keeps estimates
    * within a few × of truth. */
  private val CmsD = 4
  private val CmsW = 1024

  /** DuckDB rendering of [[graft.operators.CountMin.hash48]]: the 48-bit
    * sha-prefix of the key as a hex-digit place-value sum. Keep in
    * lockstep with the Scala side. */
  private def cmsHash48Sql(k: String): String =
    s"""CAST(list_sum(list_transform(range(0, 12), i ->
       |    (strpos('0123456789abcdef',
       |      substr(sha256(CAST($k AS VARCHAR)),
       |        CAST(i + 1 AS INTEGER), 1)) - 1)
       |    * power(16, 11 - i))) AS BIGINT)""".stripMargin

  /** DuckDB rendering of [[graft.operators.CountMin.bucketOf]]: odd-stride
    * double hashing `(h1 + j·(2·h2+1)) mod w` from the once-computed
    * 48-bit hash `hv`. Pure integer arithmetic — keep in lockstep. */
  private def cmsBucketOfSql(j: String, hv: String): String =
    s"(($hv // 16777216) + $j * (2 * ($hv % 16777216) + 1)) % $CmsW"

  /** Per-event-type KMV sketch (ascending ≤ k minima) plus the exact
    * distinct count for auditability — persisted once and shared by the
    * distinct-estimate and Jaccard queries. */
  private def kmvSketches(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): org.apache.spark.sql.DataFrame =
    cached(s, d, "kmv_sketches") {
      table(s, d, "events")
        .select(col("event_type"), expr(KmvHashExpr).as("hv"))
        .groupBy("event_type")
        .agg(graft.operators.Kmv.minValues(k)(col("hv")).as("sk"),
          countDistinct(col("hv")).as("n_true"))
    }

  /** DuckDB rendering of the sketch derivation: a CTE prefix ending in
    * `r(event_type, hv, rn, nd)` — distinct hashes ranked ascending per
    * type, with the type's distinct count. Keep in lockstep with
    * [[kmvSketches]]. */
  private val KmvRankSql: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |    CAST(list_sum(list_transform(range(0, 12), i ->
      |      (strpos('0123456789abcdef',
      |        substr(sha256(CAST(user_id AS VARCHAR)),
      |          CAST(i + 1 AS INTEGER), 1)) - 1)
      |      * power(16, 11 - i))) AS BIGINT) AS hv
      |  FROM events),
      |r AS (SELECT event_type, hv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS nd
      |  FROM h)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Skew-safe aggregation: two-stage salted sum/count over (key, salt)
    // partials. Exactly equals the direct groupBy — long partials merge
    // losslessly — while a hot key fans out over `salts` reducers instead
    // of landing on one (AQE re-plans join skew but NOT aggregation skew).
    QueryDef("q_salted_agg",
      (s, d) => SkewTools.saltedSumCount(
          table(s, d, "events")
            .select(col("user_id"), cents(col("value")).as("v_c")),
          Seq("user_id"), "v_c", salts = 16,
          sumName = "sum_value_c", countName = "n")
        .select(col("user_id"),
          col("sum_value_c").cast("long").as("sum_value_c"),
          col("n").cast("long").as("n")),
      Some("""SELECT user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id""".stripMargin)),

    // Skew-safe JOIN: the fact side salted, the build side replicated
    // once per salt, equi-join on (key, salt) — row-identical to the
    // plain join but a hot user's rows fan out over `salts` reducers.
    // The explicit (plan-time) form of AQE's runtime skew split, for when
    // the skew is known or AQE can't apply. Revenue per market segment:
    // events are the skewed fact, customer the replicated build side.
    QueryDef("q_salted_join",
      (s, d) => SkewTools.saltedJoin(
          table(s, d, "events")
            .select(col("user_id"), cents(col("value")).as("v_c")),
          table(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey", salts = 8)
        .groupBy("c_mktsegment")
        .agg(sum(col("v_c")).as("revenue_c"),
          count(lit(1)).as("n_events")),
      Some("""SELECT c_mktsegment,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),

    // Arbitrary-state streaming surface (flatMapGroupsWithState) in its
    // batch-planned form: per-user running totals. On a bounded input the
    // final state equals a plain GROUP BY — which oracles the operator's
    // state-update logic (the incremental/multi-batch behavior is
    // StreamingAnalyticsSpec's job).
    QueryDef("st_user_state",
      (s, d) => graft.streaming.StreamingAnalytics
        .runningUserTotals(table(s, d, "events")).toDF(),
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
        |  CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
        |FROM events GROUP BY user_id""".stripMargin)),

    // Streaming heavy hitters (StreamingAnalytics.streamingTopUsers) in
    // its batch-planned form: per event_type, the top-10 users by event
    // count from Space-Saving state hard-bounded at 4096 counters per
    // group. At both test scales 4096 exceeds the user universe, so the
    // sketch runs in its exact regime (err = 0) and the oracle is a plain
    // GROUP BY + rank — which pins the state-update logic; the
    // approx-regime bounds and multi-batch increments are
    // StreamingAnalyticsSpec property tests.
    QueryDef("st_heavy_hitters",
      (s, d) => graft.streaming.StreamingAnalytics
        .streamingTopUsers(table(s, d, "events"), capacity = 4096, k = 10)
        .toDF(),
      Some("""SELECT event_type, user_id, cnt, CAST(0 AS BIGINT) AS err,
        |  rnk, n_seen
        |FROM (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY count(*) DESC, user_id) AS BIGINT) AS rnk,
        |    CAST(sum(count(*)) OVER (PARTITION BY event_type) AS BIGINT) AS n_seen
        |  FROM events GROUP BY 1, 2) z
        |WHERE rnk <= 10""".stripMargin)),

    // Stream-stream interval join (StreamingAnalytics.attributionJoin) in
    // its batch-planned form: each view joined to the same user's
    // purchases within the next hour. The STREAMING execution — two file
    // streams, watermarks on both sides, symmetric hash join with
    // watermark-driven state eviction — is StreamingAnalyticsSpec's job;
    // this oracles the join semantics (equi key + time range residual,
    // lag arithmetic) on the identical plan.
    QueryDef("st_stream_join",
      (s, d) => {
        val ev = table(s, d, "events")
        graft.streaming.StreamingAnalytics.attributionJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"))
      },
      Some("""SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us,
        |  CAST(round(p.value * 100) AS BIGINT) AS purchase_value_c
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        |  AND epoch_us(CAST(p.ts AS TIMESTAMP))
        |      <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000""".stripMargin)),

    // Range (interval) COUNT, pair-free: for every error event, how many
    // signups land in the 30 minutes after it (incident-window
    // attribution). Spark plans a raw `s.ts BETWEEN e.ts AND e.ts + W`
    // join as a nested loop — quadratic at corpus scale — and even the
    // bucketized interval-join form (equi-join on W-wide time buckets +
    // residual BETWEEN, this query's original shape) materializes every
    // (error, signup) PAIR: when the corpus densifies M× inside a fixed
    // time span, pairs grow M² while the ANSWER — one count per error —
    // grows M (the x30 measured sweep flagged exactly that, 5.8x on 3x
    // data). A windowed COUNT never needs the pairs: merge signups and
    // per-error window boundaries into one point stream and take the
    // distributed running count of signups at each boundary
    // (TotalOrder.prefixSum — range shuffle + per-partition totals, no
    // SinglePartition window):
    //   n_in_window = (# signups ≤ e+W) − (# signups < e)
    // The pair-producing bucketized form remains the right shape when the
    // OUTPUT is the pairs (st_stream_join's watermark-bounded interval
    // join); for aggregates over the window, the sweep is linear.
    QueryDef("q_range_join",
      (s, d) => {
        val w = 1800000000L // 30 min in micros
        val ev = table(s, d, "events")
          .filter(col("event_type").isin("error", "signup"))
          .select(col("event_id"), col("event_type"), tsMicros.as("us"))
        // one pass emits the point stream: a signup is a +1 count point;
        // an error emits two zero-count probes — `lo` at e−1 (counts
        // signups STRICTLY before the window) and `hi` at e+W (counts
        // through its inclusive end). kind=1 sorts a probe AFTER signups
        // sharing its timestamp, making both bounds inclusive-correct.
        val pts = ev.select(explode(when(col("event_type") === "signup",
            array(struct(col("us").as("t"), lit(0).as("kind"),
              lit(1L).as("v"), lit(0L).as("eid"), lit(0).as("side"))))
          .otherwise(array(
            struct((col("us") - 1).as("t"), lit(1).as("kind"),
              lit(0L).as("v"), col("event_id").as("eid"), lit(0).as("side")),
            struct((col("us") + w).as("t"), lit(1).as("kind"),
              lit(0L).as("v"), col("event_id").as("eid"),
              lit(1).as("side"))))).as("p"))
          .select(col("p.t").as("t"), col("p.kind").as("kind"),
            col("p.v").as("v"), col("p.eid").as("event_id"),
            col("p.side").as("side"))
        val swept = graft.operators.TotalOrder.prefixSum(pts,
          Seq(col("t"), col("kind"), col("event_id"), col("side")),
          "v", "c", 32)
        swept.filter(col("kind") === 1)
          .groupBy("event_id")
          .agg(sum(when(col("side") === 1, col("c")).otherwise(-col("c")))
            .as("n_in_window"))
      },
      Some("""WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS e_us
        |  FROM events WHERE event_type = 'error'),
        |s AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS s_us
        |  FROM events WHERE event_type = 'signup')
        |SELECT e.event_id,
        |  CAST(count(s.s_us) AS BIGINT) AS n_in_window
        |FROM e LEFT JOIN s
        |  ON s.s_us >= e.e_us AND s.s_us <= e.e_us + 1800000000
        |GROUP BY e.event_id""".stripMargin)),

    // Exact per-group percentiles: Spark's `percentile` buffers a
    // value→count map (bounded by DISTINCT values — here integer cents —
    // not row count) and merges distributively; DuckDB's quantile_cont is
    // the same linear-interpolated definition. Inputs are exact longs so
    // the interpolation arithmetic is reproducible across engines. (At
    // 100 TB with an unbounded value domain you'd switch to
    // percentile_approx/t-digest; this is the exact form.)
    QueryDef("q_percentiles",
      (s, d) => table(s, d, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(CAST(round(value * 100) AS BIGINT), 0.5D)").as("p50_c"),
          expr("percentile(CAST(round(value * 100) AS BIGINT), 0.95D)").as("p95_c"),
          max(cents(col("value"))).as("max_c")),
      Some("""SELECT event_type,
        |  quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50_c,
        |  quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) AS p95_c,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_c
        |FROM events GROUP BY event_type""".stripMargin)),

    // Approximate per-group percentiles — the 100 TB regime the exact form
    // above can't reach: `percentile`'s count-map buffer is bounded by
    // DISTINCT values, which for an unbounded domain (raw latencies, money
    // amounts at full precision) grows with the data until it OOMs.
    // `percentile_approx` (Greenwald-Khanna quantile summaries) keeps a
    // buffer bounded by the ACCURACY parameter instead, with a documented
    // guarantee: the returned value's rank is within n/accuracy of the
    // requested rank. The sketch's exact output depends on merge order, so
    // the oracle row hashes the GUARANTEE, not the value: the Spark side
    // recomputes each approx value's true rank and emits whether it is
    // inside the bound (the oracle expects TRUE) — a violated bound is a
    // hash mismatch, caught by the driver.
    QueryDef("q_percentiles_approx",
      (s, d) => {
        val acc = 10000 // rank error <= n/acc (+1 for interpolation slack)
        val ev = table(s, d, "events")
          .select(col("event_type"), cents(col("value")).as("v"))
        val approx = ev.groupBy("event_type").agg(
          expr(s"percentile_approx(v, 0.5D, $acc)").as("a50"),
          expr(s"percentile_approx(v, 0.95D, $acc)").as("a95"))
        val err = col("n").cast("double") / acc + 1
        ev.join(broadcast(approx), "event_type")
          .groupBy("event_type")
          .agg(
            count(lit(1)).cast("long").as("n"),
            sum(when(col("v") < col("a50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("v") <= col("a50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("v") < col("a95"), 1L).otherwise(0L)).as("lt95"),
            sum(when(col("v") <= col("a95"), 1L).otherwise(0L)).as("le95"))
          .select(col("event_type"), col("n"),
            (col("lt50") <= col("n") * 0.5 + err &&
              col("le50") >= col("n") * 0.5 - err).as("p50_ok"),
            (col("lt95") <= col("n") * 0.95 + err &&
              col("le95") >= col("n") * 0.95 - err).as("p95_ok"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY event_type""".stripMargin)),

    // Space-Saving heavy hitters: bounded-memory typed Aggregator, merged
    // across partitions. With capacity >= distinct-key count no counter is
    // ever evicted, so the sketch is EXACT (est = true count, error 0) and
    // the plain GROUP BY oracles the whole distributed reduce/merge path.
    QueryDef("q_heavy_hitters",
      (s, d) => table(s, d, "events")
        .agg(HeavyHitters.topValues(16)(col("event_type")).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h._1").as("value"),
          col("h._2").cast("long").as("est_count"),
          col("h._3").cast("long").as("max_err")),
      Some("""SELECT event_type AS value,
        |  CAST(count(*) AS BIGINT) AS est_count,
        |  CAST(0 AS BIGINT) AS max_err
        |FROM events GROUP BY event_type""".stripMargin)),

    // Distributed total-order rank — the scalable form of
    // row_number() OVER (ORDER BY …), which Spark otherwise plans as a
    // SinglePartition exchange (every row through one task). Range
    // repartition + per-partition offsets; deterministic because
    // (value_c, event_id) is a total order. The oracle runs the
    // single-node window form DuckDB can afford.
    QueryDef("q_global_rank",
      (s, d) => graft.operators.TotalOrder.globalRank(
          table(s, d, "events")
            .select(col("event_id"), cents(col("value")).as("value_c")),
          Seq(col("value_c"), col("event_id")), "rnk", numPartitions = 8)
        .select(col("event_id"), col("value_c"), col("rnk")),
      Some("""SELECT event_id,
        |  CAST(round(value * 100) AS BIGINT) AS value_c,
        |  CAST(row_number() OVER (
        |    ORDER BY CAST(round(value * 100) AS BIGINT), event_id)
        |    AS BIGINT) AS rnk
        |FROM events""".stripMargin)),

    // Z-order locality profile: the Morton interleave of
    // (user_id, value-cents) bucketed by its top 6 bits (64 cells), with
    // each cell's row count and (x, y) bounding box. This oracles the
    // exact bit-interleave arithmetic Layout.writeZOrdered clusters files
    // by, and the bounded boxes ARE the pruning story: a file holding one
    // z-range covers one such box, so predicates on EITHER dimension skip
    // most cells — LayoutSpec measures the file-level effect against a
    // single-column sort. Pure per-row integer arithmetic + one 64-group
    // aggregate: shuffle-free until the final tiny agg.
    QueryDef("q_zorder_buckets",
      (s, d) => {
        import graft.operators.Layout
        val ev = table(s, d, "events")
          .select(col("user_id").as("x"), cents(col("value")).as("y"))
        val mx = ev.agg(max("x").as("xmx"), max("y").as("ymx"))
        ev.crossJoin(broadcast(mx))
          .withColumn("zv", Layout.zval(
            expr("(x * 65535) DIV xmx"), expr("(y * 65535) DIV ymx"), 16))
          .groupBy(expr(s"zv DIV ${1L << 26}").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
      },
      Some("""WITH b AS (SELECT user_id AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |m AS (SELECT max(x) AS xmx, max(y) AS ymx FROM b),
        |sc AS (SELECT x, y, (x * 65535) // xmx AS xs, (y * 65535) // ymx AS ys
        |  FROM b CROSS JOIN m),
        |z AS (SELECT x, y, CAST(list_sum(list_transform(range(0, 16), i ->
        |    (((xs & 65535) >> i) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i AS INT))
        |    + (((ys & 65535) >> i) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i + 1 AS INT))))
        |    AS BIGINT) AS zv
        |  FROM sc)
        |SELECT zv // 67108864 AS bucket, count(*) AS n,
        |  min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY 1""".stripMargin)),

    // Key-skew profile — what you run BEFORE choosing salting / AQE skew
    // hints: the distribution of group sizes for a join/agg key (here
    // events.user_id), as one row of discrete percentiles (p50/p90/p99),
    // max, and the heaviest key's per-mille share. Everything is exact
    // integer arithmetic: the percentile positions are ceil(k*p/100) via
    // integer DIV, and the ranked group sizes come from the DISTRIBUTED
    // total-order rank (range repartition + partition offsets,
    // graft.operators.TotalOrder) — at a billion distinct keys the naive
    // row_number() OVER (ORDER BY n) would funnel every key through one
    // partition, exactly the skew this query is meant to diagnose. The
    // oracle affords the single-node window form.
    QueryDef("dq_skew_profile",
      (s, d) => {
        // persisted once: the RDD boundary inside globalRank blocks
        // exchange reuse, so without this the per-user count aggregate
        // (a full corpus scan + shuffle) would run twice — once feeding
        // the ranked lineage, once for the n_keys/n_rows/max_n stats
        val counts = cached(s, d, "skew_user_counts") {
          table(s, d, "events").groupBy("user_id").agg(count(lit(1)).as("n"))
        }
        val ranked = graft.operators.TotalOrder.globalRank(
          counts, Seq(col("n"), col("user_id")), "rn", numPartitions = 8)
        val k = counts.agg(count(lit(1)).as("n_keys"),
          sum("n").as("n_rows"), max("n").as("max_n"))
        ranked.crossJoin(broadcast(k))
          .groupBy("n_keys", "n_rows", "max_n")
          .agg(
            max(when(col("rn") === expr("(n_keys * 50 + 99) DIV 100"),
              col("n"))).as("p50_n"),
            max(when(col("rn") === expr("(n_keys * 90 + 99) DIV 100"),
              col("n"))).as("p90_n"),
            max(when(col("rn") === expr("(n_keys * 99 + 99) DIV 100"),
              col("n"))).as("p99_n"))
          .select(col("n_keys"), col("n_rows"), col("max_n"),
            col("p50_n"), col("p90_n"), col("p99_n"),
            expr("(max_n * 1000) DIV n_rows").as("top1_share_pm"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT n, row_number() OVER (ORDER BY n, user_id) AS rn FROM c),
        |k AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |    max(n) AS max_n FROM c)
        |SELECT n_keys, n_rows, max_n,
        |  max(CASE WHEN rn = (n_keys * 50 + 99) // 100 THEN n END) AS p50_n,
        |  max(CASE WHEN rn = (n_keys * 90 + 99) // 100 THEN n END) AS p90_n,
        |  max(CASE WHEN rn = (n_keys * 99 + 99) // 100 THEN n END) AS p99_n,
        |  (max_n * 1000) // n_rows AS top1_share_pm
        |FROM r CROSS JOIN k
        |GROUP BY n_keys, n_rows, max_n""".stripMargin)),

    // JOIN-CARDINALITY pre-flight — predict an equi-join's output size
    // WITHOUT running the join: |A ⋈ B| = Σ_k cntA(k)·cntB(k) exactly,
    // computed from the two per-key count aggregates (each a map-side-
    // combined shuffle of its own input, joined key-to-key — the
    // histogram join is |keys|-sized, never |rows|-sized). The
    // companion to dq_skew_profile: that query asks "is one input
    // skewed", this one asks "will the JOIN explode" — max_key_product
    // and its share of the estimate tell you whether a single hot key
    // dominates the output (the decision input for salting /
    // skew-hints). At 100 TB this is the cheap test you run before
    // committing a cluster to a quadratic mistake.
    QueryDef("dq_join_cardinality",
      (s, d) => {
        val a = table(s, d, "events")
          .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("na"))
        val b = table(s, d, "orders")
          .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("nb"))
        a.join(b, "k")
          .select((col("na") * col("nb")).as("prod"))
          .agg(count(lit(1)).as("n_shared_keys"),
            sum("prod").as("est_rows"),
            max("prod").as("max_key_product"))
          .select(col("n_shared_keys"), col("est_rows"),
            col("max_key_product"),
            expr("max_key_product * 1000000 DIV est_rows")
              .as("top1_share_ppm"))
      },
      Some("""WITH a AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS na
        |  FROM events GROUP BY 1),
        |b AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS nb
        |  FROM orders GROUP BY 1),
        |p AS (SELECT na * nb AS prod FROM a JOIN b USING (k))
        |SELECT CAST(count(*) AS BIGINT) AS n_shared_keys,
        |  CAST(sum(prod) AS BIGINT) AS est_rows,
        |  CAST(max(prod) AS BIGINT) AS max_key_product,
        |  CAST(max(prod) AS BIGINT) * 1000000
        |    // CAST(sum(prod) AS BIGINT) AS top1_share_ppm
        |FROM p""".stripMargin)),

    // The WindowTopKRewrite optimizer rule ON the verified surface: this
    // query writes the plain `row_number … <= 2` + drop-the-rank idiom —
    // exactly what a SQL user writes — and runs it on a session clone
    // with the rewrite installed (clone-isolated: sibling queries in the
    // same sweep keep their unrewritten plans). The optimizer replaces
    // the window with the native GroupTopK bounded heap (PlanQualitySpec
    // asserts the rewritten shape, no Window anywhere), and the oracle
    // runs the ORIGINAL window SQL — proving the rewrite row-identical
    // on real data, not just in the unit guards. The sort spec is the
    // plain multi-key `cnt DESC, user_id ASC` tie-broken idiom — the
    // rewrite ranks multi-key specs natively, no packed-key encoding
    // (the old cnt*1e6 packing silently collided once user_id reached
    // 1e6). user_id rides through coalesce(…, -1): parquet columns are
    // nullable in the schema even when the data never is, and the
    // rewrite's soundness guard demands provably non-nullable keys (the
    // heap drops null keys, the window ranks them) — the coalesce is the
    // user-side non-nullability annotation that unlocks it, a no-op on
    // the data.
    QueryDef("q_window_topk_rewritten",
      (s, d) => {
        val iso = s.newSession()
        graft.plans.WindowTopKRewrite.install(iso)
        graft.plans.GroupTopK.install(iso)
        val counts = table(iso, d, "events")
          .groupBy("event_type", "user_id")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("uid", coalesce(col("user_id"), lit(-1L)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("cnt").desc, col("uid").asc)
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select("event_type", "user_id", "cnt")
      },
      Some("""SELECT event_type, user_id, cnt FROM (
        |  SELECT event_type, user_id, cnt, row_number() OVER (
        |      PARTITION BY event_type
        |      ORDER BY cnt DESC, coalesce(user_id, -1) ASC) AS rn
        |  FROM (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
        |        FROM events GROUP BY 1, 2) c) z
        |WHERE rn <= 2""".stripMargin)),

    // The rank() twin: `rank() OVER (…) <= 3` + drop-the-rank rewrites
    // to the heap's WITH-TIES mode — every day tied with the 3rd-busiest
    // day survives, exactly the window's tie-closed survivor set, so the
    // result is deterministic WITHOUT a tiebreaker key (ties are common
    // here by construction: small daily counts collide). The cohort is
    // bounded by the fixture's day span per event type.
    QueryDef("q_window_rank_ties_rewritten",
      (s, d) => {
        val iso = s.newSession()
        graft.plans.WindowTopKRewrite.install(iso)
        graft.plans.GroupTopK.install(iso)
        val daily = table(iso, d, "events")
          .groupBy(col("event_type"),
            unix_micros(date_trunc("day", tsCol)).as("day_us"))
          .agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("cnt").desc)
        daily.withColumn("rk", rank().over(w))
          .filter(col("rk") <= 3)
          .select("event_type", "day_us", "cnt")
      },
      Some("""SELECT event_type, day_us, cnt FROM (
        |  SELECT event_type, day_us, cnt, rank() OVER (
        |      PARTITION BY event_type ORDER BY cnt DESC) AS rk
        |  FROM (SELECT event_type,
        |      CAST(epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS day_us,
        |      CAST(count(*) AS BIGINT) AS cnt
        |    FROM events GROUP BY 1, 2) c) z
        |WHERE rk <= 3""".stripMargin)),

    // SEASONALITY PROFILE — the periodic component of the event stream
    // (the hour-of-day index a capacity planner or anomaly baseline
    // consumes): for each (type, hour-of-day), the ratio of that slot's
    // mean hourly volume to the type's overall mean, in integer ppm —
    // computed as (slot_sum · total_hours · 10⁶) DIV (slot_hours ·
    // total_sum), pure integer products so the index hash-matches.
    // Builds on the same hourly rollup shape as q_anomaly_hours (one
    // map-side-combined shuffle); the per-type totals attach by
    // broadcast; output is |types| × 24 rows regardless of corpus size.
    QueryDef("q_seasonality",
      (s, d) => {
        val hourly = table(s, d, "events")
          .groupBy(col("event_type"),
            call_function("div", tsMicros, lit(3600000000L)).as("hour_idx"))
          .agg(count(lit(1)).as("cnt"))
        val slot = hourly
          .groupBy(col("event_type"), (col("hour_idx") % 24).as("hod"))
          .agg(count(lit(1)).as("slot_hours"), sum("cnt").as("slot_sum"))
        val totals = hourly.groupBy("event_type")
          .agg(count(lit(1)).as("total_hours"), sum("cnt").as("total_sum"))
        slot.join(broadcast(totals), "event_type")
          .select(col("event_type"), col("hod"), col("slot_hours"),
            col("slot_sum"),
            expr("slot_sum * total_hours * 1000000 DIV (slot_hours * total_sum)")
              .as("seasonal_ppm"))
      },
      Some("""WITH hourly AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_idx,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |slot AS (SELECT event_type, hour_idx % 24 AS hod,
        |    CAST(count(*) AS BIGINT) AS slot_hours,
        |    CAST(sum(cnt) AS BIGINT) AS slot_sum
        |  FROM hourly GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS total_hours,
        |    CAST(sum(cnt) AS BIGINT) AS total_sum
        |  FROM hourly GROUP BY 1)
        |SELECT slot.event_type, hod, slot_hours, slot_sum,
        |  slot_sum * total_hours * 1000000 // (slot_hours * total_sum)
        |    AS seasonal_ppm
        |FROM slot JOIN t USING (event_type)""".stripMargin)),

    // CO-OCCURRENCE LIFT — association mining (the market-basket
    // primitive) over behavioral baskets: a basket is one (user, hour),
    // an item is an event type present in it, and each type pair scores
    // lift = P(a,b) / (P(a)·P(b)) in integer ppm — >1e6 means the pair
    // co-occurs more than independence predicts. Scale shape: presence
    // dedup is one (basket, type) distinct; the pair join is keyed by
    // BASKET with per-basket fanout bounded by |types|² (never
    // corpus-quadratic); counts are exact longs and the lift arithmetic
    // is integer products + truncating division, so the oracle agrees
    // bit-for-bit. Output is at most |types|² rows.
    QueryDef("q_cooccurrence_lift",
      (s, d) => {
        val uh = table(s, d, "events")
          .select(col("user_id"),
            call_function("div", tsMicros, lit(3600000000L)).as("hour"),
            col("event_type"))
          .distinct()
        val nb = uh.select("user_id", "hour").distinct()
          .agg(count(lit(1)).as("n_baskets"))
        val nt = uh.groupBy(col("event_type").as("t"))
          .agg(count(lit(1)).as("n_t"))
        val a = uh.select(col("user_id"), col("hour"),
          col("event_type").as("type_a"))
        val b = uh.select(col("user_id"), col("hour"),
          col("event_type").as("type_b"))
        a.join(b, Seq("user_id", "hour"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
          .join(broadcast(nt.select(col("t").as("type_a"),
            col("n_t").as("n_a"))), "type_a")
          .join(broadcast(nt.select(col("t").as("type_b"),
            col("n_t").as("n_b"))), "type_b")
          .crossJoin(broadcast(nb))
          .select(col("type_a"), col("type_b"), col("n_both"),
            expr("n_both * n_baskets * 1000000 DIV (n_a * n_b)")
              .as("lift_ppm"))
      },
      Some("""WITH uh AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
        |    event_type
        |  FROM events),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets
        |  FROM (SELECT DISTINCT user_id, hour FROM uh)),
        |nt AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n_t
        |  FROM uh GROUP BY 1),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM uh a JOIN uh b
        |    ON a.user_id = b.user_id AND a.hour = b.hour
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both,
        |  n_both * n_baskets * 1000000 // (na.n_t * nbt.n_t) AS lift_ppm
        |FROM pairs
        |JOIN nt na ON type_a = na.t
        |JOIN nt nbt ON type_b = nbt.t
        |CROSS JOIN nb""".stripMargin)),

    // Windowed trending: top-3 users per (hour, event_type) by event
    // count — the hourly-leaderboard composition of an event-time window
    // aggregate with the native GroupTopK operator. Exercises GroupTopK
    // on a COMPOSITE group key with a STRUCT score (count desc, user
    // asc via negation — the operator's non-primitive ordering path), so
    // no per-group sort of the full window ever runs; the tiny survivor
    // set (groups x 3) takes its rank from an ordinary window.
    QueryDef("q_trending_topk",
      (s, d) => {
        val hourly = table(s, d, "events")
          .groupBy(date_trunc("hour", tsCol).as("hour"),
            col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("hour")).as("hour_us"),
            col("event_type"), col("user_id"), col("n"))
        val base = hourly.withColumn("sc",
          struct(col("n"), (-col("user_id")).as("nu")))
        val top = graft.plans.GroupTopK(
          base, Seq("hour_us", "event_type"), "sc", k = 3, descending = true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("hour_us", "event_type")
          .orderBy(col("n").desc, col("user_id"))
        top.withColumn("rnk", row_number().over(w).cast("long"))
          .select("hour_us", "event_type", "user_id", "n", "rnk")
      },
      Some("""WITH h AS (
        |  SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_us,
        |    event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT hour_us, event_type, user_id, n, rnk FROM (
        |  SELECT hour_us, event_type, user_id, n,
        |    CAST(row_number() OVER (PARTITION BY hour_us, event_type
        |      ORDER BY n DESC, user_id) AS BIGINT) AS rnk
        |  FROM h) z
        |WHERE rnk <= 3""".stripMargin)),

    // The LEFT OUTER form of the stream-stream interval join: every view
    // emits, purchase columns null when no purchase landed in the
    // horizon. On streaming inputs this is the shape whose unmatched rows
    // can only emit once the purchase-side WATERMARK passes the view's
    // horizon end (the null verdict needs the window provably closed) —
    // state and emission timing are StreamingAnalyticsSpec's job; the
    // oracle replays the batch plan.
    QueryDef("st_stream_join_outer",
      (s, d) => {
        val ev = table(s, d, "events")
        graft.streaming.StreamingAnalytics.attributionJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          joinType = "left_outer")
      },
      Some("""SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us,
        |  CAST(round(p.value * 100) AS BIGINT) AS purchase_value_c
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        |  AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        |  AND epoch_us(CAST(p.ts AS TIMESTAMP))
        |      <= epoch_us(CAST(v.ts AS TIMESTAMP)) + 3600000000""".stripMargin)),

    // WATERMARK LATE-DATA accounting — Structured Streaming's late-row
    // drop rule, surfaced as data: arrival is a deterministic two-batch
    // split (even event_ids land first, odd second — arrival order
    // deliberately decoupled from event time), the watermark after batch
    // one is max(batch-1 event time, truncated to millis as the engine's
    // event-time stats are) minus the 10-minute delay, and a batch-two
    // row is DROPPED iff its hourly window has already closed:
    // window_end ≤ watermark. Every comparison is exact integer micros,
    // so the per-type on-time/late ledger hash-matches the oracle —
    // and StreamingAnalyticsSpec drives the REAL two-batch stream and
    // asserts Spark's own numRowsDroppedByWatermark metric equals this
    // query's n_late_windows total. (The engine filters late keys at
    // the STATE-STORE operator, after map-side partial aggregation — so
    // its metric counts closed (window, key) GROUPS, measured 481 vs
    // 499 raw rows on the sf0.001 fixture; the ledger surfaces both
    // views. The registered plan is the batch-form twin, one scan plus
    // a broadcast scalar attach; the streaming run is the spec's job,
    // like the other st_ rows.)
    QueryDef("st_late_data",
      (s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"), tsMicros.as("us"),
            (col("event_id") % 2 === 0).as("b1"))
        val wm = ev.filter(col("b1"))
          .agg(expr("(max(us) DIV 1000 - 600000) * 1000").as("wm_us"))
        ev.crossJoin(broadcast(wm))
          .withColumn("w_end",
            expr("(us DIV 3600000000 + 1) * 3600000000"))
          .groupBy("event_type")
          .agg(
            sum(when(col("b1"), 1L).otherwise(0L)).as("n_batch1"),
            sum(when(!col("b1") && col("w_end") > col("wm_us"), 1L)
              .otherwise(0L)).as("n_batch2_ontime"),
            sum(when(!col("b1") && col("w_end") <= col("wm_us"), 1L)
              .otherwise(0L)).as("n_batch2_late"),
            countDistinct(when(!col("b1") && col("w_end") <= col("wm_us"),
              col("w_end"))).as("n_late_windows"))
      },
      Some("""WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id % 2 = 0 AS b1
        |  FROM events),
        |wm AS (SELECT (max(us) // 1000 - 600000) * 1000 AS wm_us
        |  FROM ev WHERE b1)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch1,
        |  CAST(sum(CASE WHEN NOT b1
        |    AND (us // 3600000000 + 1) * 3600000000 > wm_us
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_batch2_ontime,
        |  CAST(sum(CASE WHEN NOT b1
        |    AND (us // 3600000000 + 1) * 3600000000 <= wm_us
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_batch2_late,
        |  CAST(count(DISTINCT CASE WHEN NOT b1
        |    AND (us // 3600000000 + 1) * 3600000000 <= wm_us
        |    THEN (us // 3600000000 + 1) * 3600000000 END) AS BIGINT)
        |    AS n_late_windows
        |FROM ev, wm GROUP BY event_type""".stripMargin)),

    // Volume-anomaly detection over hourly event counts: flag hours whose
    // count sits more than 3 population-σ from the per-type mean —
    // entirely in EXACT integer algebra, so the verdict is bit-identical
    // in any engine. (c − μ)² > 9σ² with μ = S/n, σ² = (nQ − S²)/n²
    // rearranges to (n·c − S)² > 9·(nQ − S²): no floating-point
    // mean/stddev ever materializes. The squares/products run in
    // DECIMAL(38,0) on the Spark side and HUGEINT (int128) in the
    // oracle, NOT BIGINT — at 100 TB a per-type event sum S passes ~3e9
    // and S² would silently wrap a 64-bit long. Exactness bound of the
    // widened form: |n·c − S| < 10^19 and 9(nQ − S²) < 10^38 — i.e.
    // ~10^19 events per type before DECIMAL(38,0) itself saturates,
    // comfortably past a 100 TB corpus. Plan shape at scale: the hourly
    // rollup is one map-side combinable shuffle, the per-type stats are
    // a 5-row aggregate joined back by BROADCAST — the hourly stream is
    // never re-shuffled or windowed for the z-test.
    QueryDef("q_anomaly_hours",
      (s, d) => {
        val dec = "decimal(38,0)"
        val hourly = table(s, d, "events")
          .groupBy(col("event_type"),
            unix_micros(date_trunc("hour", tsCol)).as("hour_us"))
          .agg(count(lit(1)).as("cnt"))
        val stats = hourly.groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"), sum("cnt").as("s"),
            // square in decimal BEFORE the sum: cnt² alone can pass
            // Long.MaxValue once an hour holds >3e9 events
            sum(col("cnt").cast(dec) * col("cnt")).as("q"))
        val dev = col("n_hours").cast(dec) * col("cnt") - col("s")
        hourly.join(broadcast(stats), "event_type")
          .select(col("event_type"), col("hour_us"), col("cnt"),
            when(dev * dev > lit(9L).cast(dec) *
              (col("n_hours").cast(dec) * col("q") -
                col("s").cast(dec) * col("s")), 1L).otherwise(0L)
              .cast("long").as("is_anomaly"))
      },
      Some("""WITH h AS (
        |  SELECT event_type,
        |    CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_us,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(cnt) AS BIGINT) AS s,
        |    sum(CAST(cnt AS HUGEINT) * cnt) AS q
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, hour_us, cnt,
        |  CAST(CASE WHEN (CAST(n_hours AS HUGEINT) * cnt - s)
        |      * (CAST(n_hours AS HUGEINT) * cnt - s)
        |    > 9 * (CAST(n_hours AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM h JOIN st ON h.event_type = st.event_type""".stripMargin)),

    // Time-series densification (gap fill): every hour between each
    // type's first and last event exists in the output, zero-filled where
    // no events landed — the step that makes window/rolling math honest
    // over sparse streams (a trailing average over only-observed hours
    // silently shrinks its denominator). The dense hour spine is
    // GENERATED DISTRIBUTED — sequence() + explode from each type's
    // 1-row bounds, never a driver-side loop or a collected calendar —
    // and the observed counts join back by (type, hour). At 100 TB the
    // spine is |types| x |hours| rows built from a broadcast-size bounds
    // table; the hourly rollup stays the only corpus-sized pass.
    QueryDef("q_gap_fill",
      (s, d) => {
        val hourly = table(s, d, "events")
          .groupBy(col("event_type"),
            unix_micros(date_trunc("hour", tsCol)).as("hour_us"))
          .agg(count(lit(1)).as("cnt"))
        val spine = hourly.groupBy("event_type")
          .agg(min("hour_us").as("h0"), max("hour_us").as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"), lit(3600000000L)))
              .as("hour_us"))
        spine.join(hourly, Seq("event_type", "hour_us"), "left")
          .select(col("event_type"), col("hour_us"),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            when(col("cnt").isNull, 1L).otherwise(0L).cast("long")
              .as("was_gap"))
      },
      Some("""WITH h AS (
        |  SELECT event_type,
        |    CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_us,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hour_us) AS h0, max(hour_us) AS h1
        |  FROM h GROUP BY 1),
        |spine AS (SELECT event_type,
        |    unnest(range(h0, h1 + 1, 3600000000)) AS hour_us FROM b)
        |SELECT spine.event_type, spine.hour_us,
        |  CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt,
        |  CAST(CASE WHEN h.cnt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_gap
        |FROM spine LEFT JOIN h ON spine.event_type = h.event_type
        |  AND spine.hour_us = h.hour_us""".stripMargin)),

    // Incremental aggregate maintenance (graft.operators.IncrementalAgg):
    // the per-user spend rollup maintained as BASE state (history) plus a
    // DELTA fold (the latest day) — merge(state(base), state(delta)) must
    // equal the single-pass aggregate, which is exactly what the oracle
    // computes. At 100 TB this is the difference between scanning one
    // day per refresh and rescanning the table; the mergeable-statistics
    // algebra (count/sum/min/max; avg finalized, distinct absent by
    // design) is what makes the persistent state boundary sound.
    QueryDef("q_incr_agg",
      (s, d) => {
        import graft.operators.IncrementalAgg
        val ev = table(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), tsMicros.as("us"),
            cents(col("value")).as("v_c"))
          .select(col("user_id"), expr("us DIV 86400000000").as("day"),
            col("v_c"))
        val mx = ev.agg(max("day").as("max_day"))
        val tagged = ev.crossJoin(broadcast(mx))
        val base = IncrementalAgg.state(
          tagged.filter(col("day") < col("max_day")), Seq("user_id"), col("v_c"))
        val delta = IncrementalAgg.state(
          tagged.filter(col("day") === col("max_day")), Seq("user_id"), col("v_c"))
        IncrementalAgg.finalize(
          IncrementalAgg.merge(Seq("user_id"), base, delta))
      },
      Some("""SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS s_cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_sum,
        |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_min,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_max,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT))
        |    // count(*) AS BIGINT) AS s_avg
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin)),

    // INCREMENTAL JOIN-VIEW maintenance — the join companion of
    // q_incr_agg's mergeable aggregate state: a stored join view
    // J = V ⋈ P refreshes under deltas on BOTH inputs via the
    // distributive delta algebra
    //   J' = Vb⋈Pb (the stored view) ∪ Vb⋈ΔP ∪ ΔV⋈Pb ∪ ΔV⋈ΔP —
    // the three delta terms each carry one |Δ|-sized side, so a daily
    // refresh joins one day against history instead of re-joining
    // history against history (at 100 TB: the delta terms shuffle a
    // day's rows; the base term is the already-materialized view, here
    // recomputed only because the query is self-contained). The four
    // terms partition the output pairs by (base/delta × base/delta)
    // membership — provably disjoint, so unionByName is exact and the
    // single-pass full join (what the oracle runs) must agree row for
    // row. Pairs are keyed (user_id, day) to keep per-key fanout
    // bounded; measures stay integer cents.
    QueryDef("q_incr_join",
      (s, d) => {
        val ev = table(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("user_id"), tsMicros.as("us"), col("event_type"),
            cents(col("value")).as("v_c"))
          .select(col("user_id"), expr("us DIV 86400000000").as("day"),
            col("event_type"), col("v_c"))
        val mx = ev.agg(max("day").as("max_day"))
        val tagged = ev.crossJoin(broadcast(mx))
        def part(t: String, delta: Boolean) = tagged
          .filter(col("event_type") === t &&
            (if (delta) col("day") === col("max_day")
             else col("day") < col("max_day")))
          .select(col("user_id"), col("day"), col("v_c"))
        val (vb, vd) = (part("view", false), part("view", true))
        val (pb, pd) = (part("purchase", false), part("purchase", true))
        def term(a: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame) =
          a.select(col("user_id"), col("day"), col("v_c").as("vv"))
            .join(b.select(col("user_id"), col("day"), col("v_c").as("pv")),
              Seq("user_id", "day"))
        term(vb, pb).unionByName(term(vb, pd))
          .unionByName(term(vd, pb)).unionByName(term(vd, pd))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("vv") + col("pv")).as("s_vc"))
      },
      Some("""WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |v AS (SELECT user_id, day, v_c FROM ev WHERE event_type = 'view'),
        |p AS (SELECT user_id, day, v_c FROM ev WHERE event_type = 'purchase')
        |SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(v.v_c + p.v_c) AS BIGINT) AS s_vc
        |FROM v JOIN p ON v.user_id = p.user_id AND v.day = p.day
        |GROUP BY v.user_id""".stripMargin)),

    // The distinct-count companion to q_incr_agg's mergeable state: exact
    // distincts do NOT fold across deltas, so the incremental form keeps
    // a DataSketches HLL sketch per (type, day) partial and UNIONS
    // sketches at read time — sketch union is associative and lossless
    // w.r.t. the sketch's own error bound, which is what lets a 100 TB
    // pipeline answer "distinct users so far" by folding one day's
    // sketch instead of rescanning history. No SQL oracle (the sketch
    // binary and its estimator are DataSketches-specific; DuckDB's HLL
    // is a different sketch) — OperatorsSpec bounds the estimate against
    // the exact distinct instead (rows-only driver check).
    QueryDef("q_hll_distinct_union",
      (s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"), tsMicros.as("us"), col("user_id"))
          .select(col("event_type"), expr("us DIV 86400000000").as("day"),
            col("user_id"))
        val daily = ev.groupBy("event_type", "day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"),
            expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
      },
      None),

    // KMV (k-minimum-values) distinct sketch — the ORACLE-ABLE
    // counterpart of q_hll_distinct_union: per event type, keep the
    // k=64 smallest distinct 48-bit hashes of user_id (a typed
    // Aggregator with map-side partial merge — each partition reduces
    // to ≤ 64 longs before any shuffle, the bounded-state shape exact
    // distinct can't give at 100 TB), then estimate cardinality from
    // the k-th minimum: est = (k-1)·2^48 / h_(k), exact count when the
    // sketch never filled. Unlike HLL's binary registers, the retained
    // minima are plain integers a SQL engine re-derives with a rank
    // window over distinct hashes, so the WHOLE sketch — state and
    // readout — hash-matches in DuckDB; and unlike HLL it supports set
    // intersection (q_kmv_jaccard below). The hash is the engine's
    // sha256 prefix (both engines produce identical hex), so "random"
    // is reproducible everywhere. n_true is the exact distinct count,
    // carried so the estimate is auditable in one row (same policy as
    // the recall audits).
    QueryDef("q_kmv_distinct",
      (s, d) => {
        val k = KmvK
        val sk = kmvSketches(s, d, k)
        sk.select(col("event_type"),
          size(col("sk")).cast("long").as("n_sketch"),
          when(size(col("sk")) >= k, element_at(col("sk"), k))
            .as("kth_min"),
          when(size(col("sk")) < k, size(col("sk")).cast("long"))
            .otherwise(expr(
              s"CAST(${(k - 1).toLong * (1L << 48)} DIV element_at(sk, $k)" +
                " AS BIGINT)"))
            .as("est_distinct"),
          col("n_true"))
      },
      Some(s"""$KmvRankSql
        |SELECT event_type,
        |  CAST(least(max(nd), $KmvK) AS BIGINT) AS n_sketch,
        |  CAST(max(CASE WHEN rn = $KmvK THEN hv END) AS BIGINT) AS kth_min,
        |  CAST(CASE WHEN max(nd) < $KmvK THEN max(nd)
        |    ELSE ${(KmvK - 1).toLong * (1L << 48)} // max(CASE WHEN rn = $KmvK THEN hv END)
        |    END AS BIGINT) AS est_distinct,
        |  CAST(max(nd) AS BIGINT) AS n_true
        |FROM r GROUP BY event_type""".stripMargin)),

    // KMV set-overlap estimation — the operation HLL cannot do: for
    // every pair of event types, union the two k-minima sketches
    // (k smallest of A_k ∪ B_k = k smallest of A ∪ B, the theta-union
    // identity) and count union minima present in BOTH sketches; the
    // match fraction estimates Jaccard similarity. Everything runs on
    // the ≤ 64-long sketch arrays with array functions — the pair join
    // is |types|², over sketches, never over events — so audience-
    // overlap over a 100 TB event log costs one sketch pass plus a
    // constant-size pair table. Integer-exact (counts and a scaled
    // percentage), so the oracle replays it bit-for-bit.
    QueryDef("q_kmv_jaccard",
      (s, d) => {
        val k = KmvK
        val sk = kmvSketches(s, d, k)
        val a = sk.select(col("event_type").as("type_a"),
          col("sk").as("ska"))
        val b = sk.select(col("event_type").as("type_b"),
          col("sk").as("skb"))
        // |types| rows per side: the cross join is a broadcast over a
        // handful of sketch rows, not a data-scale product
        a.crossJoin(broadcast(b))
          .where(col("type_a") < col("type_b"))
          .withColumn("uk",
            slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
          .select(col("type_a"), col("type_b"),
            size(col("uk")).cast("long").as("n_union"),
            size(array_intersect(col("uk"),
              array_intersect(col("ska"), col("skb"))))
              .cast("long").as("n_match"),
            expr("CAST(100 * size(array_intersect(uk," +
              " array_intersect(ska, skb))) DIV size(uk) AS BIGINT)")
              .as("jaccard_pct"))
      },
      Some(s"""$KmvRankSql,
        |sk AS (SELECT event_type, hv FROM r WHERE rn <= $KmvK),
        |types AS (SELECT DISTINCT event_type FROM events),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM types a JOIN types b ON a.event_type < b.event_type),
        |u AS (SELECT type_a, type_b, hv,
        |    row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv)
        |      AS urn
        |  FROM (SELECT DISTINCT p.type_a, p.type_b, s.hv
        |    FROM pairs p JOIN sk s
        |      ON s.event_type = p.type_a OR s.event_type = p.type_b)),
        |uk AS (SELECT type_a, type_b, hv FROM u WHERE urn <= $KmvK),
        |m AS (SELECT uk.type_a, uk.type_b,
        |    count(*) AS n_union,
        |    sum(CASE WHEN sa.hv IS NOT NULL AND sb.hv IS NOT NULL
        |      THEN 1 ELSE 0 END) AS n_match
        |  FROM uk
        |  LEFT JOIN sk sa ON sa.event_type = uk.type_a AND sa.hv = uk.hv
        |  LEFT JOIN sk sb ON sb.event_type = uk.type_b AND sb.hv = uk.hv
        |  GROUP BY uk.type_a, uk.type_b)
        |SELECT type_a, type_b, CAST(n_union AS BIGINT) AS n_union,
        |  CAST(n_match AS BIGINT) AS n_match,
        |  CAST(100 * n_match // n_union AS BIGINT) AS jaccard_pct
        |FROM m""".stripMargin)),

    // Count-Min sketch point queries — the frequency-estimation member of
    // the mergeable-sketch family (HLL → cardinality, KMV → cardinality +
    // intersection, Space-Saving → the heavy keys themselves, GK →
    // quantiles; CMS → ANY key's approximate count without storing keys).
    // The sketch is built as a RELATION (graft.operators.CountMin): one
    // explode×d + groupBy pass whose shuffle is capped at d·w cells per
    // partition by partial aggregation — bounded state at any input
    // scale, and two sketches merge by union+sum. Here: d=4 rows × 1024
    // buckets over the ~17.8k distinct cents values of events.value
    // (sf0.1), then the 10 highest-true-count values are point-estimated
    // back from the sketch. The overestimate column makes the CMS
    // guarantee auditable: always ≥ 0, bounded by the row-collision load.
    // Both engines replay the 48-bit sha-prefix bucket hash digit-exact.
    QueryDef("q_cms_heavy",
      (s, d) => {
        import graft.operators.CountMin
        val ev = table(s, d, "events").select(cents(col("value")).as("kv"))
        val sk = CountMin.sketch(ev, col("kv"), CmsD, CmsW)
        val top = ev.groupBy("kv").agg(count(lit(1)).as("n_true"))
          .orderBy(col("n_true").desc, col("kv")).limit(10)
        CountMin.estimate(sk, top, "kv", CmsD, CmsW)
          .select(col("kv").as("value_cents"), col("n_true"),
            col("cms_est"),
            (col("cms_est") - col("n_true")).as("overestimate"))
      },
      Some(s"""WITH k AS (SELECT CAST(round(value*100) AS BIGINT) AS kv
        |  FROM events),
        |kh AS (SELECT kv, ${cmsHash48Sql("kv")} AS hv FROM k),
        |sk AS (SELECT j, ${cmsBucketOfSql("j", "hv")} AS bucket,
        |    count(*) AS cnt
        |  FROM kh CROSS JOIN range(0, $CmsD) t(j)
        |  GROUP BY 1, 2),
        |top AS (SELECT kv, count(*) AS n_true FROM k GROUP BY 1
        |  ORDER BY n_true DESC, kv LIMIT 10),
        |toph AS (SELECT kv, n_true, ${cmsHash48Sql("kv")} AS hv FROM top),
        |e AS (SELECT t.kv, t.n_true, min(coalesce(s.cnt, 0)) AS cms_est
        |  FROM toph t CROSS JOIN range(0, $CmsD) r(j)
        |  LEFT JOIN sk s ON s.j = r.j
        |    AND s.bucket = ${cmsBucketOfSql("r.j", "t.hv")}
        |  GROUP BY 1, 2)
        |SELECT kv AS value_cents, CAST(n_true AS BIGINT) AS n_true,
        |  CAST(cms_est AS BIGINT) AS cms_est,
        |  CAST(cms_est - n_true AS BIGINT) AS overestimate
        |FROM e""".stripMargin)),

    // Bloom-filter runtime join pruning — the semi-join reduction every
    // 100 TB fact⋈dim join wants: build a deterministic Bloom filter
    // (k=3 md5-prefix hash rows, 20-bit positions) from the FILTERED dim
    // keys, and apply it to the fact side as THREE BROADCAST SEMI-JOINS
    // — scalar map-side filters, no explode, no row-id re-group, no
    // extra shuffle — before the exact join. Bloom filters have no false
    // negatives, so the final aggregate provably equals the plain join
    // (that is what the oracle's exact arithmetic checks); false
    // positives are removed by the exact broadcast join that follows.
    // The n_bloom_pass / n_exact audit columns expose the pruning rate
    // and the FP overshoot (here 60k lineitem rows → ~2% survive the
    // bloom). This is the explicit, engine-portable form of what
    // spark.sql.optimizer.runtime.bloomFilter.enabled injects
    // automatically; PlanQualitySpec asserts the semi-join/broadcast
    // shape and the measured pruning.
    QueryDef("q_bloom_join_prune",
      (s, d) => {
        val dim = table(s, d, "part").filter(col("p_size") === 1)
          .select(col("p_partkey"), col("p_brand"))
        def pos(j: Int, key: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          substring(md5(concat(lit(s"$j|"), key.cast("string"))), 1, 5)
        val fact = table(s, d, "lineitem")
          .select(col("l_partkey"), col("l_extendedprice"))
        val cand = (0 until 3).foldLeft(fact) { (df, j) =>
          val fb = dim
            .select(pos(j, col("p_partkey")).as(s"pos$j")).distinct()
          df.withColumn(s"pos$j", pos(j, col("l_partkey")))
            .join(broadcast(fb), Seq(s"pos$j"), "left_semi")
        }
        val nBloom = cand.agg(count(lit(1)).as("n_bloom_pass"))
        val joined = cand
          .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
        val nExact = joined.agg(count(lit(1)).as("n_exact"))
        joined.groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("revenue_c"))
          .crossJoin(broadcast(nBloom))
          .crossJoin(broadcast(nExact))
      },
      Some("""WITH dim AS (SELECT p_partkey, p_brand FROM part
        |  WHERE p_size = 1),
        |cand AS (SELECT l_partkey, l_extendedprice FROM lineitem WHERE
        |  substr(md5('0|' || CAST(l_partkey AS VARCHAR)), 1, 5) IN
        |    (SELECT DISTINCT
        |      substr(md5('0|' || CAST(p_partkey AS VARCHAR)), 1, 5)
        |     FROM dim)
        |  AND substr(md5('1|' || CAST(l_partkey AS VARCHAR)), 1, 5) IN
        |    (SELECT DISTINCT
        |      substr(md5('1|' || CAST(p_partkey AS VARCHAR)), 1, 5)
        |     FROM dim)
        |  AND substr(md5('2|' || CAST(l_partkey AS VARCHAR)), 1, 5) IN
        |    (SELECT DISTINCT
        |      substr(md5('2|' || CAST(p_partkey AS VARCHAR)), 1, 5)
        |     FROM dim)),
        |nb AS (SELECT count(*) AS n_bloom_pass FROM cand),
        |j AS (SELECT d.p_brand, c.l_extendedprice FROM cand c
        |  JOIN dim d ON c.l_partkey = d.p_partkey),
        |ne AS (SELECT count(*) AS n_exact FROM j)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_c,
        |  n_bloom_pass, n_exact
        |FROM j CROSS JOIN nb CROSS JOIN ne
        |GROUP BY p_brand, n_bloom_pass, n_exact""".stripMargin)),

    // Incremental QUANTILE maintenance — the percentile companion of
    // q_incr_agg/q_hll_distinct_union: per (type, day) partial state is a
    // bounded-width HISTOGRAM (value-cents DIV 50 buckets — mergeable by
    // plain count addition, the property GK/t-digest sketches buy with
    // far more machinery), and refresh-time merge is one sum per bucket —
    // a new day APPENDS its histogram, history is never rescanned. The
    // quantile readout walks the merged cumulative histogram to the
    // ceil(n·p) rank bucket and reports its lower bound: error bounded by
    // the bin width by construction, and everything is exact integer
    // arithmetic — unlike sketch binaries, the state AND the readout are
    // engine-portable, so the oracle replays both bit-for-bit.
    QueryDef("q_incr_percentiles",
      (s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"), tsMicros.as("us"),
            cents(col("value")).as("v"))
          .select(col("event_type"), expr("us DIV 86400000000").as("day"),
            expr("v DIV 50").as("bucket"))
        // the stored per-day partials (what a refresh persists)
        val daily = ev.groupBy("event_type", "day", "bucket")
          .agg(count(lit(1)).as("cnt"))
        // refresh-time merge: one sum per (type, bucket)
        val merged = daily.groupBy("event_type", "bucket")
          .agg(sum("cnt").as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        val cum = merged
          .withColumn("cum", sum("cnt").over(w))
          .withColumn("n", sum("cnt").over(
            org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        cum.groupBy("event_type")
          .agg(max(col("n")).as("n"),
            min(when(col("cum") * 100 >= col("n") * 50, col("bucket")))
              .as("p50_bucket"),
            min(when(col("cum") * 100 >= col("n") * 95, col("bucket")))
              .as("p95_bucket"))
          .select(col("event_type"), col("n"),
            (col("p50_bucket") * 50).as("p50_lo_c"),
            (col("p95_bucket") * 50).as("p95_lo_c"))
      },
      Some("""WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) // 50 AS bucket
        |  FROM events),
        |daily AS (SELECT event_type, day, bucket, count(*) AS cnt
        |  FROM ev GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM daily GROUP BY 1, 2),
        |cum AS (SELECT event_type, bucket, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM merged)
        |SELECT event_type, max(n) AS n,
        |  min(CASE WHEN cum * 100 >= n * 50 THEN bucket END) * 50 AS p50_lo_c,
        |  min(CASE WHEN cum * 100 >= n * 95 THEN bucket END) * 50 AS p95_lo_c
        |FROM cum GROUP BY event_type""".stripMargin)),

    // Peak concurrency — the classic interval-sweep analytic (max
    // simultaneously-open sessions): sessions become +1/-1 boundary
    // events, concurrency is the RUNNING SUM of deltas in time order,
    // the answer its max. The global running sum is exactly the
    // SinglePartition window cliff, so the sweep runs on the
    // DISTRIBUTED prefix sum (graft.operators.TotalOrder.prefixSum:
    // range shuffle + totals-only pass + parallel emit). Boundary
    // ordering is end-INCLUSIVE (+1 sorts before -1 at equal times via
    // d DESC), so touching sessions count as concurrent and the
    // running sum never dips negative; the user_id tiebreak makes the
    // whole sweep a pure function of the data.
    QueryDef("q_peak_concurrency",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // persisted once: prefixSum's internal RDD boundary blocks
        // exchange reuse, so without this the sessionization lineage
        // (full events shuffle + window + groupBy) would rebuild for
        // BOTH the boundary sweep and the n_sessions count
        val sessions = cached(s, d, "peak_sessions") {
          val ev = table(s, d, "events")
            .select(col("user_id"), tsMicros.as("us"))
          val w = Window.partitionBy("user_id").orderBy("us")
          ev
            .withColumn("prev", lag("us", 1).over(w))
            .withColumn("brk", when(col("prev").isNull ||
              col("us") - col("prev") > 1800000000L, 1L).otherwise(0L))
            .withColumn("sid", sum("brk").over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .groupBy("user_id", "sid")
            .agg(min("us").as("s_us"), max("us").as("e_us"))
        }
        val bounds = sessions.select(col("s_us").as("t"),
            lit(1L).as("dlt"), col("user_id"))
          .unionByName(sessions.select(col("e_us").as("t"),
            lit(-1L).as("dlt"), col("user_id")))
        val swept = graft.operators.TotalOrder.prefixSum(bounds,
          Seq(col("t"), col("dlt").desc, col("user_id")), "dlt", "cum", 8)
        sessions.agg(count(lit(1)).as("n_sessions"))
          .crossJoin(broadcast(
            swept.agg(max("cum").as("peak_concurrent"))))
      },
      Some("""WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |o AS (SELECT user_id, us,
        |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        |s AS (SELECT user_id, us, CASE WHEN prev IS NULL
        |    OR us - prev > 1800000000 THEN 1 ELSE 0 END AS brk FROM o),
        |g AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM s),
        |iv AS (SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us
        |  FROM g GROUP BY 1, 2),
        |b AS (SELECT s_us AS t, CAST(1 AS BIGINT) AS dlt, user_id FROM iv
        |  UNION ALL
        |  SELECT e_us, CAST(-1 AS BIGINT), user_id FROM iv),
        |r AS (SELECT sum(dlt) OVER (ORDER BY t, dlt DESC, user_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM b)
        |SELECT CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_sessions,
        |  CAST(max(cum) AS BIGINT) AS peak_concurrent
        |FROM r""".stripMargin)),

    // Skyline (pareto frontier) — the preference-query operator: per
    // event type, the hours not DOMINATED in (event volume, distinct
    // users) — dominated meaning another hour is >= on both measures and
    // strictly better on one. The scale discipline is REDUCE FIRST: the
    // dominance test runs on the aggregated (type, hour) cells — bounded
    // by the time domain, thousands of rows — never on raw events, so
    // the quadratic dominance join is quadratic in CELLS. The cell table
    // broadcasts; the anti-join is a BroadcastNestedLoopJoin, not a
    // shuffled cartesian (PlanQualitySpec's no-cartesian sweep covers
    // it like every other registered query).
    QueryDef("q_skyline",
      (s, d) => {
        val cells = table(s, d, "events")
          .groupBy(col("event_type"),
            unix_micros(date_trunc("hour", tsCol)).as("hour_us"))
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("user_id")).as("nd"))
        val rivals = cells.select(col("event_type").as("q_t"),
          col("cnt").as("q_cnt"), col("nd").as("q_nd"))
        cells.join(broadcast(rivals),
            col("q_t") === col("event_type") &&
              col("q_cnt") >= col("cnt") && col("q_nd") >= col("nd") &&
              (col("q_cnt") > col("cnt") || col("q_nd") > col("nd")),
            "left_anti")
          .select("event_type", "hour_us", "cnt", "nd")
      },
      Some("""WITH h AS (
        |  SELECT event_type,
        |    CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_us,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS nd
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hour_us, cnt, nd FROM h p
        |WHERE NOT EXISTS (SELECT 1 FROM h q
        |  WHERE q.event_type = p.event_type
        |    AND q.cnt >= p.cnt AND q.nd >= p.nd
        |    AND (q.cnt > p.cnt OR q.nd > p.nd))""".stripMargin))
  )
}

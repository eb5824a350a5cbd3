package graft

import org.apache.spark.sql.functions._

/** Runtime scale machinery the engine leans on at 100 TB, demonstrated on
  * an isolated `newSession` (own SQLConf, shared context — conf changes
  * cannot leak into concurrently running suites):
  *
  *  - injected runtime bloom filters: a selective dimension predicate is
  *    turned into a bloom-filter semi-filter on the fact side, pruning
  *    shuffle input before the join (thresholds forced to 0 here because
  *    the local fixtures are far below the 10 MB/10 GB production
  *    defaults);
  *  - AQE skew-join splitting: a hot key's shuffle partition is split
  *    into sub-partitions at runtime — the runtime counterpart of
  *    `SkewTools.saltedJoin`'s plan-time salting.
  */
class ScaleFeaturesSpec extends SparkSpec {

  test("runtime bloom filter prunes the fact side of a selective join") {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // creationSideThreshold is a MAXIMUM (the filter-building side must be
    // small); applicationSideScanSizeThreshold is a MINIMUM (the pruned
    // side must be big). Local fixtures are tiny, so only the minimum
    // needs lowering.
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val l = s.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val o = s.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
    val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val optimized = j.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain") ||
      optimized.toLowerCase.contains("bloomfilter"),
      s"expected an injected bloom filter in:\n${optimized.take(1500)}")

    // pruning must not change the answer
    val plain = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .join(spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(j.collect().toSeq == plain.collect().toSeq)
  }

  test("AQE splits a skewed join partition at runtime") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._

    // key 7 owns ~95% of the fact rows; the dim side is uniform
    val fact = ((1 to 200000).map(i => (7L, s"payload-$i")) ++
      (1 to 10000).map(i => (i.toLong % 100, s"p-$i")))
      .toDF("k", "payload").repartition(8)
    val dim = (0L to 99L).map(k => (k, s"attr-$k")).toDF("k2", "attr")
    val joined = fact.join(dim, $"k" === $"k2")
      .groupBy("attr").agg(count(lit(1)).as("n"))

    val rows = joined.collect()
    assert(rows.map(_.getLong(1)).sum == 210000L)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"expected a skew-split join in:\n${finalPlan.take(1500)}")
  }

  test("plain, salted, and AQE-skew-split joins agree row-for-row on a planted hot key") {
    // The three defenses against join skew must be RESULT-IDENTICAL:
    // 1. the plain equi-join (ground truth; AQE off, one reducer eats
    //    the hot key),
    // 2. AQE's runtime skew split (the first line of defense at 100 TB —
    //    no plan change, the hot partition splits at runtime),
    // 3. SkewTools.saltedJoin's plan-time salting (for when the skew is
    //    known ahead of time or AQE is unavailable, e.g. streaming
    //    micro-batches).
    // Salting is still REQUIRED for aggregation skew: AQE re-plans only
    // joins, a hot groupBy key still lands on one reducer — asserted
    // below by running saltedSumCount under full AQE and checking it
    // agrees with the direct aggregate.
    import org.apache.spark.sql.DataFrame
    def fixture(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      // key 7 owns ~95% of the fact rows; the dim side is uniform
      val fact = ((1 to 200000).map(i => (7L, i.toLong)) ++
        (1 to 10000).map(i => (i.toLong % 100, i.toLong)))
        .toDF("k", "v").repartition(8)
      val dim = (0L to 99L).map(k => (k, s"attr-$k")).toDF("k2", "attr")
      (fact, dim)
    }
    def summarize(df: DataFrame): Seq[(String, Long, Long)] =
      df.groupBy("attr").agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .orderBy("attr").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    val sPlain = spark.newSession()
    sPlain.conf.set("spark.sql.adaptive.enabled", "false")
    sPlain.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (f1, d1) = fixture(sPlain)
    val plain = summarize(f1.join(d1, col("k") === col("k2")))
    assert(plain.map(_._2).sum == 210000L)

    val sAqe = spark.newSession()
    sAqe.conf.set("spark.sql.adaptive.enabled", "true")
    sAqe.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sAqe.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    sAqe.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    sAqe.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    sAqe.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    sAqe.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (f2, d2) = fixture(sAqe)
    val joinedAqe = f2.join(d2, col("k") === col("k2"))
      .groupBy("attr").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    // collect THIS frame (not an orderBy derivative) so its adaptive
    // plan finalizes and the skew assertion reads the executed plan
    val aqe = joinedAqe.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // the identity claim must be about a join that GENUINELY split
    assert(joinedAqe.queryExecution.executedPlan.toString.contains("skew=true"),
      "the AQE leg must actually take the skew-split path")
    assert(aqe == plain, "AQE skew split changed the result")

    val (f3, d3) = fixture(sPlain)
    val salted = summarize(
      graft.operators.SkewTools.saltedJoin(f3, d3, "k", "k2", salts = 16)
        .select("attr", "v"))
    assert(salted == plain, "plan-time salting changed the result")

    // aggregation skew: AQE does NOT re-plan it, salting must
    val (f4, _) = fixture(sAqe)
    val direct = f4.groupBy("k")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val saltedAgg = graft.operators.SkewTools
      .saltedSumCount(f4, Seq("k"), "v", salts = 16)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(saltedAgg == direct, "salted aggregation changed the result")
  }

  test("dynamic partition pruning skips partitions via the dim filter") {
    // the fourth runtime scale lever: a fact table partitioned by day,
    // joined to a dimension whose FILTER (not the fact's) decides which
    // days matter — DPP turns the dim-side predicate into a runtime
    // partition filter on the fact scan, so only the matching day
    // directories are read. This is what makes star-schema queries over a
    // 100 TB day-partitioned events table read one day, not the table.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    // plain physical plan so the scan leaves (and their metrics) are
    // directly reachable — DPP itself is an optimizer rule, not AQE
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._

    val out = tmpDir("dpp")
    val base = 1700000000000000L
    val rows = for (d <- 0 until 8; i <- 0 until 50)
      yield (d * 50 + i.toLong, base + d * 86400000000L + i * 1000000L)
    graft.operators.Layout.writeDayPartitioned(
      rows.toDF("event_id", "ts_us"), col("ts_us"), out,
      sortCols = Seq("event_id"))

    // dim: day -> campaign, with exactly one 'active' day (the partition
    // column reads back as DATE; keep the dim side in date space so the
    // join key is exactly the partition column). The dim must be a REAL
    // scan with a filter on top — a LocalRelation constant-folds the
    // predicate away and DPP's selective-filter pattern never matches.
    val fact = s.read.parquet(out)
    val dimOut = tmpDir("dpp_dim")
    fact.select(date_format($"day", "yyyy-MM-dd").as("ds"))
      .distinct().collect().map(_.getString(0))
      .sorted.zipWithIndex
      .map { case (day, i) => (day, if (i == 2) "active" else "done") }
      .toSeq.toDF("d_day_s", "status")
      .select(to_date($"d_day_s").as("d_day"), $"status")
      .write.mode("overwrite").parquet(dimOut)
    val dim = s.read.parquet(dimOut)
    val j = fact.join(dim, $"day" === $"d_day")
      .filter($"status" === "active")
      .agg(count(lit(1)).as("n"))

    assert(j.collect().head.getLong(0) == 50L)
    val planned = j.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruningexpression"),
      s"expected DPP on the fact scan in:\n${planned.take(2000)}")
    // the fact scan's partition metric confirms pruning actually happened
    val scan = j.queryExecution.executedPlan.collectLeaves()
      .filter(_.nodeName.toLowerCase.contains("scan"))
      .filter(_.toString.contains(out)) // the fact side, not the dim
    val read = scan.flatMap(_.metrics.get("numPartitions").map(_.value))
    assert(read.nonEmpty && read.sum <= 2,
      s"DPP must read ~1 of 8 day partitions, read ${read.sum}")
  }

  test("incremental join algebra equals the single-pass full join") {
    // independent witness for q_incr_join: the four-term delta union must
    // reproduce the plain recompute exactly (same groups, same totals)
    import graft.queries.Q
    val dir = "/root/testdata/sf0.001"
    val ev = Q.table(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"),
        call_function("div", Q.tsMicros, lit(86400000000L)).as("day"),
        col("event_type"), round(col("value") * 100).cast("long").as("v_c"))
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("day"), col("v_c"))
    val full = side("view")
      .join(side("purchase").withColumnRenamed("v_c", "pv"), Seq("user_id", "day"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("v_c") + col("pv")).as("s_vc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incr = SparkEntry.queries("q_incr_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr == full,
      s"delta algebra diverged: extra=${(incr -- full).take(3)} missing=${(full -- incr).take(3)}")
  }

  test("join-cardinality estimate equals the executed join's row count") {
    // Σ cntA(k)·cntB(k) is EXACT for an equi-join — the pre-flight must
    // predict precisely what running the join produces
    import graft.queries.Q
    val dir = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("dq_join_cardinality")(spark, dir)
      .select("est_rows").collect().head.getLong(0)
    val actual = Q.table(spark, dir, "events").select(col("user_id"))
      .join(Q.table(spark, dir, "orders")
        .select(col("o_custkey").as("user_id")), "user_id")
      .count()
    assert(est == actual, s"estimated $est, executed join has $actual")
  }

  test("transition matrix rows are proper ppm distributions") {
    import graft.queries.Q
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_event_transitions")(spark, dir)
      .select("prev_type", "n_obs", "p_ppm")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every row's ppm is the truncated share; a row-group sums to 1e6
    // minus at most (|types| - 1) truncation units
    rows.groupBy(_._1).foreach { case (t, g) =>
      val s = g.map(_._3).sum
      assert(s <= 1000000L && s > 1000000L - g.length,
        s"row $t ppm sum $s out of range")
    }
    // pair conservation: every user with n events contributes n - 1 pairs
    val ev = Q.table(spark, dir, "events")
    val want = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._2).sum == want)
  }

  test("co-occurrence lift hits the closed form on a planted correlation") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(hour: Int) = new Timestamp(hour * 3600000L)
    // 4 baskets (user 1, hours 0-3): 'a' and 'b' together in 2 baskets,
    // 'c' alone in the other 2 → lift(a,b) = (2·4)/(2·2) = 2.0;
    // lift(a,c) has n_both = 0, so the pair never surfaces
    val rows = Seq(
      (t(0), 1L, "a"), (t(0), 1L, "b"),
      (t(1), 1L, "a"), (t(1), 1L, "b"),
      (t(2), 1L, "c"), (t(3), 1L, "c"))
    val dir = tmpDir("lift")
    rows.toDF("ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_cooccurrence_lift")(spark, dir)
      .select("type_a", "type_b", "n_both", "lift_ppm")
      .as[(String, String, Long, Long)].collect().toList
    assert(out == List(("a", "b", 2L, 2000000L)), s"got $out")
  }

  test("seasonality indices are hour-weighted-neutral and conserve volume") {
    import graft.queries.Q
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_seasonality")(spark, dir)
      .select("event_type", "slot_hours", "slot_sum", "seasonal_ppm")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Q.table(spark, dir, "events")
    val totals = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (t, g) =>
      // slot sums partition the type's events exactly
      assert(g.map(_._3).sum == totals(t), s"$t volume not conserved")
      // the slot-hour-weighted mean index is 1e6 up to truncation
      val hours = g.map(_._2).sum
      val wmean = g.map(x => x._2 * x._4).sum / hours
      assert(math.abs(wmean - 1000000L) <= g.length,
        s"$t weighted mean index $wmean")
    }
  }
}

package graft

import graft.ingest.{CsvWarehouse, IngestPipeline}
import graft.ledger.LedgerStore
import graft.operators.{EnvelopeBus, SkewTools}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** EnvelopeBus (S4/S5 externalized), SkewTools (salted aggregation), and
  * CsvWarehouse (the columnar load extension point).
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("envelope bus round-trips envelopes, including escaping") {
    val dir = tmpDir("bus")
    val bus = new EnvelopeBus(spark, dir)
    val out = Seq(
      ("ce05376591fe5c7d", "bkt", "a.csv"),
      ("deadbeef00000000", "bkt", "we\"ird\\name.csv"))
      .toDF("upload_id", "bucket_name", "file_name")
    bus.publish(out)
    val back = bus.readAll().orderBy("upload_id")
      .as[(String, String, String)].collect().toSeq
    assert(back == Seq(
      ("ce05376591fe5c7d", "bkt", "a.csv"),
      ("deadbeef00000000", "bkt", "we\"ird\\name.csv")))

    // second publish appends (at-least-once bus, consumer dedups by ledger)
    bus.publish(out.limit(1))
    assert(bus.readAll().count() == 3)

    // streaming subscriber drains the same messages
    val q = bus.readStreaming().writeStream.format("memory")
      .queryName("bus_drain").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("bus_drain").count() == 3)
  }

  test("as-of join: latest version at-or-before, never the future") {
    import graft.operators.AsOfJoin
    val dims = Seq(
      (1L, 100L, Some(10L)), (1L, 200L, Some(20L)), // user 1: t=100, 200
      (2L, 500L, Some(50L)),            // user 2: version after their fact
      (3L, 300L, Some(31L)), (3L, 300L, Some(30L)), // equal-time tie -> max
      (5L, 100L, Some(7L)), (5L, 200L, None)) // user 5: LATEST attr is null
      .toDF("user_id", "us", "profile_c")
    val facts = Seq(
      (11L, 1L, 150L), // between versions -> 10
      (12L, 1L, 200L), // exactly at version time -> 20 (at-or-before)
      (13L, 2L, 400L), // only future version -> null
      (14L, 3L, 301L), // tie at t=300 -> deterministic max = 31
      (15L, 4L, 100L), // no versions at all -> null
      (16L, 5L, 300L)) // latest version's attr IS null -> null, not 7
      .toDF("event_id", "user_id", "us")
    val got = AsOfJoin.pointInTime(facts, dims, "user_id", "event_id",
        "us", "us", "profile_c", "p")
      .select("event_id", "p").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == Map(11L -> 10L, 12L -> 20L, 13L -> -1L,
      14L -> 31L, 15L -> -1L, 16L -> -1L))
  }

  test("as-of join: null keys never match, non-long fact ids survive") {
    import graft.operators.AsOfJoin
    // SQL equi-join semantics: a NULL-key version matches NOTHING, and a
    // NULL-key fact picks up nothing — the window-partition form must not
    // group the nulls together and leak the version's attribute
    val dims = Seq((Option.empty[Long], 5L, 42L), (Some(1L), 5L, 7L))
      .toDF("user_id", "us", "profile_c")
    val facts = Seq(("f-null", Option.empty[Long], 10L),
      ("f-one", Some(1L), 10L))
      .toDF("event_id", "user_id", "us") // STRING fact id: must not null out
    val got = AsOfJoin.pointInTime(facts, dims, "user_id", "event_id",
        "us", "us", "profile_c", "p")
      .select("event_id", "p").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == Map("f-null" -> -1L, "f-one" -> 7L))
  }

  test("salted aggregation equals direct aggregation exactly") {
    // skewed input: user 7 owns 80% of rows
    val rows = (1 to 8000).map(i => (7L, 3L)) ++
      (1 to 2000).map(i => (i.toLong % 50, 2L))
    val df = rows.toDF("user_id", "v").repartition(16)
    val direct = df.groupBy("user_id")
      .agg(sum($"v").as("sum_value"), count(lit(1)).as("n"))
      .orderBy("user_id").collect()
    val salted = SkewTools.saltedSumCount(df, Seq("user_id"), "v", salts = 8)
      .orderBy("user_id").collect()
    assert(salted.toSeq == direct.toSeq)
  }

  test("salted join is row-identical to the plain equi-join under skew") {
    // fact: user 7 owns 80% of rows; build: one attribute row per user
    val fact = ((1 to 8000).map(_ => (7L, 1L)) ++
      (1 to 2000).map(i => (i.toLong % 50, 2L))).toDF("user_id", "v")
      .repartition(16)
    val build = (0L to 49L).map(u => (u, s"seg${u % 5}")).toDF("key", "seg")
    val direct = fact.join(build, $"user_id" === $"key")
      .groupBy("seg").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .orderBy("seg").collect()
    val salted = SkewTools.saltedJoin(fact, build, "user_id", "key", salts = 8)
      .groupBy("seg").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .orderBy("seg").collect()
    assert(salted.toSeq == direct.toSeq)
    // row identity, not just aggregate identity
    assert(SkewTools.saltedJoin(fact, build, "user_id", "key", salts = 8)
      .count() == fact.join(build, $"user_id" === $"key").count())
  }

  test("csv warehouse loads done uploads by header group, idempotently") {
    val inbox = tmpDir("wh-inbox")
    def put(n: String, c: String) = Files.write(Paths.get(inbox, n), c.getBytes("UTF-8"))
    put("a1.csv", "id,name\n1,ant\n2,bee\n")
    put("a2.csv", "id,name\n3,cow\n")
    put("b1.csv", "x,y,z\n9,8,7\n")
    put("empty-ok.csv", "\n") // passes validation (2 split elements), no data columns
    val store = new LedgerStore(spark, tmpDir("wh-ledger"))
    val pipe = new IngestPipeline(spark, store, tmpDir("wh-q"))
    pipe.runOnce(inbox)

    val whDir = tmpDir("warehouse")
    val wh = new CsvWarehouse(spark, whDir)
    val (tables, rows) = wh.loadDone(store)
    assert(tables == 2 && rows == 4) // {id,name} table: 3 rows; {x,y,z}: 1

    val sigs = wh.tables()
    assert(sigs.length == 2)
    val idName = sigs.map(wh.table).find(_.columns.contains("name")).get
    assert(idName.count() == 3)
    assert(idName.select("_upload_id").distinct().count() == 2)

    // idempotent reload: same partitions overwritten, no duplication
    val (_, rows2) = wh.loadDone(store)
    assert(rows2 == 4)
  }

  test("csv warehouse schema inference loads typed columns (opt-in)") {
    val inbox = tmpDir("wht-inbox")
    def put(n: String, c: String) = Files.write(Paths.get(inbox, n), c.getBytes("UTF-8"))
    put("n1.csv", "id,amount\n1,2.5\n2,3.5\n")
    put("n2.csv", "id,amount\n3,4.0\n")
    val store = new LedgerStore(spark, tmpDir("wht-ledger"))
    new IngestPipeline(spark, store, tmpDir("wht-q")).runOnce(inbox)

    val typed = new CsvWarehouse(spark, tmpDir("wht-wh"), inferTypes = true)
    typed.loadDone(store)
    val t = typed.table(typed.tables().head)
    assert(t.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(t.schema("amount").dataType == org.apache.spark.sql.types.DoubleType)
    assert(t.agg(sum($"amount")).head.getDouble(0) == 10.0)

    // default stays stringly (the reference's schema-agnostic treatment)
    val raw = new CsvWarehouse(spark, tmpDir("wht-raw"))
    raw.loadDone(store)
    val r = raw.table(raw.tables().head)
    assert(r.schema("amount").dataType == org.apache.spark.sql.types.StringType)
  }

  test("inferTypes reload after a skipped upload drops its stale partitions") {
    val inbox = tmpDir("whs-inbox")
    def put(n: String, c: String) = Files.write(Paths.get(inbox, n), c.getBytes("UTF-8"))
    put("w1.csv", "id,amount\n1,2.5\n")
    put("w2.csv", "id,amount\n2,oops\n") // forces `amount` to string
    val store = new LedgerStore(spark, tmpDir("whs-ledger"))
    new IngestPipeline(spark, store, tmpDir("whs-q")).runOnce(inbox)

    val wh = new CsvWarehouse(spark, tmpDir("whs-wh"), inferTypes = true)
    wh.loadDone(store)
    val before = wh.table(wh.tables().head)
    assert(before.schema("amount").dataType == org.apache.spark.sql.types.StringType)
    assert(before.count() == 2)

    // w2 vanishes; the surviving group re-infers amount as DOUBLE — the
    // stale string-typed w2 partition must not linger under the new schema
    Files.delete(Paths.get(inbox, "w2.csv"))
    wh.loadDone(store)
    val after = wh.table(wh.tables().head)
    assert(after.schema("amount").dataType == org.apache.spark.sql.types.DoubleType)
    assert(after.count() == 1) // only w1's partition remains
    assert(after.select("_upload_id").distinct().count() == 1)
  }

  test("csv warehouse skips uploads whose source file is gone") {
    val inbox = tmpDir("whm-inbox")
    def put(n: String, c: String) = Files.write(Paths.get(inbox, n), c.getBytes("UTF-8"))
    put("a1.csv", "id,name\n1,ant\n2,bee\n")
    put("a2.csv", "id,name\n3,cow\n")
    put("b1.csv", "x,y,z\n9,8,7\n")
    val store = new LedgerStore(spark, tmpDir("whm-ledger"))
    new IngestPipeline(spark, store, tmpDir("whm-q")).runOnce(inbox)

    // inbox cleanup / GDPR delete after ingest: one source file vanishes
    Files.delete(Paths.get(inbox, "a1.csv"))
    val wh = new CsvWarehouse(spark, tmpDir("whm-warehouse"))
    val (tables, rows) = wh.loadDone(store) // must not throw
    assert(tables == 2 && rows == 2) // a2 (1 row) + b1 (1 row); a1 skipped
  }

  test("space-saving merge compensates one-sided keys with the other floor") {
    import graft.operators.{SSBuffer, SpaceSaving}
    import scala.collection.mutable
    val ss = new SpaceSaving(4)
    // sketch A has discarded mass (floor 5): a key absent from A may have
    // held up to 5 there before discard
    val a = SSBuffer(mutable.Map("a1" -> ((10L, 0L))), 5L)
    val b = SSBuffer(mutable.Map("b1" -> ((3L, 1L))), 0L)
    val m = ss.merge(a, b)
    // one-sided b1 gains A's floor on both count and error bound
    assert(m.counters("b1") == ((8L, 6L)))
    // one-sided a1 gains B's floor (0) — unchanged
    assert(m.counters("a1") == ((10L, 0L)))
    assert(m.floor == 5L)
  }

  test("space-saving heavy hitters surface true frequent values") {
    import graft.operators.HeavyHitters
    // skewed synthetic stream: "hot" owns half, "warm" a quarter, the rest
    // spread over 200 cold values; capacity 8 << 203 distinct values
    val rows = Seq.fill(4000)("hot") ++ Seq.fill(2000)("warm") ++
      (1 to 2000).map(i => s"cold-${i % 200}")
    val df = scala.util.Random.shuffle(rows).toDF("v").repartition(16)
    val out = df.agg(HeavyHitters.topValues(8)($"v").as("hh"))
      .selectExpr("explode(hh) as h").select("h.*")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byKey = out.map(t => t._1 -> t).toMap
    // guaranteed: any value with freq > N/capacity (= 1000) is present
    assert(byKey.contains("hot") && byKey.contains("warm"))
    // estimate >= true count, overestimate bounded by recorded error
    val (_, hotC, hotE) = byKey("hot")
    assert(hotC >= 4000 && hotC - hotE <= 4000)
    val (_, warmC, warmE) = byKey("warm")
    assert(warmC >= 2000 && warmC - warmE <= 2000)
    assert(out.length <= 8)
  }

  test("incremental agg state merge equals the single-pass aggregate") {
    import graft.operators.IncrementalAgg
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", $"event_id",
        expr("CAST(round(value * 100) AS BIGINT)").as("v_c"))
    // arbitrary 3-way split (hash thirds) — merge must not care how the
    // history was sliced into deltas
    val parts = (0 until 3).map(i =>
      IncrementalAgg.state(ev.filter($"event_id" % 3 === i),
        Seq("user_id"), $"v_c"))
    val merged = IncrementalAgg.finalize(
        IncrementalAgg.merge(Seq("user_id"), parts: _*))
      .orderBy("user_id").collect().toSeq
    val direct = IncrementalAgg.finalize(
        IncrementalAgg.state(ev, Seq("user_id"), $"v_c"))
      .orderBy("user_id").collect().toSeq
    assert(merged == direct)
    // chaining: fold one more empty delta — identity
    val withEmpty = IncrementalAgg.merge(Seq("user_id"),
      IncrementalAgg.merge(Seq("user_id"), parts: _*),
      IncrementalAgg.state(ev.filter(lit(false)), Seq("user_id"), $"v_c"))
    assert(IncrementalAgg.finalize(withEmpty)
      .orderBy("user_id").collect().toSeq == direct)
  }

  test("unioned daily HLL sketches estimate distinct users within bounds") {
    val dir = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("q_hll_distinct_union")(spark, dir)
      .select($"event_type", $"n_days", $"est_users")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val exact = spark.read.parquet(s"$dir/events.parquet")
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (tpe, n) =>
      val e = est(tpe)
      // lgConfigK=12 default => ~1.6% relative standard error; allow 5%
      assert(math.abs(e - n) <= math.max(1L, (n * 0.05).toLong),
        s"$tpe: HLL estimate $e vs exact $n")
    }
  }

  test("scd2 intervals tile each user's history with no gaps or overlaps") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_scd2_dim")(spark, dir)
      .select($"user_id", $"event_type", $"valid_from_us", $"valid_to_us",
        $"version")
      .as[(Long, String, Long, Option[Long], Long)].collect()
      .groupBy(_._1)
    out.foreach { case (user, rowsUnsorted) =>
      val rows = rowsUnsorted.sortBy(_._5)
      // versions are 1..n dense
      assert(rows.map(_._5).toSeq == (1L to rows.length).toSeq)
      // exactly one open (current) interval, and it is the last version
      assert(rows.count(_._4.isEmpty) == 1 && rows.last._4.isEmpty)
      rows.sliding(2).foreach {
        case Array(a, b) =>
          // contiguous: this interval closes exactly where the next opens
          assert(a._4.contains(b._3), s"user $user gap at v${a._5}")
          // a new version exists only because the attribute CHANGED
          assert(a._2 != b._2, s"user $user v${a._5} did not change type")
        case _ => ()
      }
    }
    // the intervals cover every event: each event's type matches its
    // enclosing version's type (spot-check via as-of semantics)
    val ev = graft.queries.Q.table(spark, dir, "events")
      .select($"user_id", graft.queries.Q.tsMicros.as("us"), $"event_id",
        $"event_type").as[(Long, Long, Long, String)].collect()
    val byUser = out.map { case (u, rs) => u -> rs.sortBy(_._3) }
    ev.groupBy(_._1).foreach { case (user, events) =>
      val ivs = byUser(user)
      // first event of each user starts version 1
      val first = events.minBy(e => (e._2, e._3))
      assert(ivs.head._3 == first._2 && ivs.head._2 == first._4)
    }
  }

  test("anomaly flag equals the exact 3-sigma rule recomputed locally") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_anomaly_hours")(spark, dir)
      .select($"event_type", $"hour_us", $"cnt", $"is_anomaly")
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (tpe, hours) =>
      val n = hours.length.toLong
      val s = hours.map(_._3).sum
      val q = hours.map(h => h._3 * h._3).sum
      hours.foreach { case (_, hUs, c, flag) =>
        val dev = n * c - s
        val expected = if (dev * dev > 9 * (n * q - s * s)) 1L else 0L
        assert(flag == expected, s"$tpe @$hUs: flag $flag != $expected")
      }
    }
  }
}

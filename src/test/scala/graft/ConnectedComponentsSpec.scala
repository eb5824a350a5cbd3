package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, rounds) = ConnectedComponents.run(pairs.toDF("u", "w"))
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("path graph collapses to its min vertex in O(log diameter) rounds") {
    // 0-1-2-...-99: diameter 99. Plain min-propagation would need ~99
    // rounds; pointer jumping must land well under log2(99)*2 + slack.
    val chain = (0L until 99L).map(i => (i, i + 1))
    val (lbl, rounds) = labelsOf(chain)
    assert(lbl.size == 100)
    assert(lbl.values.forall(_ == 0L))
    assert(rounds <= 10, s"expected O(log n) rounds, got $rounds")
  }

  test("separate components keep separate min labels") {
    val (lbl, _) = labelsOf(Seq((5L, 3L), (3L, 9L), (20L, 30L), (30L, 21L)))
    assert(lbl == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 30L -> 20L))
  }

  test("duplicate, reversed and self edges change nothing") {
    val (lbl, _) = labelsOf(
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 2L), (2L, 3L)))
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty edge list yields empty labels, zero rounds") {
    val (df, rounds) = ConnectedComponents
      .run(Seq.empty[(Long, Long)].toDF("u", "w"))
    assert(df.count() == 0 && rounds == 0)
  }

  test("random graphs match a driver-side union-find (different algorithm)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 4) {
      val n = 30
      val edges = Seq.fill(35)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reference: classic union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        if (parent(x) != x) parent(x) = find(parent(x))
        parent(x)
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = touched.map(v =>
        v -> touched.filter(u => find(u.toInt) == find(v.toInt)).min).toMap
      val (got, _) = labelsOf(edges)
      assert(got == expected, s"edges=$edges")
    }
  }

  test("superseded rounds are unpersisted as the loop goes; release frees the final one") {
    graft.queries.Q.release(spark)
    val sc = spark.sparkContext
    def isRound(r: org.apache.spark.rdd.RDD[_]) =
      r.toString.contains("localCheckpoint at ConnectedComponents.scala")
    def pinned() = sc.getPersistentRDDs.values.filter(isRound).toSeq
    // strong references to every round seen persisted at a job start, so
    // GC (whose cleaner unpersists unreachable RDDs) cannot hide a leak
    val held = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.rdd.RDD[_]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        pinned().foreach(r => held.put(r.id, r))
    }
    sc.addSparkListener(listener)
    val (labels, rounds) =
      try ConnectedComponents.run((0L until 63L).map(i => (i, i + 1)).toDF("u", "w"))
      finally {
        org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
        sc.removeSparkListener(listener)
      }
    assert(rounds >= 3, s"the path needs several rounds, ran $rounds")
    assert(held.size >= 2, s"expected several rounds seen pinned, saw ${held.size}")
    val live = pinned()
    assert(live.size == 1, s"only the final round may stay pinned after run: $live")
    assert(labels.filter(col("component") =!= 0L).count() == 0 && labels.count() == 64)
    graft.queries.Q.release(spark)
    assert(pinned().isEmpty, s"release must free the final round: ${pinned()}")
    held.values.forEach(r => assert(r.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE, s"$r still persisted"))
  }

  test("star graph converges in few rounds regardless of fan-out") {
    val star = (1L to 200L).map(i => (0L, i))
    val (lbl, rounds) = labelsOf(star)
    assert(lbl.size == 201 && lbl.values.forall(_ == 0L))
    assert(rounds <= 3, s"star is depth 1, got $rounds rounds")
  }
}

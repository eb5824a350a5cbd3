package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query job/stage/task profiler (builder-side tooling, not part of
  * the driver contract): runs each named query exactly the way Bench
  * does (same session config, same noop-foreach materialization) and
  * reports how many Spark jobs, stages and tasks it launched alongside
  * its wall seconds — the attribution a wall-time-only sweep can't give.
  * A 1-second query that launches 14 jobs is scheduler-bound, not
  * compute-bound, and the fix is structural (fewer actions), not a plan
  * tweak.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Profile <q1> [q2 ...]
  *        (or `all` to sweep the full surface in set order)
  */
object Profile {
  private class Counter extends SparkListener {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1> [q2...] | all")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names =
      if (args.sameElements(Array("all"))) SparkEntry.all.map(_.name)
      else args.toSeq
    val unknown = names.toSet -- SparkEntry.all.map(_.name).toSet
    require(unknown.isEmpty,
      s"not registered: ${unknown.toSeq.sorted.mkString(", ")}")
    val shufflePartitions =
      graft.operators.Autoscale.resolve(sfDir, cpus.toInt).toString
    val spark = GraftSession.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    // same warmup as Bench: JIT/codegen startup paid outside every row
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).foreach(_ => ())
    catch { case _: Throwable => () }
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    println(f"${"query"}%-32s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s")
    names.foreach { n =>
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
      val (j0, s0, t0) = (c.jobs.get, c.stages.get, c.tasks.get)
      val w0 = System.nanoTime()
      byName(n).run(spark, sfDir).foreach(_ => ())
      val sec = (System.nanoTime() - w0) / 1e9
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
      println(f"$n%-32s $sec%7.2f ${c.jobs.get - j0}%5d " +
        f"${c.stages.get - s0}%6d ${c.tasks.get - t0}%6d")
    }
    spark.stop()
  }
}

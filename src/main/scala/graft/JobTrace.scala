package graft

import org.apache.spark.scheduler._

/** Per-job timeline for one query (builder-side diagnostic, not part of
  * the driver contract): prints each Spark job's wall window and the GAP
  * since the previous job ended — the gap is driver-side work (planning,
  * codegen, AQE re-optimization, commit protocol), which per-job counters
  * alone cannot separate from task time. Run a query twice and read the
  * second run: the first pays session/codegen warmup.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.JobTrace <query> [reps]
  */
object JobTrace {
  private case class J(id: Int, submitted: Long, var completed: Long,
      var tasks: Int, var taskTimeMs: Long)

  private class Tracer extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, J(e.jobId, e.time, 0L, 0, 0L)); order.add(e.jobId); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.completed = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      // attribute tasks to the newest open job (approximation: local mode
      // runs bench queries' jobs serially except overlapped writes)
      val open = order.toArray(Array.empty[Integer]).reverse
        .find(id => jobs.get(id) != null && jobs.get(id).completed == 0L)
      open.foreach { id =>
        val j = jobs.get(id); j.tasks += 1
        if (e.taskMetrics != null)
          j.taskTimeMs += e.taskMetrics.executorRunTime
      }
    }
    def reset(): Unit = { jobs.clear(); order.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobTrace <query> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session(
      graft.operators.Autoscale.resolve(sfDir, GraftSession.cpus))
    spark.sparkContext.setLogLevel("WARN")
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir).foreach(_ => ())
    catch { case _: Throwable => () }
    val q = SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"not registered: $name"))
    for (r <- 1 to reps) {
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
      t.reset()
      val w0 = System.currentTimeMillis()
      q.run(spark, sfDir).foreach(_ => ())
      val w1 = System.currentTimeMillis()
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)
      println(f"== $name rep $r: total ${(w1 - w0) / 1000.0}%.3f s ==")
      import scala.jdk.CollectionConverters._
      val js = t.jobs.values().asScala.toSeq.sortBy(_.submitted)
      var prevEnd = w0
      var gapSum = 0L; var runSum = 0L
      js.foreach { j =>
        val gap = j.submitted - prevEnd
        val dur = math.max(0L, j.completed - j.submitted)
        gapSum += math.max(0L, gap); runSum += dur
        println(f"  job ${j.id}%4d  gap ${gap}%5d ms  run ${dur}%5d ms  " +
          f"tasks ${j.tasks}%3d  taskTime ${j.taskTimeMs}%5d ms")
        prevEnd = math.max(prevEnd, j.completed)
      }
      val tail = w1 - prevEnd
      println(f"  jobs ${js.size}: gaps ${gapSum}ms + runs ${runSum}ms + " +
        f"tail ${math.max(0L, tail)}ms vs wall ${w1 - w0}ms")
    }
    spark.stop()
  }
}

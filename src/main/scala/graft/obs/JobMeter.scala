package graft.obs

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftInternal, SparkSession}

/** What one measured unit of work cost.
  *  - `jobs`, `stages`, `tasks`: Spark jobs started, stages completed and
  *    those stages' tasks. They say whether a unit is scheduler-bound: a
  *    1-second query that launches 14 jobs wants fewer actions, not a
  *    plan tweak.
  *  - `shuffleMb`, `spillDiskMb`, `spillMemMb`: shuffle written and spill,
  *    the memory cliff a wall-time-only record misses (a query whose
  *    shuffle partitions stop fitting shows spill one scale step before
  *    it shows a wall-time cliff). Disk spill is I/O paid, memory spill
  *    is pressure observed.
  *  - `buildSec`, `trainSec`: seconds this unit spent as first payer of a
  *    shared `Q.cached` intermediate and training an `IndexStore`
  *    artifact (build ⊇ train when a cached build trains).
  *  - `compiles`: generated classes compiled, JVM-wide (executor threads
  *    included); a unit that misses the codegen cache pays tens of
  *    milliseconds per class.
  *  - `taskMs`: summed executor run time of the stages completed.
  *  - `gapMs`: wall time no job window covers, the driver-side share
  *    (planning, codegen, AQE re-optimization, commit protocol, driver
  *    loops); overlapping jobs count once.
  */
final case class JobCost(wallSec: Double, jobs: Long, stages: Long,
    tasks: Long, shuffleMb: Double, spillDiskMb: Double, spillMemMb: Double,
    buildSec: Double, trainSec: Double, compiles: Long, taskMs: Long,
    gapMs: Long)

/** The engine's one Spark job meter: a listener on the session's context
  * that [[measure]]s one unit of work at a time, with the listener bus
  * drained on both sides (outside the timed window) so every job and
  * stage event is attributed to the unit that caused it. Bench meters
  * each query, CorpusBuild each stage, and the job-budget specs their
  * bodies. Units measured on one meter must not overlap; [[close]]
  * detaches it.
  */
final class JobMeter(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  // the unit's counters, written on the listener-bus thread
  private var jobs, stages, tasks, taskMs = 0L
  private var shuffleBytes, spillDiskBytes, spillMemBytes = 0L
  // job id -> (submitted, completed); Long.MaxValue while running
  private val windows = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    windows(e.jobId) = (e.time, Long.MaxValue)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    windows.get(e.jobId).foreach { w => windows(e.jobId) = (w._1, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillDiskBytes += m.diskBytesSpilled
        spillMemBytes += m.memoryBytesSpilled
        taskMs += m.executorRunTime
      }
    }

  private def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskMs = 0
    shuffleBytes = 0; spillDiskBytes = 0; spillMemBytes = 0
    windows.clear()
  }

  /** Runs `body` as one unit and returns its result, or what it threw,
    * with the unit's cost; a failed unit is measured like one that
    * completed. */
  def measure[T](body: => T): (Either[Throwable, T], JobCost) = {
    GraftInternal.drainListenerBus(spark, 10000L)
    reset()
    val bu0 = graft.queries.Q.buildNanos
    val tr0 = graft.operators.IndexStore.trainNanos
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val wallNanos = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    val build = (graft.queries.Q.buildNanos - bu0) / 1e9
    val train = (graft.operators.IndexStore.trainNanos - tr0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    GraftInternal.drainListenerBus(spark, 10000L)
    val cost = synchronized {
      JobCost(wallNanos / 1e9, jobs, stages, tasks,
        shuffleBytes / 1048576.0, spillDiskBytes / 1048576.0,
        spillMemBytes / 1048576.0, build, train, compiles, taskMs,
        math.min(JobMeter.gapMs(w0, w1, windows.values.toSeq),
          wallNanos / 1000000L))
    }
    (result, cost)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object JobMeter {

  /** Measures `body` on a meter attached for it alone, rethrowing what
    * the body threw. */
  def once[T](spark: SparkSession)(body: => T): (T, JobCost) = {
    val meter = new JobMeter(spark)
    val (result, cost) =
      try meter.measure(body)
      finally meter.close()
    (result.fold(e => throw e, identity), cost)
  }

  /** Milliseconds of `[w0, w1]` that no (start, end) window covers, each
    * window clipped to the unit; overlapping windows count once. */
  private[obs] def gapMs(w0: Long, w1: Long,
      windows: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = w0
    windows.map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
      .filter { case (s, e) => s < e }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (w1 - w0) - covered
  }
}

package graft.obs

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The job meter's split of a unit's wall time: driver-side gaps between
  * jobs apart from the executors' task time, with overlapping jobs
  * counted once. */
class JobMeterSpec extends SparkSpec {

  test("a driver sleep between two jobs is gap, four sleeping tasks are task time") {
    val sc = spark.sparkContext
    val (_, c) = JobMeter.once(spark) {
      sc.parallelize(1 to 4, 1).count()
      Thread.sleep(300)
      sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(50))
    }
    assert(c.jobs == 2, c)
    assert(c.stages == 2 && c.tasks == 5, c)
    assert(c.gapMs >= 300, c)
    assert(c.taskMs >= 200, c)
    assert(c.gapMs <= c.wallSec * 1000, c)
  }

  test("a failed unit is measured and its failure returned") {
    val meter = new JobMeter(spark)
    val (r, c) =
      try meter.measure(spark.sparkContext.parallelize(1 to 2, 2)
        .foreach(i => if (i == 2) throw new IllegalStateException("boom")))
      finally meter.close()
    assert(r.isLeft, r)
    assert(c.jobs == 1, c)
  }

  test("overlapping job windows count once") {
    // two jobs over [100, 300) and [200, 400) leave 100 ms of [0, 500)
    // uncovered at each end; summed windows would leave none
    assert(JobMeter.gapMs(0L, 500L, Seq((100L, 300L), (200L, 400L))) == 200L)
    // a window still open, or reaching past the unit, is clipped to it
    assert(JobMeter.gapMs(0L, 500L, Seq((100L, Long.MaxValue))) == 100L)
    assert(JobMeter.gapMs(0L, 500L, Seq((-50L, 100L), (150L, 200L))) == 350L)
  }

  test("a broadcast join's overlapping jobs are not counted twice") {
    // a sleeping build side and a sleeping probe-side shuffle: with
    // adaptive execution both materialize at once, as separate jobs that
    // overlap by about 400 ms; summed, those windows would leave less
    // wall uncovered than the 300 ms driver sleep
    val slow = udf { (i: Long) => Thread.sleep(400); i }
    def join() = {
      val build = spark.range(0, 2, 1, 2).select(slow(col("id")).as("k"))
      spark.range(0, 2, 1, 2).select(slow(col("id")).as("k"))
        .groupBy("k").count()
        .join(broadcast(build), "k").collect()
    }
    join() // compiles the plan's classes, so the measured gap is the sleep
    val (_, c) = JobMeter.once(spark) { Thread.sleep(300); join() }
    assert(c.jobs >= 2, c)
    assert(c.gapMs >= 300, c)
    assert(c.wallSec * 1000 - c.gapMs >= 400, c)
  }
}

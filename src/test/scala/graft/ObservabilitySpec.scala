package graft

import graft.obs.JobMeter
import graft.operators.Observability
import org.apache.spark.sql.functions._

/** The observability contract: funnel metrics are exact AND free — they
  * ride the job that does the real work, never a second pass.
  */
class ObservabilitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("observed funnel metrics match direct aggregation") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val metrics = Observability.funnel(events,
      "rows_total" -> count(lit(1)),
      "rows_error" -> count(when(col("event_type") === "error", 1)),
      "value_cents" -> sum(round(col("value") * 100).cast("long")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val direct = events.agg(
      count(lit(1)), count(when(col("event_type") === "error", 1)),
      sum(round(col("value") * 100).cast("long"))).head()
    assert(metrics("rows_total") === direct.getLong(0))
    assert(metrics("rows_error") === direct.getLong(1))
    assert(metrics("value_cents") === direct.getLong(2))
  }

  test("metrics collection adds zero extra Spark jobs") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val (rowsTotal, cost) = JobMeter.once(spark) {
      val (instrumented, obs) = Observability.observed(events,
        "rows_total" -> count(lit(1)))
      instrumented.write.format("noop").mode("overwrite").save()
      obs.get("rows_total").asInstanceOf[Long]
    }
    assert(rowsTotal > 0L)
    // the noop write is one job; the metrics must not have added another
    assert(cost.jobs === 1,
      s"observed funnel ran ${cost.jobs} jobs; metrics must ride the write job")
  }

  test("non-numeric metrics are rejected loudly") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val (instrumented, obs) = Observability.observed(events,
      "bad" -> max(col("event_type")))
    instrumented.write.format("noop").mode("overwrite").save()
    intercept[IllegalStateException] {
      Observability.metricsFrame(spark, obs)
    }
  }
}

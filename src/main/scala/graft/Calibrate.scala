package graft

/** Host-window calibration battery (builder-side): a FIXED set of five
  * cheap, plan-stable queries whose wall clock moves only with the host
  * window, never with engine changes — scan+agg, hash join, window
  * function, distinct exchange, join+group — all memo-free (no Q.cached
  * first-payer noise) and IndexStore-free (no training share).
  *
  * Why: cross-round wall comparisons on this host have repeatedly been
  * dominated by 1.3–1.8× window swings on byte-identical plans (round-13
  * measured the x300 battery at 1.8× the round-12 wall with IDENTICAL
  * per-query shuffle totals). Every normalization so far was a
  * prose-stated factor derived ad hoc from anchor queries. This main
  * mechanizes it: run the battery in the same window as the measurement
  * it accompanies, divide by a battery recorded on the same host, and the
  * quotient IS the window factor the flag tools normalize by.
  * (`bench/CALIBRATION_BASELINE.json` is the 32-cpu host's record, kept
  * as history; it does not apply to another host.)
  *
  * Protocol: one untimed warmup pass, then [[Rounds]] timed passes over
  * the battery; the per-query MEDIAN is reported and the
  * factor basis is the median sum — medians because a single GC/compile
  * hiccup must not masquerade as a window shift. Prints one JSON line and
  * persists it under `bench/calibration-<ts>.json` (path echoed to
  * stderr, the same capture contract as AdmissionBench records).
  */
object Calibrate {
  /** The battery: plan-stable, memo-free, each ≤ ~2 s at sf0.1. Changing
    * this set invalidates every recorded battery — re-record them. */
  val Battery: Seq[String] = Seq(
    "q1_pricing_summary",   // full-scan aggregate
    "q3_top_orders",        // multi-join + agg + top-k
    "q_window_running_total", // partitioned window function
    "q_distinct_agg",       // distinct exchange
    "q5_region_revenue")    // star join + group

  /** Timed passes over the battery. */
  val Rounds: Int = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session(
      graft.operators.Autoscale.resolve(sfDir, GraftSession.cpus))
    spark.sparkContext.setLogLevel("WARN")

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    Battery.foreach(once) // untimed warmup: JIT + codegen + page cache
    val samples: Map[String, Seq[Double]] =
      (1 to Rounds).flatMap(_ => Battery.map(n => n -> once(n)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val med = Battery.map(n => n -> median(samples(n)))
    val total = med.map(_._2).sum
    val qjson = med.map { case (n, v) => f""""$n":$v%.3f""" }
      .mkString("{", ",", "}")
    val rec = f"""{"metric":"calibration","value":$total%.3f,""" +
      f""""unit":"sec","rounds":$Rounds,"queries":$qjson,"sf":"$sfDir"}"""
    println(rec)
    BenchRecord.write("calibration", rec, "calibrate")
      .foreach(p => System.err.println(s"[calibrate] record $p"))
    spark.stop()
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-dump main (builder-side tooling, not part of the driver
  * contract): writes `.explain("formatted")` for each named query to
  * `<outDir>/<name>_<suffix>.txt`, using the same session configuration
  * as Bench so the dumped plan is the plan the sweep actually times.
  * For queries that run side-effecting machinery (streaming admission,
  * ledger pipelines) the dump shows the plan of the RETURNED frame; the
  * machinery's own job structure is measured by Bench's job meter
  * (`graft.obs.JobMeter`), not explain.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Explain <outDir> <suffix> <q1> [q2 ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <outDir> <suffix> <q1> [q2...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    // fails before Spark starts, naming any unregistered query
    SparkEntry.queryFilter(names.mkString(","))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.session(
      graft.operators.Autoscale.resolve(sfDir, GraftSession.cpus))
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val df = byName(n).run(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}

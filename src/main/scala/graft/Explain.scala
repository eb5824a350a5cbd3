package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Plan-dump main (builder-side tooling, not part of the driver
  * contract): writes `.explain("formatted")` for each named query to
  * `<outDir>/<name>_<suffix>.txt`, using the same session configuration
  * as Bench so the dumped plan is the plan the sweep actually times.
  * For queries that run side-effecting machinery (streaming admission,
  * ledger pipelines) the dump shows the plan of the RETURNED frame; the
  * machinery's own job structure is measured via Bench telemetry, not
  * explain.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.Explain <outDir> <suffix> <q1> [q2 ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <outDir> <suffix> <q1> [q2...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = names.toSet -- SparkEntry.all.map(_.name).toSet --
      operatorPlans.keySet
    require(unknown.isEmpty,
      s"not registered: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.session(
      graft.operators.Autoscale.resolve(sfDir, GraftSession.cpus))
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val df = operatorPlans.get(n)
        .map(_(spark, sfDir))
        .getOrElse(byName(n).run(spark, sfDir))
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }

  /** OPERATOR plans — internal dataflows that no registered query returns
    * directly (the machinery runs inside side-effecting bodies whose
    * returned frame is just an output read): named here so their physical
    * plans can be dumped and diffed like query plans. `op_assign_batch`
    * is the per-trigger coarse assignment a SemanticAdmitter batch pays,
    * built both ways against the same flat k=16 codebook trained on
    * vec_id < 125 (the refresh fixture's bootstrap shape).
    */
  private val operatorPlans: Map[String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfCodebook
    def batchAndCents(s: SparkSession, d: String) = {
      val vecs = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 125)
      val cents = IvfCodebook.train(s, vecs, k = 16, iters = 1,
        sampleEvery = 1)
      (vecs, cents)
    }
    Map(
      "op_assign_batch_relational" -> { (s, d) =>
        val (vecs, cents) = batchAndCents(s, d)
        val cm = IvfCodebook.comps(vecs)
        IvfCodebook.assign(cm, IvfCodebook.norms(cm), broadcast(cents))
      },
      "op_assign_batch_local" -> { (s, d) =>
        val (vecs, cents) = batchAndCents(s, d)
        IvfCodebook.assignLocal(vecs, IvfCodebook.localCents(cents))
      },
      // The per-trigger admitted plan of the exact streaming admission
      // (StreamingDedup.processBatch), both shapes: `joinback` is the
      // pre-r15 form (groupBy(min) then join back to the batch through a
      // dropDuplicates to recover text — one more batch scan, one
      // dropDuplicates Exchange and an equi-join per trigger); `aggpayload`
      // is the shipped form (text rides the same aggregate as min(doc_id),
      // valid because all texts of a content_hash group are identical).
      // Both built against the same 500-doc batch with an empty evidence
      // hit set, checkpoint-free so the whole trigger shape is one plan.
      "op_admit_trigger_joinback" -> { (s, d) =>
        val batch = s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), col("text")).filter(col("doc_id") < 500)
        val sigs = batch.withColumn("content_hash", sha2(col("text"), 256))
        val reps = sigs.groupBy("content_hash")
          .agg(min(col("doc_id")).as("doc_id"))
        val hits = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("content_hash",
              org.apache.spark.sql.types.StringType))))
        reps.join(broadcast(hits), Seq("content_hash"), "left_anti")
          .join(sigs.select("doc_id", "text", "content_hash")
            .dropDuplicates("doc_id"), Seq("content_hash", "doc_id"))
          .withColumn("ingest_batch", lit(0L))
      },
      "op_admit_trigger_aggpayload" -> { (s, d) =>
        val batch = s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), col("text")).filter(col("doc_id") < 500)
        val sigs = batch.withColumn("content_hash", sha2(col("text"), 256))
          .filter(col("content_hash").isNotNull)
        val reps = sigs.groupBy("content_hash")
          .agg(min(col("doc_id")).as("doc_id"), max(col("text")).as("text"))
        val hits = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("content_hash",
              org.apache.spark.sql.types.StringType))))
        reps.join(broadcast(hits), Seq("content_hash"), "left_anti")
          .withColumn("ingest_batch", lit(0L))
      })
  }
}

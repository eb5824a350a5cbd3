package graft.queries

import org.apache.spark.sql.SparkSession

/** User-facing catalog setup: registers every warehouse table as a temp
  * view, so the whole surface is reachable from `spark.sql(...)` — the
  * "switch your queries over" path for users of the reference. The
  * engine's native SQL functions come with the session
  * ([[graft.GraftSession.tuned]]); a session built elsewhere takes them
  * from [[graft.GraftExtensions.install]].
  */
object GraftTables {

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => Q.table(spark, dir, n).createOrReplaceTempView(n))
}

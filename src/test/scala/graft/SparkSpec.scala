package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: four cores and four shuffle
  * partitions whatever the host, so task counts asserted by the specs do
  * not move with it. */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.session(shufflePartitions = 4, master = "local[4]")
}

trait SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def persistedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs persisted now that were not at `before`. Counted by id, not by
    * map size: the context holds persisted RDDs weakly, so an earlier
    * suite's unreachable RDD can leave the map mid-test. */
  def persistedSince(before: Set[Int]): Int =
    (persistedIds() -- before).size

  /** Suites share one session: release this suite's memoized persisted
    * intermediates when it finishes, so a full `sbt test` run doesn't
    * accumulate every suite's blocks in executor storage (same hygiene as
    * Bench/Verify at query-set boundaries). */
  override protected def afterAll(): Unit = {
    graft.queries.Q.release(spark)
    super.afterAll()
  }
}

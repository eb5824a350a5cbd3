package graft

/** The test harness's session is built by `GraftSession.session`, so it
  * carries what every main's session carries. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the tuned settings, UTC and its 4/4 width") {
    val conf = spark.conf
    assert(conf.get("spark.io.compression.codec") == GraftSession.ioCodec)
    assert(conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") ==
      "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }
}

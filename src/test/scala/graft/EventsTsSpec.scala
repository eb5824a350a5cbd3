package graft

import graft.queries.Q
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** `events.ts` at the scan boundary: the fixtures' TIMESTAMP_NTZ and a
  * zoned TIMESTAMP give the same epoch micros and the same timestamp
  * column, whether loaded through `Q.table` or probed with
  * `Q.tsMicrosOf`; a LONG `ts` is refused rather than read as some
  * unit. */
class EventsTsSpec extends SparkSpec {
  import spark.implicits._

  // 1970-01-01 00:00:00.000001, 2024-02-29 23:59:59.999999 UTC, and a
  // pre-epoch instant (negative micros)
  private val micros = Seq(1L, 1709251199999999L, -86400000001L)

  /** An events table with `ts` of `tsType`, written under a fresh dir. */
  private def eventsDir(tsType: String): String = {
    val dir = tmpDir(s"events-$tsType")
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).cast(tsType).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def collectLongs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.orderBy("event_id").select("v").as[Long].collect().toSeq

  test("TIMESTAMP and TIMESTAMP_NTZ ts give the same micros and timestamps") {
    val dirs = Seq("timestamp", "timestamp_ntz").map(t => t -> eventsDir(t))
    assert(spark.read.parquet(s"${dirs(1)._2}/events.parquet")
      .schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    dirs.foreach { case (t, dir) =>
      val ev = Q.table(spark, dir, "events")
      assert(ev.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, t)
      assert(collectLongs(ev.select(col("event_id"), Q.tsMicros.as("v"))) ==
        micros, s"$t: Q.table + tsMicros")
      assert(collectLongs(ev.select(col("event_id"),
        unix_micros(Q.tsCol).as("v"))) == micros, s"$t: Q.table + tsCol")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      assert(collectLongs(raw.select(col("event_id"),
        Q.tsMicrosOf(raw).as("v"))) == micros, s"$t: tsMicrosOf")
    }
    // the same wall-clock rendering through both loads (session is UTC)
    val rendered = dirs.map { case (_, dir) =>
      Q.table(spark, dir, "events").orderBy("event_id")
        .select(date_format(Q.tsCol, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[String].collect().toSeq
    }
    assert(rendered.distinct.size == 1)
    assert(rendered.head(1) == "2024-02-29 23:59:59.999999")
  }

  test("a LONG ts is refused, never read as some time unit") {
    val dir = tmpDir("events-long")
    micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Q.tsMicrosOf(raw))
    assert(e.getMessage.contains("unsupported events.ts type"))
    // Q.table hands a LONG on untouched, and tsMicros does not resolve on it
    val ev = Q.table(spark, dir, "events")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    intercept[AnalysisException](ev.select(Q.tsMicros).collect())
  }
}

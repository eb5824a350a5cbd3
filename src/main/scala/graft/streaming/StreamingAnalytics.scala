package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Event-time streaming analytics over the events stream (SURVEY.md §2.6
  * ST1 generalized beyond ingest): watermarked tumbling-window aggregation,
  * the standard Structured Streaming shape — incremental state per
  * (window, key), late data dropped past the watermark, output grows only
  * with closed windows.
  *
  * Scale: state is O(open windows × keys), independent of stream length;
  * the aggregation is partial (map-side) before the window-key shuffle.
  */
object StreamingAnalytics {

  /** The events schema as the fixtures store it: `ts` is parquet
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ. Streaming
    * readers require a declared schema; a schema declaring `ts` as
    * TIMESTAMP works too, because every consumer derives time via
    * [[graft.queries.Q.tsMicrosOf]]. A non-timestamp `ts` is refused.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the events directory as a stream. */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(eventsSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.parquet(dir)
  }

  /** Per-user running state for the stateful-streaming surface
    * (`flatMapGroupsWithState`): event count, exact value cents, last-seen
    * micros. Kept deliberately small — state size is what kills stateful
    * streaming at scale, so the state object is three longs.
    */
  case class UserState(n: Long, value_c: Long, last_us: Long)
  case class UserUpdate(user_id: Long, n: Long, value_c: Long, last_us: Long)

  /** Arbitrary-state streaming: per-user running totals via
    * `flatMapGroupsWithState` (the ledger-free state path the reference
    * never had — SURVEY §2.6 note on mapGroupsWithState). Emits one update
    * per user per micro-batch. Works identically on a batch Dataset for
    * testing (Spark plans batch flatMapGroupsWithState as a plain group).
    */
  def runningUserTotals(events: DataFrame): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    val typed = events.select(
      col("user_id"), graft.queries.Q.tsMicrosOf(events).as("ts_us"),
      round(col("value") * 100).cast("long").as("value_c"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[UserState]) => {
          val prev = state.getOption.getOrElse(UserState(0L, 0L, Long.MinValue))
          var n = prev.n; var v = prev.value_c; var last = prev.last_us
          rows.foreach { case (_, ts, c) =>
            n += 1; v += c; if (ts > last) last = ts
          }
          state.update(UserState(n, v, last))
          Iterator.single(UserUpdate(user, n, v, last))
        })
  }

  /** One Space-Saving counter: tracked key, count, and the count's
    * overestimation bound (the evicted predecessor's count).
    */
  case class HHEntry(user_id: Long, cnt: Long, err: Long)
  case class HHState(entries: Seq[HHEntry], n_seen: Long)
  case class HHTop(event_type: String, user_id: Long, cnt: Long, err: Long,
      rnk: Long, n_seen: Long)

  /** Streaming heavy hitters: per event_type, the approximate top-k users
    * by event count via Space-Saving state in `flatMapGroupsWithState`.
    *
    * State per group is HARD-BOUNDED at `capacity` counters regardless of
    * stream length or key cardinality — the whole point at 100 TB, where
    * exact per-user counts would grow state with the user universe. The
    * classic guarantees hold under any arrival order: a key's true count
    * is within [cnt - err, cnt], and any key with true count >
    * n_seen/capacity is in the table. With capacity >= distinct users the
    * operator degrades to exact counting (err = 0), which is the regime
    * the DuckDB oracle replays; approx-regime invariants are
    * property-tested in StreamingAnalyticsSpec.
    *
    * Each micro-batch emits that batch's cumulative top-k per type plus
    * `n_seen` (rows absorbed so far), so a consumer — and the tests — can
    * select the final emission per group without comparing across ranks.
    */
  def streamingTopUsers(events: DataFrame, capacity: Int,
      k: Int): Dataset[HHTop] = {
    import events.sparkSession.implicits._
    val typed = events.select(col("event_type"), col("user_id"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (et: String, rows: Iterator[(String, Long)],
         state: GroupState[HHState]) => {
          // SpaceSavingCore finds the eviction victim (min count, min
          // user — the deterministic tiebreak) in O(log capacity); the
          // per-insert minBy scan this replaces was the measured
          // scale-killer once the user universe outgrew capacity. State
          // carries no floor (per existing semantics, evidence resets
          // at batch boundaries when the table was never full) — the
          // min count is non-decreasing, so the core's floor matches
          // the old inline arithmetic exactly.
          val core = new graft.operators.SpaceSavingCore[Long](capacity)
          var seen = 0L
          state.getOption.foreach { st =>
            seen = st.n_seen
            st.entries.foreach(e => core.counters(e.user_id) = (e.cnt, e.err))
          }
          core.seed(0L)
          rows.foreach { case (_, u) =>
            seen += 1
            core.insert(u, 1L, 0L)
          }
          val m = core.counters
          state.update(HHState(
            m.iterator.map { case (u, (c, e)) => HHEntry(u, c, e) }.toSeq,
            seen))
          m.toSeq.sortBy { case (u, (c, _)) => (-c, u) }.take(k)
            .iterator.zipWithIndex.map { case ((u, (c, e)), i) =>
              HHTop(et, u, c, e, i + 1L, seen)
            }
        })
  }

  /** Stream-stream event-time interval join (attribution): each `view`
    * event joined to the same user's `purchase` events within
    * [view_time, view_time + horizon]. On streaming inputs both sides
    * carry watermarks and the range condition bounds the join state:
    * Spark's streaming symmetric hash join evicts a buffered view once the
    * purchase watermark passes view_time + horizon (and a purchase once
    * the view watermark passes its time) — state is O(events per horizon
    * window), independent of stream length. The equi key (user_id) keeps
    * it a hash join, never a nested loop; the range is a residual filter.
    * The identical plan runs on batch inputs (planned as a plain
    * shuffled equi-join + residual), which is how the DuckDB oracle
    * replays it (`st_stream_join`).
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour", watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    def prep(df: DataFrame, side: String): DataFrame = {
      val t = df.select(
        col("event_id").as(s"${side}_id"),
        col("user_id").as(s"${side}_user"),
        timestamp_micros(graft.queries.Q.tsMicrosOf(df)).as(s"${side}_time"),
        round(col("value") * 100).cast("long").as(s"${side}_value_c"))
      if (t.isStreaming) t.withWatermark(s"${side}_time", watermark) else t
    }
    // left_outer: a view's null verdict emits only once the purchase
    // watermark provably closes its horizon window — until then the row
    // sits in state as a potential match (Spark's streaming outer-join
    // contract); batch inputs plan the ordinary outer equi-join.
    prep(views, "view").join(prep(purchases, "purchase"),
      expr("view_user = purchase_user AND " +
        "purchase_time >= view_time AND " +
        s"purchase_time <= view_time + interval $horizon"),
      joinType)
      .select(col("view_id"), col("purchase_id"),
        col("view_user").as("user_id"),
        (unix_micros(col("purchase_time")) - unix_micros(col("view_time")))
          .as("lag_us"),
        col("purchase_value_c"))
  }

  /** Tumbling event-time windows with a watermark: per (hour, event_type)
    * counts and exact value cents. Works on both streaming and batch
    * DataFrames (same plan, incrementalized by the streaming runner).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val withTime = events
      .withColumn("event_time", timestamp_micros(graft.queries.Q.tsMicrosOf(events)))
    val timed =
      if (withTime.isStreaming) withTime.withWatermark("event_time", watermark)
      else withTime
    timed
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_c"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("value_c"))
  }
}

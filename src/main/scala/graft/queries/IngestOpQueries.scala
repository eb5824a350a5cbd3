package graft.queries

import graft.functions.IngestFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 operator inventory, one registered query per operator,
  * expressed over the driver's deterministic tables so DuckDB can oracle
  * them. The `events` table plays the role of the reference's storage-event
  * stream: each event row is mapped to a synthetic "file upload" (bucket,
  * name, size, created-at) through a fixed, engine-independent projection,
  * and the reference's operators (extension filter, metadata-hash identity,
  * idempotent anti-join, line count, status machine, DLQ threshold, list /
  * point lookups) run over that view. The real pipeline over actual files
  * is exercised end-to-end by the ScalaTest suite (IngestPipelineSpec);
  * these queries prove each operator's dataflow semantics against an
  * independent engine.
  */
object IngestOpQueries {
  import Q._

  /** The reference's CloudEvent + metadata-fetch columns (S1+S2) derived
    * deterministically from `events`: error events become non-CSV files so
    * the extension filter has something to drop (reference main.py:33-36).
    */
  private def fileEvents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").select(
      col("event_id"),
      concat(lit("bucket-"), pmod(col("user_id"), lit(4)).cast("string"))
        .as("bucket_name"),
      concat(lit("file_"), col("event_id").cast("string"),
        when(col("event_type") === "error", ".txt").otherwise(".csv"))
        .as("file_name"),
      floor(col("value") * 100).cast("long").as("file_size"),
      tsCol.as("created_ts"))

  /** DuckDB rendering of [[fileEvents]] — keep the two in lockstep. */
  private val FE =
    """WITH fe AS (
      |  SELECT event_id,
      |    'bucket-' || CAST(user_id % 4 AS VARCHAR) AS bucket_name,
      |    'file_' || CAST(event_id AS VARCHAR) ||
      |      (CASE WHEN event_type = 'error' THEN '.txt' ELSE '.csv' END) AS file_name,
      |    CAST(floor(value * 100) AS BIGINT) AS file_size,
      |    CAST(ts AS TIMESTAMP) AS created_ts
      |  FROM events)""".stripMargin

  /** Python `datetime.isoformat()` in DuckDB (micros trimmed when zero). */
  private val IsoSql =
    """strftime(created_ts, '%Y-%m-%dT%H:%M:%S') ||
      |(CASE WHEN strftime(created_ts, '%f') = '000000' THEN ''
      |      ELSE '.' || strftime(created_ts, '%f') END) || '+00:00'""".stripMargin

  /** Documents-as-CSV-files: text with spaces turned into newlines is the
    * whole-file content (documents carry no raw newlines); every 7th doc is
    * an empty file so the validation predicate has both branches.
    */
  private def docContent(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(
      col("doc_id"),
      when(pmod(col("doc_id"), lit(7)) === 0, lit(""))
        .otherwise(translate(col("text"), " ", "\n")).as("content"))

  private val DocContentSql =
    """WITH dc AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN ''
      |         ELSE replace(text, ' ', chr(10)) END AS content
      |  FROM documents)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // S1 — source scan with a pushed-down predicate + column pruning.
    QueryDef("s1_source_scan",
      (s, d) => table(s, d, "events")
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "event_type"),
      Some("SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'")),

    // S2 — file-metadata projection (bucket/name/size from the event).
    QueryDef("s2_metadata_fetch",
      (s, d) => fileEvents(s, d)
        .select("event_id", "bucket_name", "file_name", "file_size"),
      Some(s"$FE SELECT event_id, bucket_name, file_name, file_size FROM fe")),

    // S5 — envelope decode: JSON payload field extraction (main.py:96-103).
    QueryDef("s5_envelope_decode",
      (s, d) => table(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("payload_k")),
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS payload_k FROM events")),

    // F1 — extension filter, pre-ledger (main.py:33-36).
    QueryDef("f1_extension_filter",
      (s, d) => fileEvents(s, d)
        .filter(isCsvPath(col("file_name")))
        .select("event_id", "file_name"),
      Some(s"$FE SELECT event_id, file_name FROM fe WHERE lower(file_name) LIKE '%.csv'")),

    // F2 — metadata-hash identity: sha256(f"{b}-{n}-{size}-{iso}")[:16]
    // (main.py:15-18), with Python isoformat() fidelity on both sides.
    QueryDef("f2_upload_id",
      (s, d) => fileEvents(s, d).select(
        col("event_id"),
        uploadId(col("bucket_name"), col("file_name"), col("file_size"),
          pyIsoformatUtc(col("created_ts"))).as("upload_id")),
      Some(s"""$FE SELECT event_id,
        |substr(sha256(bucket_name || '-' || file_name || '-' ||
        |  CAST(file_size AS VARCHAR) || '-' || $IsoSql), 1, 16) AS upload_id
        |FROM fe""".stripMargin)),

    // F3/S4 — envelope serialization (main.py:74-80), properly escaped via
    // to_json (field order fixed by the struct).
    QueryDef("f3_envelope_json",
      (s, d) => fileEvents(s, d)
        .filter(isCsvPath(col("file_name")))
        .select(
          col("event_id"),
          to_json(struct(
            col("event_id").cast("string").as("upload_id"),
            col("bucket_name"),
            col("file_name"))).as("envelope")),
      Some(s"""$FE SELECT event_id,
        |'{"upload_id":"' || CAST(event_id AS VARCHAR) ||
        |'","bucket_name":"' || bucket_name ||
        |'","file_name":"' || file_name || '"}' AS envelope
        |FROM fe WHERE lower(file_name) LIKE '%.csv'""".stripMargin)),

    // F4+D1 — the idempotency anti-join: events whose key is already "done"
    // (here: users with a large purchase) are skipped (main.py:53-58). The
    // done-side is small → broadcast, never shuffling the big event stream.
    QueryDef("f4_d1_idempotent_skip",
      (s, d) => {
        val e = table(s, d, "events")
        val done = e.filter(col("event_type") === "purchase" &&
            col("value") > 150).select("user_id").distinct()
        e.join(broadcast(done), Seq("user_id"), "left_anti")
          .select("event_id", "user_id")
      },
      Some("""SELECT event_id, user_id FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.value > 150
        |    AND p.user_id = e.user_id)""".stripMargin)),

    // A-L1 — the split('\n') fencepost line count (main.py:121-123):
    // N newlines → N+1 "lines", so "" counts 1 and "\n" counts 2.
    QueryDef("a_l1_line_count",
      (s, d) => docContent(s, d).select(
        col("doc_id"),
        pySplitLineCount(col("content")).cast("long").as("n_lines")),
      Some(s"""$DocContentSql SELECT doc_id,
        |CAST(length(content) - length(replace(content, chr(10), '')) + 1 AS BIGINT) AS n_lines
        |FROM dc""".stripMargin)),

    // F5 — validation predicate: < 2 split-elements fails (main.py:126-127).
    QueryDef("f5_validation",
      (s, d) => docContent(s, d)
        .withColumn("n_lines", pySplitLineCount(col("content")).cast("long"))
        .select(
          col("doc_id"), col("n_lines"),
          isValidCsv(col("n_lines")).as("ok"),
          when(!isValidCsv(col("n_lines")), ValidationError)
            .as("error_message")),
      Some(s"""$DocContentSql,
        |j AS (SELECT doc_id,
        |  CAST(length(content) - length(replace(content, chr(10), '')) + 1 AS BIGINT) AS n_lines
        |  FROM dc)
        |SELECT doc_id, n_lines, n_lines >= 2 AS ok,
        |  CASE WHEN n_lines < 2 THEN 'CSV file is empty or has only headers' END AS error_message
        |FROM j""".stripMargin)),

    // A1–A4 — the status state machine's terminal projection: done rows get
    // lines_processed, failed rows get the error (main.py:133-152).
    QueryDef("a1_a4_status_machine",
      (s, d) => docContent(s, d)
        .withColumn("n_lines", pySplitLineCount(col("content")).cast("long"))
        .select(
          col("doc_id"),
          when(isValidCsv(col("n_lines")), "done").otherwise("failed")
            .as("status"),
          when(isValidCsv(col("n_lines")), col("n_lines"))
            .as("lines_processed"),
          when(!isValidCsv(col("n_lines")), ValidationError)
            .as("error_message")),
      Some(s"""$DocContentSql,
        |j AS (SELECT doc_id,
        |  CAST(length(content) - length(replace(content, chr(10), '')) + 1 AS BIGINT) AS n_lines
        |  FROM dc)
        |SELECT doc_id,
        |  CASE WHEN n_lines >= 2 THEN 'done' ELSE 'failed' END AS status,
        |  CASE WHEN n_lines >= 2 THEN n_lines END AS lines_processed,
        |  CASE WHEN n_lines < 2 THEN 'CSV file is empty or has only headers' END AS error_message
        |FROM j""".stripMargin)),

    // ST2 — per-key delivery-attempt counter (ARCHITECTURE.md:69-79) as a
    // running row_number over each user's error events.
    QueryDef("st2_attempt_counter",
      (s, d) => table(s, d, "events")
        .filter(col("event_type") === "error")
        .select(
          col("event_id"), col("user_id"),
          row_number().over(
            Window.partitionBy("user_id").orderBy("event_id"))
            .cast("long").as("attempt")),
      Some("""SELECT event_id, user_id,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS attempt
        |FROM events WHERE event_type = 'error'""".stripMargin)),

    // S6 — the ledger MERGE shape: full-outer join + per-column
    // coalesce(new, old) = Firestore set(merge=True) (main.py:61-68).
    QueryDef("s6_merge_coalesce",
      (s, d) => {
        val e = table(s, d, "events")
        val old = e.filter(col("event_id") < 5000).groupBy("user_id")
          .agg(sum(cents(col("value"))).as("v_old"))
        val nw = e.filter(col("event_id") >= 5000)
          .groupBy(col("user_id").as("user_id_n"))
          .agg(sum(cents(col("value"))).as("v_new"))
        old.join(nw, old("user_id") === nw("user_id_n"), "full_outer")
          .select(
            coalesce(col("user_id"), col("user_id_n")).as("user_id"),
            coalesce(col("v_new"), col("v_old")).as("merged_value_c"),
            (col("user_id").isNotNull && col("user_id_n").isNotNull)
              .as("had_both"))
      },
      Some("""WITH o AS (SELECT user_id, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v_old
        |  FROM events WHERE event_id < 5000 GROUP BY user_id),
        |n AS (SELECT user_id, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v_new
        |  FROM events WHERE event_id >= 5000 GROUP BY user_id)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |  coalesce(n.v_new, o.v_old) AS merged_value_c,
        |  (o.user_id IS NOT NULL AND n.user_id IS NOT NULL) AS had_both
        |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id""".stripMargin)),

    // S7+ST3 — DLQ routing: keys whose failure count reached max attempts.
    QueryDef("s7_dlq_threshold",
      (s, d) => table(s, d, "events")
        .filter(col("event_type") === "error")
        .groupBy("user_id").agg(count(lit(1)).as("attempts"))
        .filter(col("attempts") >= 5),
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS attempts
        |FROM events WHERE event_type = 'error'
        |GROUP BY user_id HAVING count(*) >= 5""".stripMargin)),

    // S8+L1+L2 — list-uploads: status filter + order + limit (README.md:48-64).
    QueryDef("s8_list_filtered_limit",
      (s, d) => table(s, d, "events")
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), cents(col("value")).as("value_c"))
        .orderBy(col("event_id").desc)
        .limit(10),
      Some("""SELECT event_id, user_id, CAST(round(value*100) AS BIGINT) AS value_c
        |FROM events WHERE event_type = 'signup'
        |ORDER BY event_id DESC LIMIT 10""".stripMargin)),

    // D2 — point lookup by key (get-upload-status, README.md:51).
    QueryDef("d2_point_lookup",
      (s, d) => table(s, d, "events")
        .filter(col("event_id") === 4242)
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents(col("value")).as("value_c")),
      Some("""SELECT event_id, user_id, event_type,
        |CAST(round(value*100) AS BIGINT) AS value_c
        |FROM events WHERE event_id = 4242""".stripMargin)),

    // D2 through the DATA-LAYOUT tier: the same point lookup served from
    // a key-sorted multi-file ledger plus the per-file min/max stats
    // manifest (graft.operators.Layout.writeKeyStats) — the lookup plans
    // over EXACTLY the files whose [kmin, kmax] covers the key, so at a
    // million-file ledger it reads one file, not one listing. The
    // timed body includes the one-time layout+manifest build (the index
    // build a production ledger pays at write time); LayoutSpec asserts
    // the 1-of-N numFiles metric, this query proves result identity with
    // the plain D2 oracle on the verified surface.
    QueryDef("d2_point_lookup_pruned",
      (s, d) => {
        val base = new java.io.File(
          sys.props("java.io.tmpdir"),
          "graft-zledger-" + java.security.MessageDigest.getInstance("MD5")
            .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString +
            "-" + s.sparkContext.applicationId).toString
        val dir = base + "/events"
        table(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .write.mode("overwrite").parquet(dir)
        graft.operators.Layout.writeKeyStats(s, dir, "event_id")
        graft.operators.Layout.statPrunedLookup(s, dir, "event_id", 4242L)
          .select(col("event_id"), col("user_id"), col("event_type"),
            cents(col("value")).as("value_c"))
      },
      Some("""SELECT event_id, user_id, event_type,
        |CAST(round(value*100) AS BIGINT) AS value_c
        |FROM events WHERE event_id = 4242""".stripMargin)),

    // ST1 — event-time tumbling-window aggregation (the batch shape of the
    // streaming query; the streaming run itself is ScalaTest-verified).
    QueryDef("st1_windowed_counts",
      (s, d) => table(s, d, "events")
        .groupBy(
          unix_micros(date_trunc("hour", tsCol)).as("hour_us"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_c")),
      Some("""SELECT CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_us,
        |event_type, CAST(count(*) AS BIGINT) AS n,
        |CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // ST5 — within-batch dedup, set-based (first event per key): the
    // deterministic equivalent of dropDuplicates on an ordered batch.
    QueryDef("st5_first_per_key",
      (s, d) => table(s, d, "events")
        .groupBy("user_id").agg(min(col("event_id")).as("first_event")),
      Some("""SELECT user_id, min(event_id) AS first_event
        |FROM events GROUP BY user_id""".stripMargin)),

    // Pipeline observability: the reference logs its funnel per invocation
    // (main.py:31-53); at scale the funnel must ride the job that does the
    // real work. The metrics below are collected by ONE observed pass over
    // the file-event source (Observation API — accumulator-backed, no
    // second scan; ObservabilitySpec asserts the single-job property).
    // The oracle recomputes each metric declaratively.
    QueryDef("pipeline_observe",
      (s, d) => {
        import graft.operators.Observability
        val fe = fileEvents(s, d)
        Observability.funnel(fe,
          "files_total" -> count(lit(1)),
          "files_csv" -> count(when(col("file_name").endsWith(".csv"), 1)),
          "files_dropped" -> count(when(!col("file_name").endsWith(".csv"), 1)),
          "files_empty" -> count(when(col("file_name").endsWith(".csv") &&
            col("file_size") === 0L, 1)),
          "bytes_csv" -> sum(when(col("file_name").endsWith(".csv"),
            col("file_size")).otherwise(0L)))
      },
      Some(s"""$FE
        |SELECT metric, value FROM (
        |  SELECT 'files_total' AS metric, CAST(count(*) AS BIGINT) AS value FROM fe
        |  UNION ALL SELECT 'files_csv', CAST(count(*) AS BIGINT) FROM fe
        |    WHERE file_name LIKE '%.csv'
        |  UNION ALL SELECT 'files_dropped', CAST(count(*) AS BIGINT) FROM fe
        |    WHERE file_name NOT LIKE '%.csv'
        |  UNION ALL SELECT 'files_empty', CAST(count(*) AS BIGINT) FROM fe
        |    WHERE file_name LIKE '%.csv' AND file_size = 0
        |  UNION ALL SELECT 'bytes_csv', CAST(sum(CASE WHEN file_name LIKE '%.csv'
        |    THEN file_size ELSE 0 END) AS BIGINT) FROM fe)""".stripMargin)),

    // Declarative data-quality audit — the table-level expectations pass
    // (null / range / allowed-set / custom predicate) fused into ONE
    // aggregate scan, plus a referential orphan check as a single
    // anti-join. Exact violation counts, not booleans: admission
    // thresholds stay a consumer decision. The range and set rules are
    // violated by construction (values above 100, the 'error' type), so
    // the audit demonstrably counts, not just passes.
    QueryDef("dq_audit",
      (s, d) => {
        import graft.operators.DataQuality
        import graft.operators.DataQuality._
        val ev = table(s, d, "events")
        DataQuality.audit(ev, Seq(
            notNull("props"),
            inRange("value", 0.0, 100.0),
            inSet("event_type", Seq("click", "view", "purchase", "signup")),
            expect("positive_value", col("value") > 0)))
          .unionByName(DataQuality.orphans("orphan_lineitem",
            table(s, d, "lineitem"), "l_orderkey",
            table(s, d, "orders"), "o_orderkey"))
      },
      Some("""SELECT 'not_null_props' AS rule,
        |  CAST(count(*) FILTER (WHERE props IS NULL) AS BIGINT) AS violations,
        |  CAST(count(*) AS BIGINT) AS checked FROM events
        |UNION ALL SELECT 'range_value',
        |  CAST(count(*) FILTER (WHERE value IS NOT NULL
        |    AND (value < 0 OR value > 100)) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL SELECT 'set_event_type',
        |  CAST(count(*) FILTER (WHERE event_type IS NOT NULL AND event_type
        |    NOT IN ('click', 'view', 'purchase', 'signup')) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL SELECT 'positive_value',
        |  CAST(count(*) FILTER (WHERE NOT (value > 0)) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL SELECT 'orphan_lineitem',
        |  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT)""".stripMargin)),

    // Column profiling — the ANALYZE-style pass you run before processing
    // an unknown table: per column, row/null/exact-distinct counts and
    // typed min/max (surfaced as strings so one schema fits every
    // column). ONE aggregate over the table computes every column's
    // statistics (Spark plans the multi-countDistinct as a single expand
    // + aggregate — one pass, one shuffle), then a stack() unpivots the
    // 1-row result into a row per column. The doubles profile through
    // integer cents (repo-wide discipline), timestamps through epoch
    // micros.
    QueryDef("dq_column_profile",
      (s, d) => {
        val ev = table(s, d, "events").select(
          col("event_id"), tsMicros.as("ts_us"), col("user_id"),
          col("event_type"), cents(col("value")).as("value_c"), col("props"))
        val cols = Seq("event_id", "ts_us", "user_id", "event_type",
          "value_c", "props")
        // ONE shared total-row count — per-column totals are guaranteed
        // identical, so six count(1) buffers would be pure redundancy
        val exprs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
          Seq(count(when(col(c).isNull, 1)).as(s"nulls_$c"),
            countDistinct(col(c)).as(s"dist_$c"),
            min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c"))
        }
        val one = ev.agg(exprs.head, exprs.tail: _*)
        one.select(expr(
          s"stack(${cols.length}, ${cols.map(c =>
            s"'$c', n_rows, nulls_$c, dist_$c, min_$c, max_$c").mkString(", ")})"
            + " AS (column_name, n_rows, n_nulls, n_distinct, min_s, max_s)"))
      },
      Some("""WITH ev AS (SELECT event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, user_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS value_c, props
        |  FROM events)
        |SELECT 'event_id' AS column_name, count(*) AS n_rows,
        |  CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT) AS n_nulls,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(min(event_id) AS VARCHAR) AS min_s,
        |  CAST(max(event_id) AS VARCHAR) AS max_s FROM ev
        |UNION ALL SELECT 'ts_us', count(*),
        |  CAST(count(*) FILTER (WHERE ts_us IS NULL) AS BIGINT),
        |  count(DISTINCT ts_us),
        |  CAST(min(ts_us) AS VARCHAR), CAST(max(ts_us) AS VARCHAR) FROM ev
        |UNION ALL SELECT 'user_id', count(*),
        |  CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT),
        |  count(DISTINCT user_id),
        |  CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR) FROM ev
        |UNION ALL SELECT 'event_type', count(*),
        |  CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT),
        |  count(DISTINCT event_type),
        |  CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR) FROM ev
        |UNION ALL SELECT 'value_c', count(*),
        |  CAST(count(*) FILTER (WHERE value_c IS NULL) AS BIGINT),
        |  count(DISTINCT value_c),
        |  CAST(min(value_c) AS VARCHAR), CAST(max(value_c) AS VARCHAR) FROM ev
        |UNION ALL SELECT 'props', count(*),
        |  CAST(count(*) FILTER (WHERE props IS NULL) AS BIGINT),
        |  count(DISTINCT props),
        |  CAST(min(props) AS VARCHAR), CAST(max(props) AS VARCHAR) FROM ev"""
        .stripMargin)),

    // K-ANONYMITY audit — the re-identification risk gate a data-release
    // pipeline runs before publishing: group rows by their
    // quasi-identifier tuple (event_type, day, value decile) and flag
    // equivalence classes smaller than k=5 — a row in such a class can be
    // linked back to an individual by an adversary who knows those three
    // attributes. Output is one row per event_type (bounded by type
    // cardinality): class counts, risky-class counts, rows at risk, and
    // the smallest class. Two hash aggregations, the second over
    // class-level rows only — no window, no skew sensitivity, scales as a
    // pure shuffle on the quasi-identifier key.
    QueryDef("dq_k_anonymity",
      (s, d) => {
        val ev = table(s, d, "events").select(
          col("event_type"),
          call_function("div", tsMicros, lit(86400000000L)).as("day_idx"),
          expr("CAST(floor(value / 10) AS BIGINT)").as("vbucket"))
        val combos = ev.groupBy("event_type", "day_idx", "vbucket")
          .agg(count(lit(1)).as("combo_n"))
        combos.groupBy("event_type")
          .agg(count(lit(1)).as("n_combos"),
            sum(when(col("combo_n") < 5, 1L).otherwise(0L))
              .as("n_risky_combos"),
            coalesce(sum(when(col("combo_n") < 5, col("combo_n"))), lit(0L))
              .as("n_risky_rows"),
            min(col("combo_n")).as("min_combo_size"))
      },
      Some("""WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
        |    CAST(floor(value / 10) AS BIGINT) AS vbucket
        |  FROM events),
        |combos AS (SELECT event_type, day_idx, vbucket, count(*) AS combo_n
        |  FROM ev GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_combos,
        |  CAST(count(*) FILTER (WHERE combo_n < 5) AS BIGINT) AS n_risky_combos,
        |  CAST(coalesce(sum(combo_n) FILTER (WHERE combo_n < 5), 0) AS BIGINT) AS n_risky_rows,
        |  CAST(min(combo_n) AS BIGINT) AS min_combo_size
        |FROM combos GROUP BY 1""".stripMargin)),

    // FRESHNESS audit — the staleness dimension of data quality (the
    // others: validity/completeness in dq_audit, distribution in
    // dq_column_profile/dq_skew_profile, re-identification in
    // dq_k_anonymity): per event type, the latest event time and its lag
    // behind the corpus-wide maximum. The reference clock is data-derived
    // (the global max), not the wall clock — a registered query must be a
    // pure function of its input. One aggregation plus a broadcast
    // scalar attach.
    QueryDef("dq_freshness",
      (s, d) => {
        val ev = table(s, d, "events")
          .select(col("event_type"), tsMicros.as("us"))
        val gm = ev.agg(max("us").as("global_max_us"))
        ev.groupBy("event_type")
          .agg(max("us").as("latest_us"), count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(gm))
          .select(col("event_type"), col("latest_us"),
            (col("global_max_us") - col("latest_us")).as("staleness_us"),
            col("n_rows"))
      },
      Some("""WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |gm AS (SELECT max(us) AS global_max_us FROM ev)
        |SELECT event_type, max(us) AS latest_us,
        |  global_max_us - max(us) AS staleness_us,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM ev, gm GROUP BY event_type, global_max_us""".stripMargin)),

    // JSONL SOURCE round-trip with corrupt-record accounting — the JSON
    // file-source counterpart of the CSV warehouse path (S3) and the
    // Pub/Sub envelope decode (S5): materialize the corpus as JSON
    // Lines via a distributed text write (every 97th document written
    // DELIBERATELY truncated — the torn-line/partial-flush corruption a
    // real inbox contains), then read it back through Spark's JSON
    // source with an explicit schema in PERMISSIVE mode, routing
    // unparseable lines to the corrupt-record column instead of failing
    // the scan. The per-source ledger (row counts + character totals,
    // corrupt lines under a NULL source) must reconcile EXACTLY with
    // what the parquet ground truth predicts — proving schema
    // projection, type coercion, and corrupt accounting in one pass.
    // Scale shape: write and read are both partition-parallel file IO;
    // nothing driver-sized but the final |sources|+1-row report.
    QueryDef("wh_jsonl_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types._
        val cols = struct(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text"))
        val line = when(col("doc_id") % 97 === 0,
            expr("substring(to_json(struct(doc_id, lang, source, n_chars, text)), 1, 20)"))
          .otherwise(to_json(cols))
        // scratch dir is keyed by dataset AND application id: two
        // concurrent sessions (verify + bench on the same fixture) must
        // not race on one directory
        val outDir = new java.io.File(
          sys.props("java.io.tmpdir"),
          "graft-jsonl-" + java.security.MessageDigest.getInstance("MD5")
            .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString +
            "-" + s.sparkContext.applicationId)
          .toString
        table(s, d, "documents").select(line.as("value"))
          .write.mode("overwrite").text(outDir)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType), StructField("text", StringType),
          StructField("_corrupt", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(outDir)
          // corrupt rows bucket on the _corrupt marker itself, NOT on
          // their NULL source — a document whose source is genuinely
          // NULL stays a distinct (NULL, 0) group instead of silently
          // merging with the parse-failure ledger
          .groupBy(col("source"),
            when(col("_corrupt").isNotNull, 1L).otherwise(0L)
              .as("is_corrupt"))
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
      },
      Some("""SELECT source, CAST(0 AS BIGINT) AS is_corrupt,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 97 != 0 GROUP BY source
        |UNION ALL
        |SELECT NULL AS source, CAST(1 AS BIGINT) AS is_corrupt,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 97 = 0""".stripMargin))
  )
}

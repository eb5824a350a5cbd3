package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for the reference's scalar operators (SURVEY.md §2.2).
  *
  * All of these stay inside whole-stage codegen (built-in Catalyst
  * expressions only — no UDFs), so at 100 TB the per-row cost is a few
  * generated-JVM ops, and every one of them is pushdown/prune-transparent.
  */
object IngestFunctions {

  /** Python `datetime.isoformat()` for a tz-aware UTC timestamp.
    *
    * The reference embeds `blob.time_created.isoformat()` in the identity
    * hash (reference: csv-processor-function/main.py:47), so byte-exact
    * fidelity matters: `2025-11-28T09:30:00+00:00` (no fractional part when
    * microsecond == 0) and `2025-11-28T09:30:00.123456+00:00` otherwise —
    * microseconds are 6-digit zero-padded, never trimmed.
    *
    * Requires spark.sql.session.timeZone=UTC (GCS `time_created` is UTC).
    */
  def pyIsoformatUtc(ts: Column): Column = {
    val base   = date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    val micros = date_format(ts, "SSSSSS")
    concat(
      base,
      when(micros === "000000", lit("")).otherwise(concat(lit("."), micros)),
      lit("+00:00")
    )
  }

  /** Deterministic upload identity from file metadata.
    *
    * `upload_id = sha256(f"{bucket}-{name}-{size}-{created}")[:16]`
    * (reference: csv-processor-function/main.py:15-18), with real size and
    * mtime. DELIBERATE DEVIATION from the reference's *effective* behavior:
    * the reference builds its blob handle locally without an RPC
    * (`bucket.blob(file_name)`, main.py:41), so `blob.size` is None —
    * rendered literally as `"None"` by the f-string (only `time_created`
    * is None-guarded to "", main.py:47) — and its effective hash input is
    * `f"{bucket}-{name}-None-"`: the idempotency key degenerates to
    * bucket+name only. This engine hashes the REAL size and creation time
    * (both always present in the listing), so a same-name re-upload with
    * new content gets a new identity and reprocesses — the behavior the
    * reference's formula clearly intended. The degenerate reference key is
    * golden-tested in IngestFunctionsSpec to document the divergence.
    * concat_ws would *skip* SQL NULLs — Python f-strings do not — so every
    * part is null-coalesced explicitly to "" (the isoformat fallback).
    */
  def uploadId(bucket: Column, name: Column, size: Column, createdIso: Column): Column =
    substring(
      sha2(
        concat_ws(
          "-",
          coalesce(bucket, lit("")),
          coalesce(name, lit("")),
          coalesce(size.cast("string"), lit("")),
          coalesce(createdIso, lit(""))
        ),
        256
      ),
      1, 16
    )

  /** The reference's line count: `len(content.split('\n'))`.
    *
    * Python `str.split` fencepost (SURVEY.md §2.7.1): N newlines → N+1
    * elements, so `"a\nb\n"` counts 3 and `""` counts 1. Implemented as
    * (#newlines + 1) so a whole-file string needs one pass, no split/explode.
    * (reference: csv-processor-function/main.py:121-123)
    */
  def pySplitLineCount(content: Column): Column =
    (length(content) - length(replace(content, lit("\n"), lit("")))) + lit(1)

  /** Extension filter: only `.csv` files enter the pipeline at all
    * (pre-ledger — non-CSV uploads leave no trace; reference main.py:33-36).
    */
  def isCsvPath(path: Column): Column = lower(path).endsWith(".csv")

  /** Validation predicate: fewer than 2 `split('\n')` elements is "CSV file
    * is empty or has only headers" (reference main.py:126-127). Note the
    * quirk: a file containing a single "\n" PASSES (2 elements) — SURVEY.md
    * §2.7.2.
    */
  def isValidCsv(lineCount: Column): Column = lineCount >= MinCsvLines

  /** [[isValidCsv]]'s bound, for line counts already on the driver. */
  val MinCsvLines = 2L

  val ValidationError = "CSV file is empty or has only headers"

  /** The Pub/Sub envelope as a JSON string (reference main.py:74-80:
    * `json.dumps({'upload_id':…,'bucket_name':…,'file_name':…})`).
    *
    * Built with `to_json(struct(...))` so quotes/backslashes/control chars
    * in file names are escaped correctly (the reference's json.dumps does
    * this too; a printf template would emit invalid JSON for them). Known
    * deliberate deviation: json.dumps' default `", "`/`": "` separators and
    * `ensure_ascii` \\uXXXX escapes are not replicated — the envelope is an
    * internal handoff, so structural equality is what matters.
    */
  def envelopeJson(uploadId: Column, bucket: Column, name: Column): Column =
    to_json(struct(
      uploadId.as("upload_id"), bucket.as("bucket_name"), name.as("file_name")))
}

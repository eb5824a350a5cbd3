package graft.queries

import graft.operators.BandedJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for a training-data pipeline over `documents`: token
  * counting, quality scoring, language ID, fingerprinting, and the
  * multimodal binary-column plumbing. All scalar, codegen-friendly,
  * shuffle-free except the final write — they scale linearly with the
  * corpus and partition trivially.
  */
object TextQueries {
  import Q._

  /** Occurrences of `needle` in `text` by length difference (non-overlap). */
  private def occurrences(hay: String, needle: String): String =
    s"(length($hay) - length(replace($hay, '$needle', ''))) DIV ${needle.length}"

  private val BpeRounds = 8

  /** Max images one phash (band, value) bucket may hold and still enter
    * the candidate join (multimodal_phash): bounds a bucket at 496 pairs;
    * hotter buckets are dropped. */
  val PhashBandCap = 32

  /** Content digest of the documents fixture, memoized per (session,
    * dir) — the IndexStore key for text-trained artifacts (BPE merges,
    * classifier weights), mirroring SimilarityQueries' embedding key. */
  private val fixtureKeys = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]
  private def docKey(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    fixtureKeys.getOrElseUpdate((s, d),
      graft.operators.IndexStore.digestOf(table(s, d, "documents")))

  /** In-JVM memo (one materialization per sweep) over the disk store (one
    * TRAINING per fixture and trainer `version` ever) — the trained-artifact
    * layering the similarity set established, applied to text-trained
    * state. Bump an artifact's `version` when its trainer changes. */
  private def trainedArtifact(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String, version: Int)(build: => DataFrame): DataFrame =
    cached(s, d, tag) {
      graft.operators.IndexStore.cached(s, tag, docKey(s, d),
        version = version)(build)
    }

  /** DuckDB replay of `text_bpe_train`: the 8 merge rounds unrolled as
    * CTE stages (w0 → p1/m1 → w1 → … → m8), each stage re-deriving the
    * pair counts from the previous dictionary state and applying the
    * argmax merge via the same `replace` string semantics the Spark side
    * uses. Generated by a loop so the round structure cannot drift from
    * [[BpeRounds]].
    */
  /** The shared training CTE chain (bw0 → bp1/bm1/bw1 → … → bm8/bw8):
    * the WITH body both BPE oracles start from. AS MATERIALIZED
    * everywhere: each round references the previous dictionary state
    * twice (pair counts + the merged rewrite) and its own argmax three
    * times — without forced materialization DuckDB inlines the CTEs and
    * the 8-round chain re-evaluates the base scan exponentially
    * (observed: "Too many open files" from thousands of parquet opens).
    */
  private lazy val bpeTrainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH bw0 AS MATERIALIZED (
        |  SELECT '|' || array_to_string(
        |      list_filter(regexp_split_to_array(w, ''), p -> p <> ''), '|')
        |    || '|' AS sym, wc
        |  FROM (SELECT w, count(*) AS wc FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |    WHERE regexp_matches(w, '^[a-z]{2,}$') GROUP BY w))""".stripMargin)
    for (r <- 1 to BpeRounds) {
      val prev = s"bw${r - 1}"
      sb.append(s""",
        |bp$r AS MATERIALIZED (SELECT l, r, sum(wc) AS support FROM (
        |  SELECT wc, ps[CAST(i AS INT)] AS l, ps[CAST(i + 1 AS INT)] AS r
        |  FROM (SELECT wc, ps, unnest(range(1, len(ps))) AS i
        |    FROM (SELECT wc,
        |      list_filter(string_split(sym, '|'), p -> p <> '') AS ps
        |      FROM $prev)))
        |  GROUP BY l, r),
        |bm$r AS MATERIALIZED (SELECT l, r, support FROM bp$r
        |  ORDER BY support DESC, l, r LIMIT 1),
        |bw$r AS MATERIALIZED (SELECT replace(sym,
        |    '|' || (SELECT l FROM bm$r) || '|' || (SELECT r FROM bm$r) || '|',
        |    '|' || (SELECT l FROM bm$r) || (SELECT r FROM bm$r) || '|') AS sym,
        |  wc FROM $prev)""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB replay of `text_bpe_train`: the training chain + one UNION ALL
    * row per learned merge. */
  private lazy val bpeOracleSql: String =
    bpeTrainCtes + "\n" + (1 to BpeRounds).map(r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, l AS lhs, r AS rhs,
         |  l || r AS merged, CAST(support AS BIGINT) AS support FROM bm$r"""
        .stripMargin)
      .mkString("\nUNION ALL\n")

  /** DuckDB replay of `text_bpe_encode`: the training chain (for the bm$r
    * merge rules) + an encode chain ew0 → … → ew8 that applies each merge
    * to the DISTINCT-WORD dictionary (w preserved as the join key), then a
    * broadcast-shaped LEFT JOIN from exploded document words. Each ew
    * round is guarded for merge exhaustion — an empty bm$r leaves the
    * dictionary unchanged instead of nulling it (the Spark side simply
    * stops applying merges at the same round).
    */
  /** Training chain + encode chain (ew0 → ew[[BpeRounds]]) with no final
    * SELECT — the shared WITH body of the encode oracle and the fertility
    * oracle. */
  private lazy val bpeEncodeCtes: String = {
    val sb = new StringBuilder
    sb.append(bpeTrainCtes)
    sb.append(
      """,
        |ew0 AS MATERIALIZED (
        |  SELECT w, '|' || array_to_string(
        |      list_filter(regexp_split_to_array(w, ''), p -> p <> ''), '|')
        |    || '|' AS sym
        |  FROM (SELECT DISTINCT w FROM (
        |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |    WHERE regexp_matches(w, '^[a-z]{2,}$')))""".stripMargin)
    for (r <- 1 to BpeRounds) {
      sb.append(s""",
        |ew$r AS MATERIALIZED (SELECT w,
        |  CASE WHEN (SELECT count(*) FROM bm$r) = 0 THEN sym
        |  ELSE replace(sym,
        |    '|' || (SELECT l FROM bm$r) || '|' || (SELECT r FROM bm$r) || '|',
        |    '|' || (SELECT l FROM bm$r) || (SELECT r FROM bm$r) || '|') END
        |  AS sym FROM ew${r - 1})""".stripMargin)
    }
    sb.toString
  }

  private lazy val bpeEncodeOracleSql: String =
    bpeEncodeCtes + s"""
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(CASE WHEN e.w IS NULL THEN length(t.w)
      |    ELSE len(list_filter(string_split(e.sym, '|'), p -> p <> ''))
      |    END) AS BIGINT) AS n_tokens
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |      FROM documents) t
      |LEFT JOIN ew$BpeRounds e ON t.w = e.w
      |GROUP BY 1""".stripMargin

  private lazy val bpeFertilityOracleSql: String =
    bpeEncodeCtes + s"""
      |SELECT lang, n_words, n_tokens,
      |  n_tokens * 1000000 // n_words AS fertility_ppm
      |FROM (SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(CASE WHEN e.w IS NULL THEN length(t.w)
      |      ELSE len(list_filter(string_split(e.sym, '|'), p -> p <> ''))
      |      END) AS BIGINT) AS n_tokens
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents) t
      |  LEFT JOIN ew$BpeRounds e ON t.w = e.w
      |  GROUP BY 1) z""".stripMargin

  private def occurrencesSql(hay: String, needle: String): String =
    s"(length($hay) - length(replace($hay, '$needle', ''))) // ${needle.length}"

  /** Subword token count — the budget measure context-window packing
    * runs on. A deterministic BPE-like segmentation: letter runs split
    * greedily into ≤4-char pieces (the average piece length of public
    * byte-pair vocabularies), digit runs into ≤3-char pieces, every
    * other non-space character is its own token. Counting whitespace
    * WORDS instead would under-fill bins by exactly the factor long
    * words split into subwords — bins are sized in tokenizer tokens.
    * Greedy quantifiers tokenize identically under java.util.regex and
    * RE2, so the count is engine-portable (same contract as
    * `n_bpe_tokens` in text_token_stats).
    */
  private val SubwordRe = "[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9 ]"
  private[queries] def subwordCount: org.apache.spark.sql.Column =
    expr(s"CAST(size(regexp_extract_all(text, '$SubwordRe', 0)) AS BIGINT)")
  private[queries] def subwordCountSql: String =
    s"CAST(len(regexp_extract_all(text, '$SubwordRe')) AS BIGINT)"

  /** The packing table: (doc_id, n_tokens, cum) — each document's subword
    * token count with its INCLUSIVE running total in doc_id order, via the
    * distributed prefix sum (graft.operators.TotalOrder.prefixSum: range
    * shuffle + totals-only pass + parallel emit). Persisted once per
    * (session, dataset) and shared by `corpus_pack_bins` and
    * `corpus_shard_text`: the subword segmentation (a regex extraction over
    * every document) and the prefix-sum shuffle are the expensive part of
    * both queries, and the bin assignment each derives from `cum` is
    * identical — computing it twice doubled the pair's cost for no reason
    * (round-6 bench: 3.40 s + 3.37 s for what is one shared scan).
    */
  private def packCum(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "pack_cum") {
      graft.operators.TotalOrder.prefixSum(
        table(s, d, "documents")
          .select(col("doc_id"), subwordCount.as("n_tokens")),
        Seq(col("doc_id")), "n_tokens", "cum", 8)
    }

  /** Distinct per-document word-8-grams — the decontamination probe
    * relation: `corpus_decontaminate` (exact gram join), its Bloom form,
    * the curation funnel's decontamination stage, and the composed
    * `corpus_build_manifest` all read the SAME materialization instead of
    * re-exploding the corpus per query (it is the most expensive scan any
    * of them performs). Built first by the dedup set, released after the
    * text set (crossSetTags). */
  private[queries] def docGrams8(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "doc_grams8") {
      table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          explode(when(size(col("ws")) >= 8,
              sequence(lit(1), size(col("ws")) - 7))
            .otherwise(array().cast("array<int>"))).as("i"),
          col("ws"))
        .select(col("doc_id"), expr((1 to 7)
          .map(o => s"element_at(ws, i + $o)")
          .mkString("element_at(ws, i) || ' ' || ",
            " || ' ' || ", "")).as("gram"))
        .distinct()
    }

  /** DuckDB rendering of [[docGrams8]]: a CTE prefix ending in
    * `g8(doc_id, gram)`. Keep in lockstep with the Spark builder. */
  private[queries] val Grams8Sql: String =
    """WITH g8 AS MATERIALIZED (SELECT DISTINCT doc_id,
      |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
      |    ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS gram
      |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)))"""
      .stripMargin

  /** Distinct per-document winnow fingerprints (MOSS, k=8 w=4), computed
    * block-locally with the native `winnow_fps` expression and persisted
    * once per (session, dataset) — shared by the fingerprint query and the
    * winnow-overlap dedup in [[DedupQueries]].
    */
  private[queries] def winnowFps(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "winnow_fps") {
      val k = 8; val w = 4; val b = 4096 // window-starts per block
      table(s, d, "documents")
        .filter(length(col("text")) >= k + w - 1)
        .select(col("doc_id"), col("text"),
          (length(col("text")) - (k - 1) - (w - 1)).as("n_win"))
        .select(col("doc_id"), col("text"), col("n_win"),
          explode(sequence(lit(0),
            floor((col("n_win") - 1) / b).cast("int"))).as("blk"))
        .select(col("doc_id"),
          col("text").substr(col("blk") * b + 1, lit(b + k + w - 2))
            .as("btext"),
          least(lit(b), col("n_win") - col("blk") * b).cast("int")
            .as("loc_win"))
        .select(col("doc_id"),
          explode(expr(s"winnow_fps(btext, loc_win, $k, $w)")).as("fp"))
        .distinct()
    }

  /** DuckDB rendering of [[winnowFps]]: a CTE prefix ending in
    * `wfp(doc_id, fp)`. Keep in lockstep with the Spark builder.
    */
  private[queries] val WinnowFpsSql: String =
    """WITH g AS (
      |  SELECT doc_id, i, length(text) AS len,
      |    substr(md5(substr(text, i, 8)), 1, 8) AS gh
      |  FROM (SELECT doc_id, text,
      |    unnest(range(1, greatest(length(text) - 6, 1))) AS i
      |    FROM documents WHERE length(text) >= 11)),
      |w AS (SELECT doc_id, i, len,
      |  min(gh) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM g),
      |wfp AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= len - 7 - 3)""".stripMargin

  private val ClfRounds = 4

  /** Per-document classifier features, persisted once per (session,
    * dataset): 16 hashed word-bucket counts (first md5 hex digit of each
    * word) + the heuristic quality label. One explode + one
    * map-side-combined groupBy; every value is an exact integer.
    */
  private def clfFeats(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    cached(s, d, "clf_feats") {
      val xCols = (0 until 16).map(j =>
        sum(when(col("b") === j, 1).otherwise(0)).cast("long").as(s"x$j"))
      table(s, d, "documents")
        .select(col("doc_id"),
          when(size(split(col("text"), " ")) >= 30 &&
            (expr(occurrences("text", " the ")) +
              expr(occurrences("text", " a "))) >= 1, 1L)
            .otherwise(0L).as("y"),
          explode(split(col("text"), " ")).as("w"))
        .withColumn("b",
          expr("CAST(conv(substring(md5(w), 1, 1), 16, 10) AS INT)"))
        .groupBy("doc_id", "y")
        .agg(xCols.head, xCols.tail: _*)
    }

  /** DuckDB replay of `corpus_quality_classifier`: features + the
    * [[ClfRounds]] gradient rounds unrolled as MATERIALIZED CTEs
    * (p{r} link output → g{r} quantized gradient sums → w{r} weights),
    * operand-for-operand the arithmetic the Spark side runs. Generated by
    * a loop so the round structure cannot drift.
    */
  private lazy val clfOracleSql: String = {
    // the word's md5 feature bucket is computed ONCE per word row in cb
    // (k), not once per feature column in cf — 16 md5 calls per word
    // collapsed to 1 (the cf form cost ~7-9 s of near-constant oracle
    // wall at EVERY scale)
    val hexPos = (k: Int) => s"k = $k"
    val sb = new StringBuilder
    sb.append(s"""WITH cb AS MATERIALIZED (SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 30 AND
      |      (${occurrencesSql("text", " the ")} +
      |       ${occurrencesSql("text", " a ")}) >= 1
      |    THEN 1 ELSE 0 END AS y,
      |    strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1 AS k
      |  FROM (SELECT doc_id, text,
      |    unnest(string_split(text, ' ')) AS w FROM documents)),
      |cf AS MATERIALIZED (SELECT doc_id, CAST(y AS BIGINT) AS y,
      |    ${(0 until 16).map(j =>
              s"CAST(sum(CASE WHEN ${hexPos(j)} THEN 1 ELSE 0 END) AS BIGINT) AS x$j")
              .mkString(",\n    ")}
      |  FROM cb GROUP BY 1, 2),
      |cn AS MATERIALIZED (SELECT count(*) AS n FROM cf),
      |cw0 AS MATERIALIZED (SELECT ${(0 to 16).map(j => s"CAST(0 AS BIGINT) AS w$j")
              .mkString(", ")})""".stripMargin)
    for (r <- 1 to ClfRounds) {
      val z = (0 until 16).map(j => s"w.w$j * f.x$j").mkString(" + ") +
        " + w.w16"
      sb.append(s""",
        |cp$r AS MATERIALIZED (SELECT f.doc_id, f.y,
        |    ${(0 until 16).map(j => s"f.x$j").mkString(", ")},
        |    least(greatest(CAST($z AS DOUBLE) / 4000000.0 + 0.5, 0.0), 1.0)
        |      AS p
        |  FROM cf f, cw${r - 1} w),
        |cg$r AS MATERIALIZED (SELECT
        |    ${(0 until 16).map(j =>
               s"sum(CAST(round((p - y) * x$j * 1000000.0) AS BIGINT)) AS s$j")
               .mkString(",\n    ")},
        |    sum(CAST(round((p - y) * 1000000.0) AS BIGINT)) AS s16
        |  FROM cp$r),
        |cw$r AS MATERIALIZED (SELECT
        |    ${(0 to 16).map(j =>
               s"w.w$j - CAST(round(CAST(g.s$j AS DOUBLE) / " +
               s"(2.0 * (SELECT n FROM cn))) AS BIGINT) AS w$j")
               .mkString(",\n    ")}
        |  FROM cw${r - 1} w, cg$r g)""".stripMargin)
    }
    sb.append("\n")
    sb.append((0 to 16).map(j =>
      s"SELECT CAST($j AS BIGINT) AS feature_id, w$j AS weight_micros " +
        s"FROM cw$ClfRounds").mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** The vocab-bounded BPE word dictionary: ONE corpus pass builds
    * ('|'-delimited symbol string, word count), persisted per (session,
    * dataset) — training rounds and the encode query all run on this memo,
    * never on a corpus re-scan.
    */
  private def bpeWords(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    cached(s, d, "bpe_words") {
      table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]{2,}$"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(concat(lit("|"),
          concat_ws("|", expr("filter(split(w, ''), p -> p != '')")),
          lit("|")).as("sym"), col("wc"))
    }

  /** The learned merge table (rank, lhs, rhs, support) — the iterative
    * training loop shared by `text_bpe_train` (which surfaces it) and
    * `text_bpe_encode` (which applies it). Each round is ONE map-side-
    * combined pair-count aggregation over [[bpeWords]] plus a single-ROW
    * argmax collect; the driver holds 8 merge rules, never data. Memoized
    * per (session, dataset) like `Q.cached` intermediates — the fixture
    * dirs are immutable, so a memo hit is always the same merge table the
    * loop would recompute.
    */
  private val mergeMemo = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      Seq[(Long, String, String, Long)]]

  private[queries] def bpeMerges(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Long, String, String, Long)] =
    mergeMemo.getOrElseUpdate((s, d), {
      import s.implicits._
      trainedArtifact(s, d, "bpe_merges", version = 1) {
        trainBpeMerges(s, d)
          .toDF("merge_rank", "lhs", "rhs", "support")
      }.orderBy("merge_rank").as[(Long, String, String, Long)]
        .collect().toSeq
    })

  private def trainBpeMerges(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Long, String, String, Long)] = {
      var cur = bpeWords(s, d)
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      var exhausted = false
      for (r <- 1 to BpeRounds if !exhausted) {
        val best = cur
          .select(col("wc"),
            expr("filter(split(sym, '\\\\|'), p -> p != '')").as("ps"))
          .filter(size(col("ps")) >= 2)
          .select(col("wc"), explode(expr(
            """transform(sequence(1, size(ps) - 1),
              |  i -> struct(element_at(ps, i) AS l,
              |              element_at(ps, i + 1) AS r))""".stripMargin))
            .as("pr"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(sum("wc").as("support"))
          .orderBy(col("support").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) {
          // pair inventory exhausted before round 8 (tiny corpus fully
          // merged): stop with the merges learned so far — the oracle
          // degrades identically (an empty bm$r round contributes no
          // row and nulls the dictionary for every later round)
          exhausted = true
        } else {
          val (l, rr, sup) = (best(0).getString(0), best(0).getString(1),
            best(0).getLong(2))
          merges += ((r.toLong, l, rr, sup))
          cur = cur.select(
            expr(s"replace(sym, '|$l|$rr|', '|$l$rr|')").as("sym"),
            col("wc"))
        }
      }
      merges.result()
  }

  /** Trained classifier weights, layered like every index artifact:
    * in-JVM memo over the disk store, so the registered query stays a
    * LocalTableScan of 17 driver-held rows whatever layer served them. */
  private val clfMemo = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Seq[(Long, Long)]]

  private def clfWeights(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Long, Long)] =
    clfMemo.getOrElseUpdate((s, d), {
      import s.implicits._
      trainedArtifact(s, d, "clf_weights", version = 1) {
        trainClfWeights(s, d).toSeq.zipWithIndex
          .map { case (wj, j) => (j.toLong, wj) }
          .toDF("feature_id", "weight_micros")
      }.orderBy("feature_id").as[(Long, Long)].collect().toSeq
    })

  /** The 4 gradient rounds of the learned quality classifier — the
    * training loop behind `corpus_quality_classifier`, run only on an
    * IndexStore miss (one training per fixture ever; each later sweep
    * reads the 17-row weight table from disk). */
  private def trainClfWeights(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Long] = {
    val feats = clfFeats(s, d)
    val n = feats.count()
    val w = Array.fill(17)(0L)
    for (_ <- 1 to ClfRounds) {
      // literal weights per round, like the BPE rounds: the tree is
      // small (~100 nodes), and a literal re-plan measured cheaper
      // than shipping weights through a broadcast single-row join
      // (which adds a broadcast stage to every round's job)
      val z = (0 until 16).map(j => lit(w(j)) * col(s"x$j"))
        .reduce(_ + _) + lit(w(16))
      val p = least(greatest(
        z.cast("double") / lit(4000000.0) + lit(0.5), lit(0.0)),
        lit(1.0))
      val grads = (0 until 16).map(j =>
        sum(round((p - col("y")) * col(s"x$j") * lit(1000000.0))
          .cast("long")).as(s"s$j")) :+
        sum(round((p - col("y")) * lit(1000000.0)).cast("long")).as("s16")
      val row = feats.agg(grads.head, grads.tail: _*).collect()(0)
      for (j <- 0 to 16) {
        // lr = 0.5 mean-gradient step, rounded HALF_UP on the exact
        // double value — mirrors the oracle's
        // round(CAST(s AS DOUBLE) / (2.0 * n)) bit-for-bit
        val delta = new java.math.BigDecimal(
          row.getLong(j).toDouble / (2.0 * n))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        w(j) = w(j) - delta
      }
    }
    w
  }

  val defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace split, word regex, BPE-ish segmentation.
    QueryDef("text_token_stats",
      (s, d) => table(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
          .as("n_word_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe_tokens")),
      Some("""SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin)),

    // Quality scoring: length/word-shape/stopword heuristics.
    QueryDef("text_quality",
      (s, d) => table(s, d, "documents")
        .withColumn("n_chars_m", length(col("text")).cast("long"))
        .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
        .withColumn("stop_hits",
          (expr(occurrences("text", " the ")) +
           expr(occurrences("text", " a "))).cast("long"))
        .select(
          col("doc_id"), col("n_chars_m"), col("n_words"), col("stop_hits"),
          ((col("n_chars_m") - (col("n_words") - 1)).cast("double")
            / col("n_words")).as("avg_word_len"),
          when(col("n_words") >= 30 && col("stop_hits") >= 1, "good")
            .when(col("n_words") >= 10, "ok")
            .otherwise("low").as("quality")),
      Some(s"""WITH q AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(${occurrencesSql("text", " the ")} +
        |       ${occurrencesSql("text", " a ")} AS BIGINT) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, n_chars_m, n_words, stop_hits,
        |  CAST(n_chars_m - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
        |  CASE WHEN n_words >= 30 AND stop_hits >= 1 THEN 'good'
        |       WHEN n_words >= 10 THEN 'ok' ELSE 'low' END AS quality
        |FROM q""".stripMargin)),

    // Distributed BPE VOCABULARY TRAINING — the tokenizer-training loop
    // itself (Sennrich et al. 2016, the GPT-2/SentencePiece shape), run
    // as an iterative Spark job: 8 merge rounds, each ONE map-side-
    // combined pair-count aggregation over the (distinct-word, count)
    // dictionary plus a single-row argmax collect (bounded: one merge
    // rule per round — same discipline as IvfCodebook's k-centroid
    // collects). Words are held as '|'-delimited symbol strings; a merge
    // applies as a string replace, whose left-to-right non-overlapping
    // semantics are IDENTICAL in Spark and DuckDB (probed: both engines
    // map '|a|b|a|b|' + (a,b) → '|ab|a|b|'), so the oracle replays all 8
    // rounds as unrolled CTEs bit-for-bit. Scale: the dictionary is
    // VOCAB-bounded (distinct words), not corpus-bounded — the classic
    // reason BPE training is feasible at 100 TB: the corpus is read once
    // to build word counts; every round after that runs on the
    // dictionary. Ties break (support desc, left asc, right asc).
    QueryDef("text_bpe_train",
      (s, d) => {
        import s.implicits._
        bpeMerges(s, d).toDF("merge_rank", "lhs", "rhs", "support")
          .select(col("merge_rank"), col("lhs"), col("rhs"),
            concat(col("lhs"), col("rhs")).as("merged"), col("support"))
      },
      Some(bpeOracleSql)),

    // BPE tokenizer APPLICATION — the other half of the tokenizer story:
    // encode every document under the vocabulary `text_bpe_train` just
    // learned. The scale shape is the classic one: merges are applied to
    // the DISTINCT-WORD dictionary (vocab-bounded — 8 cheap string
    // replaces over |V| rows, never a corpus rewrite), and the corpus
    // pass is a single explode + broadcast join against the encoded
    // dictionary. Words outside the trainable alphabet (^[a-z]{2,}$)
    // fall back to character-level tokens (length(w)) — the byte-fallback
    // convention of public BPE vocabularies. At a 10M-word vocabulary the
    // broadcast becomes a shuffle join on `w`; the plan stays
    // vocab-bounded either way and the corpus is still read exactly once.
    QueryDef("text_bpe_encode",
      (s, d) => {
        val encExpr = bpeMerges(s, d).foldLeft("sym") {
          case (e, (_, l, r, _)) => s"replace($e, '|$l|$r|', '|$l$r|')"
        }
        val enc = bpeWords(s, d)
          .select(expr("replace(sym, '|', '')").as("w"),
            size(expr(s"filter(split($encExpr, '\\\\|'), p -> p != '')"))
              .cast("long").as("n_pieces"))
        table(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(enc), Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(coalesce(col("n_pieces"), length(col("w")).cast("long")))
              .as("n_tokens"))
      },
      Some(bpeEncodeOracleSql)),

    // TOKENIZER FERTILITY — the per-language tokens-per-word ratio under
    // the trained BPE vocabulary, the standard metric for how well a
    // tokenizer serves each language (fertility ≫ 1 means a language's
    // words shatter into many pieces — its share of the training budget
    // silently shrinks). Same scale shape as encode: merges apply to the
    // vocab-bounded dictionary, the corpus pass is one explode +
    // broadcast dictionary join, and the ratio is integer ppm over exact
    // long sums. Output is one row per language.
    QueryDef("text_tokenizer_fertility",
      (s, d) => {
        val encExpr = bpeMerges(s, d).foldLeft("sym") {
          case (e, (_, l, r, _)) => s"replace($e, '|$l|$r|', '|$l$r|')"
        }
        val enc = bpeWords(s, d)
          .select(expr("replace(sym, '|', '')").as("w"),
            size(expr(s"filter(split($encExpr, '\\\\|'), p -> p != '')"))
              .cast("long").as("n_pieces"))
        table(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(enc), Seq("w"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_words"),
            sum(coalesce(col("n_pieces"), length(col("w")).cast("long")))
              .as("n_tokens"))
          .select(col("lang"), col("n_words"), col("n_tokens"),
            expr("n_tokens * 1000000 DIV n_words").as("fertility_ppm"))
      },
      Some(bpeFertilityOracleSql)),

    // Quantile-based quality PRUNING — the FineWeb/Gopher-style corpus
    // gate: drop each language's lowest-quality quartile, where quality
    // is an integer fluency proxy (word count + weighted stopword hits).
    // The per-language threshold is an EXACT order statistic, computed
    // scale-cleanly: per-doc scores collapse to a bounded (lang, score)
    // HISTOGRAM first (map-side partial agg — the only thing shuffled),
    // the cumulative walk runs on histogram cells, and the thresholds
    // broadcast back onto the corpus as a map-side flag. A per-document
    // row_number window partitioned by language would make each language
    // ONE partition — a straggler at 100 TB; the histogram form shuffles
    // O(|langs|·|distinct scores|) rows regardless of corpus size. The
    // gate is value-based (kept = score strictly above the quartile
    // value), so no per-doc tiebreak is needed and both engines agree
    // exactly.
    QueryDef("corpus_quality_prune",
      (s, d) => {
        val scored = table(s, d, "documents").select(
          col("doc_id"), col("lang"),
          (size(split(col("text"), " ")).cast("long") +
            lit(10L) * (expr(occurrences("text", " the ")) +
              expr(occurrences("text", " a "))).cast("long")).as("score"))
        val hist = scored.groupBy("lang", "score").agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy("lang").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wN = Window.partitionBy("lang")
        val thr = hist
          .withColumn("cum", sum("c").over(wCum))
          .withColumn("n", sum("c").over(wN))
          .filter(col("cum") >= expr("(n + 3) DIV 4")) // ceil(n/4) exactly
          .groupBy("lang").agg(min("score").as("thr"))
        scored.join(broadcast(thr), "lang")
          .select(col("doc_id"), col("lang"), col("score"),
            (col("score") > col("thr")).cast("long").as("kept"))
      },
      Some(s"""WITH sc AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) +
        |  10 * CAST(${occurrencesSql("text", " the ")} +
        |            ${occurrencesSql("text", " a ")} AS BIGINT) AS score
        |  FROM documents),
        |h AS (SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
        |cum AS (SELECT lang, score,
        |    sum(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |thr AS (SELECT lang, min(score) AS thr FROM cum
        |  WHERE cum >= (n + 3) // 4 GROUP BY 1)
        |SELECT doc_id, sc.lang, score,
        |  CAST(CASE WHEN score > thr THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM sc JOIN thr ON sc.lang = thr.lang""".stripMargin)),

    // LEARNED quality classifier — distributed logistic-regression
    // training INSIDE the engine (the fastText-classifier stage of
    // CCNet/LLaMA-style curation, reduced to its dataflow): 16 hashed
    // bag-of-words buckets + bias, labels from the same heuristic gate
    // text_quality applies, 4 full-batch gradient rounds. Every round is
    // ONE map-side-combined aggregation over the persisted per-document
    // feature table producing 17 QUANTIZED gradient sums; the driver
    // holds 17 longs of weights, never data — the same bounded-collect
    // discipline as BPE training and IvfCodebook. Determinism is by
    // construction, not luck: features and labels are integers, the
    // hard-sigmoid link clip(z/4+0.5, 0, 1) needs only +,*,/ (no exp —
    // libm exp() is NOT bit-portable across engines), per-row gradients
    // quantize to integer MICROS before summing (long sums are
    // order-free; double sums never hash-match), and every double op
    // mirrors the oracle's operand order exactly, so Spark and DuckDB
    // produce identical weights bit-for-bit after all 4 rounds.
    QueryDef("corpus_quality_classifier",
      (s, d) => {
        import s.implicits._
        clfWeights(s, d).toDF("feature_id", "weight_micros")
      },
      Some(clfOracleSql)),

    // DSIR-style importance resampling (Xie et al. 2023, reduced to
    // integer dataflow): score every document by how much its hashed
    // word-unigram distribution looks like a TARGET domain (source =
    // 'src0') relative to the raw corpus, then keep the top 50. The
    // bucket statistics table is FIXED-SIZE (256 rows) regardless of
    // corpus size — it broadcasts; the corpus side is explode + broadcast
    // join + one groupBy(doc_id), and the top-k is per-partition heaps
    // (TakeOrdered), never a global sort. Likelihood ratios are
    // add-1-smoothed integer affinities (ct+1)·10^6·Nr ÷ ((cr+1)·Nt) —
    // truncating division on non-negative longs is identical in both
    // engines, and the per-doc score is an exact long sum. Headroom:
    // ct·10^6·Nr here stays ~2^51; a 100 TB run would compute the ratio
    // in DECIMAL(38) or pre-divide by gcd — same plan, wider lanes.
    QueryDef("corpus_dsir_sample",
      (s, d) => {
        val wb = table(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("w"))
          .withColumn("b",
            expr("CAST(conv(substring(md5(w), 1, 2), 16, 10) AS INT)"))
        val stats = wb.groupBy("b").agg(
          count(lit(1)).as("cr"),
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"))
        val tot = stats.agg(sum("cr").as("nr"), sum("ct").as("nt"))
        val scoreB = stats.crossJoin(broadcast(tot))
          .select(col("b"),
            expr("CAST((ct + 1) * 1000000 * nr DIV ((cr + 1) * nt) AS BIGINT)")
              .as("score_b"))
        wb.join(broadcast(scoreB), "b")
          .groupBy("doc_id")
          .agg(sum("score_b").as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(50)
      },
      Some("""WITH wb AS MATERIALIZED (SELECT doc_id, source,
        |    CAST(strpos('0123456789abcdef', substr(md5(w), 1, 1)) * 16 +
        |         strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 17 AS INT) AS b
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |st AS (SELECT b, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM wb GROUP BY 1),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(ct) AS BIGINT) AS nt FROM st),
        |sc AS (SELECT b,
        |    (ct + 1) * 1000000 * nr // ((cr + 1) * nt) AS score_b
        |  FROM st, tot),
        |ds AS (SELECT doc_id, CAST(sum(score_b) AS BIGINT) AS score
        |  FROM wb JOIN sc USING (b) GROUP BY 1)
        |SELECT doc_id, score FROM ds
        |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin)),

    // NEGATIVE-SAMPLING table (the word2vec/GloVe unigram^0.75
    // distribution — the negatives counterpart of corpus_walk_pairs'
    // positives): per vocabulary word, sampling mass ∝ count^0.75,
    // computed WITHOUT libm pow (not bit-portable across engines) as
    // sqrt(sqrt(cnt³)) — IEEE sqrt is exactly rounded everywhere, and
    // the fixed left-associative cnt·cnt·cnt chain is mirrored
    // operand-for-operand, so the per-word weight is bit-identical.
    // Weights quantize to integer milli-units per ROW; the normalizer is
    // then an exact long sum (the no-floating-point-aggregation rule)
    // and the published probability is integer ppm. One vocab-bounded
    // aggregation + a broadcast scalar attach + a TakeOrdered top-50 —
    // at 100 TB the word-count shuffle is the only corpus-sized stage,
    // map-side combined.
    QueryDef("corpus_negative_table",
      (s, d) => {
        val wc = table(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("cnt"))
        val wq = wc.withColumn("weight_q",
          expr("""CAST(round(sqrt(sqrt(
            |CAST(cnt AS DOUBLE) * cnt * cnt)) * 1000) AS BIGINT)"""
            .stripMargin))
        val z = wq.agg(sum("weight_q").as("z"))
        wq.crossJoin(broadcast(z))
          .select(col("term"), col("cnt"),
            expr("weight_q * 1000000 DIV z").as("p_ppm"))
          .orderBy(col("p_ppm").desc, col("term"))
          .limit(50)
      },
      Some("""WITH wc AS (SELECT w AS term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  GROUP BY w),
        |wq AS (SELECT term, cnt, CAST(round(sqrt(sqrt(
        |    CAST(cnt AS DOUBLE) * cnt * cnt)) * 1000) AS BIGINT) AS weight_q
        |  FROM wc),
        |z AS (SELECT CAST(sum(weight_q) AS BIGINT) AS z FROM wq)
        |SELECT term, cnt, weight_q * 1000000 // z AS p_ppm
        |FROM wq, z ORDER BY p_ppm DESC, term LIMIT 50""".stripMargin)),

    // Language ID: stopword-marker scoring with an 'en' prior. (The corpus
    // text is synthetic; the operator's dataflow is what's exercised.)
    QueryDef("text_lang_id",
      (s, d) => table(s, d, "documents")
        .withColumn("s_en", expr(occurrences("text", " the ")))
        .withColumn("s_de", expr(occurrences("text", " der ")))
        .withColumn("s_es", expr(occurrences("text", " el ")))
        .withColumn("s_fr", expr(occurrences("text", " le ")))
        .select(
          col("doc_id"), col("lang"),
          when(col("s_de") > col("s_en"), "de")
            .when(col("s_es") > col("s_en"), "es")
            .when(col("s_fr") > col("s_en"), "fr")
            .otherwise("en").as("pred_lang"))
        .withColumn("lang_match", col("pred_lang") === col("lang")),
      Some(s"""WITH sc AS (SELECT doc_id, lang,
        |  ${occurrencesSql("text", " the ")} AS s_en,
        |  ${occurrencesSql("text", " der ")} AS s_de,
        |  ${occurrencesSql("text", " el ")} AS s_es,
        |  ${occurrencesSql("text", " le ")} AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_de > s_en THEN 'de'
        |       WHEN s_es > s_en THEN 'es'
        |       WHEN s_fr > s_en THEN 'fr'
        |       ELSE 'en' END AS pred_lang,
        |  (CASE WHEN s_de > s_en THEN 'de'
        |        WHEN s_es > s_en THEN 'es'
        |        WHEN s_fr > s_en THEN 'fr'
        |        ELSE 'en' END) = lang AS lang_match
        |FROM sc""".stripMargin)),

    // Document fingerprint: normalized-content digest (case/punct/space
    // insensitive identity — the canonical-form dedup key).
    QueryDef("text_fingerprint",
      (s, d) => table(s, d, "documents").select(
        col("doc_id"),
        substring(sha2(trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " ")), 256), 1, 16).as("fingerprint")),
      Some("""SELECT doc_id,
        |substr(sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))), 1, 16) AS fingerprint
        |FROM documents""".stripMargin)),

    // Winnowing fingerprints (the MOSS scheme): hash every char 8-gram,
    // keep the minimum of each window of 4 consecutive gram hashes, distinct
    // the selected minima — a position-robust fingerprint SET per document
    // whose size adapts to content, guaranteed to share entries for any
    // sufficiently long common substring.
    //
    // Plan shape (the 100 TB lens): winnowing is BLOCK-LOCAL — a window of
    // w gram hashes spans at most k+w-2 chars beyond its start, so blocks
    // of B window-starts overlapping by that margin compute every window
    // exactly once with no cross-block state. Each (doc, block) row derives
    // its distinct-minima set in ONE call to the native `winnow_fps`
    // expression (graft.functions.WinnowFingerprints — md5 grams hashed
    // once each into an int array, flat window-min loop): no explode of one
    // row per character, no doc-wide window shuffle — a 1 GB document
    // becomes len/B bounded tasks instead of one straggler. The only
    // shuffle is the final cross-block distinct, whose input is already
    // per-block deduped minima (~2/(w+1) of gram count).
    QueryDef("text_winnow_fingerprint",
      (s, d) => winnowFps(s, d),
      Some(s"$WinnowFpsSql SELECT doc_id, fp FROM wfp")),

    // Multimodal plumbing: opaque binary content column + typed metadata.
    // (Real decode/feature-extract runs behind MultimodalPipeline's stub;
    // this query proves the binary schema + per-blob metadata dataflow.)
    QueryDef("multimodal_meta",
      (s, d) => table(s, d, "documents")
        .withColumn("content", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id"),
          expr("octet_length(content)").cast("long").as("n_bytes"),
          sha2(col("content"), 256).as("content_sha"),
          expr("(octet_length(content) + 63) DIV 64").cast("long")
            .as("n_chunks")),
      Some("""SELECT doc_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |sha256(text) AS content_sha,
        |CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_chunks
        |FROM documents""".stripMargin)),

    // REAL image-payload decode, end-to-end, through BOTH dependency-free
    // entropy codecs: the PNG arm (doc_id % 6 = 2, as in
    // Multimodal.syntheticFromDocuments) becomes a genuine
    // 8-bit-truecolor PNG — per-scanline filters cycling through all five
    // PNG filter types, zlib-deflated IDAT, real chunk CRCs — and the GIF
    // arm (doc_id % 6 = 5) a genuine GIF89a — palette indices
    // LZW-compressed with variable-width codes, clear/EOI, dictionary
    // reset, ≤255-byte sub-blocks. Pixels follow closed-form generative
    // formulas; the query decodes each blob with the matching codec
    // (Multimodal.decodePngPixels / decodeGifPixels) and reports stats
    // computed from the DECODED bytes, while the oracle computes the same
    // stats directly from the formulas: any drift anywhere in
    // encode → compress → decompress → reconstruct is a hash mismatch.
    // Decode is per-row and partition-local (mapPartitions) — the same
    // embarrassingly-parallel shape a 100 TB media corpus needs, with
    // feature output ~10^4 × smaller than the media scan.
    QueryDef("multimodal_pixels",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 2 || col("doc_id") % 6 === 5)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val nBytes =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
              if (id % 6 == 2) {
                val w = 1 + nBytes % 128
                val h = 1 + (id % 64).toInt
                val rgb = Array.tabulate(w * h * 3) { i =>
                  ((i / 3 % w + 2 * (i / 3 / w) + 3 * (i % 3) + id) % 256).toByte
                }
                val img = Multimodal.decodePngPixels(
                  Multimodal.pngRgb(w, h, rgb)).get
                var sum = 0L; var crc = 0L; var i = 0
                while (i < img.pixels.length) {
                  val v = img.pixels(i) & 0xff
                  sum += v; crc += v.toLong * (i % 97 + 1); i += 1
                }
                (id, img.width, img.height, sum, crc)
              } else {
                val w = 1 + nBytes % 200
                val h = 1 + (id % 40).toInt
                val idx = Array.tabulate(w * h) { i =>
                  ((i % w + 5 * (i / w) + 7 * id) % 256).toByte
                }
                val img = Multimodal.decodeGifPixels(
                  Multimodal.gifIndexed(w, h, idx)).get
                var sum = 0L; var crc = 0L; var i = 0
                while (i < img.indices.length) {
                  val v = img.indices(i) & 0xff
                  sum += v; crc += v.toLong * (i % 97 + 1); i += 1
                }
                (id, img.width, img.height, sum, crc)
              }
            }
          }
          .toDF("doc_id", "width", "height", "pixel_sum", "px_crc")
      },
      Some("""WITH m AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 128) AS w,
        |    1 + (doc_id % 64) AS h
        |  FROM documents WHERE doc_id % 6 = 2),
        |v AS (SELECT doc_id, w, h,
        |    list_transform(range(0, w * h * 3), i ->
        |      ((i // 3) % w + 2 * ((i // 3) // w) + 3 * (i % 3) + doc_id)
        |        % 256) AS vals
        |  FROM m),
        |mg AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 200) AS w,
        |    1 + (doc_id % 40) AS h
        |  FROM documents WHERE doc_id % 6 = 5),
        |vg AS (SELECT doc_id, w, h,
        |    list_transform(range(0, w * h), i ->
        |      (i % w + 5 * (i // w) + 7 * doc_id) % 256) AS vals
        |  FROM mg)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
        |  CAST(list_sum(list_transform(range(0, w * h * 3), i ->
        |    vals[CAST(i + 1 AS INTEGER)] * ((i % 97) + 1))) AS BIGINT)
        |    AS px_crc
        |FROM v
        |UNION ALL
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
        |  CAST(list_sum(list_transform(range(0, w * h), i ->
        |    vals[CAST(i + 1 AS INTEGER)] * ((i % 97) + 1))) AS BIGINT)
        |    AS px_crc
        |FROM vg""".stripMargin)),

    // PERCEPTUAL-HASH image near-dup (dHash) — the multimodal member of
    // the dedup family: every PNG-arm image is decoded FOR REAL
    // (chunk-CRC zlib inflate + scanline reconstruction), reduced to
    // integer luma, nearest-neighbor-sampled to a 9×8 grid, and hashed
    // by the 64 left<right gradient comparisons (dHash). Hashes band
    // into 4×16-bit LSH buckets — the same banding dial as SimHash text
    // dedup — candidates verify by exact Hamming distance (bit_count of
    // xor on the two 32-bit halves; halves, not one 64-bit word, so the
    // sign bit never trips either engine's overflow rules). The oracle
    // replays pixels from the closed-form generative formula, so any
    // drift in decode → luma → sampling → hashing → banding → popcount
    // is a hash mismatch. Per-image work is partition-local; the
    // banded self-join is the only shuffle.
    QueryDef("multimodal_phash",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        val hcached = cached(s, d, "phash") {
          table(s, d, "documents")
            .select(col("doc_id"), col("text"))
            .where(col("doc_id") % 6 === 2)
            .as[(Long, String)]
            .mapPartitions { it =>
              it.map { case (id, text) =>
                val nBytes = text
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
                val w = 1 + nBytes % 128
                val h = 1 + (id % 64).toInt
                val rgb = Array.tabulate(w * h * 3) { i =>
                  ((i / 3 % w + 2 * (i / 3 / w) + 3 * (i % 3) + id) % 256)
                    .toByte
                }
                val img = Multimodal.decodePngPixels(
                  Multimodal.pngRgb(w, h, rgb)).get
                def gray(px: Int, py: Int): Long = {
                  val base = (py * img.width + px) * 3
                  ((img.pixels(base) & 0xff) * 299L +
                    (img.pixels(base + 1) & 0xff) * 587L +
                    (img.pixels(base + 2) & 0xff) * 114L) / 1000L
                }
                var lo = 0L
                var hi = 0L
                var y = 0
                while (y < 8) {
                  val py = y * h / 8
                  var x = 0
                  while (x < 8) {
                    if (gray((x + 1) * w / 9, py) > gray(x * w / 9, py)) {
                      val pos = y * 8 + x
                      if (pos < 32) lo |= 1L << pos
                      else hi |= 1L << (pos - 32)
                    }
                    x += 1
                  }
                  y += 1
                }
                (id, hi, lo)
              }
            }.toDF("doc_id", "ph_hi", "ph_lo")
        }
        val bands = hcached.select(col("doc_id"),
          posexplode(array(
            expr("ph_lo % 65536"), expr("ph_lo DIV 65536"),
            expr("ph_hi % 65536"), expr("ph_hi DIV 65536")))
            .as(Seq("band", "bv")))
        // hot bands (> PhashBandCap images) are non-discriminative
        // boilerplate — synthetic gradients here, flat borders and
        // letterboxes in real corpora; the 10x sweep measured one bucket
        // at 70% of the corpus — and are dropped: true near-dups still
        // collide on their other three bands
        val cand = BandedJoin.pairs(bands, "doc_id",
          Seq("band", "bv"), PhashBandCap, BandedJoin.Drop)
        val ham = cand
          .join(hcached.select(col("doc_id").as("doc_a"),
            col("ph_hi").as("ha"), col("ph_lo").as("la")), "doc_a")
          .join(hcached.select(col("doc_id").as("doc_b"),
            col("ph_hi").as("hb"), col("ph_lo").as("lb")), "doc_b")
          .filter(expr("bit_count(ha ^ hb) + bit_count(la ^ lb) <= 16"))
        val near = ham.select(col("doc_a").as("doc_id"))
          .unionByName(ham.select(col("doc_b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
        hcached.join(near, Seq("doc_id"), "left")
          .select(col("doc_id"), col("ph_hi"), col("ph_lo"),
            coalesce(col("n_near"), lit(0L)).as("n_near"))
      },
      Some {
        def grayE(pxE: String, pyE: String): String =
          s"((((($pxE) + 2 * ($pyE) + doc_id) % 256) * 299 + " +
            s"((($pxE) + 2 * ($pyE) + doc_id + 3) % 256) * 587 + " +
            s"((($pxE) + 2 * ($pyE) + doc_id + 6) % 256) * 114) // 1000)"
        def half(range: Range): String = range.map { p =>
          val x = p % 8
          val y = p / 8
          val sy = s"(($y * h) // 8)"
          val cond = s"${grayE(s"((${x + 1} * w) // 9)", sy)} > " +
            s"${grayE(s"(($x * w) // 9)", sy)}"
          s"(CASE WHEN $cond THEN CAST(${1L << (p % 32)} AS BIGINT) " +
            "ELSE CAST(0 AS BIGINT) END)"
        }.mkString(" + ")
        s"""WITH mm AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 128) AS w,
        |    1 + (doc_id % 64) AS h
        |  FROM documents WHERE doc_id % 6 = 2),
        |ph AS MATERIALIZED (SELECT doc_id,
        |    CAST(${half(32 until 64)} AS BIGINT) AS ph_hi,
        |    CAST(${half(0 until 32)} AS BIGINT) AS ph_lo
        |  FROM mm),
        |bnd AS (SELECT doc_id, b AS band,
        |    CASE b WHEN 0 THEN ph_lo % 65536 WHEN 1 THEN ph_lo // 65536
        |      WHEN 2 THEN ph_hi % 65536 ELSE ph_hi // 65536 END AS bv
        |  FROM ph, (SELECT unnest(range(0, 4)) AS b)),
        |${BandedJoin.candSql("bnd", "doc_id", Seq("band", "bv"),
            PhashBandCap, BandedJoin.Drop)},
        |ham AS (SELECT doc_a, doc_b FROM cand
        |  JOIN ph pa ON doc_a = pa.doc_id JOIN ph pb ON doc_b = pb.doc_id
        |  WHERE bit_count(xor(pa.ph_hi, pb.ph_hi)) +
        |        bit_count(xor(pa.ph_lo, pb.ph_lo)) <= 16),
        |nn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
        |    SELECT doc_a AS doc_id FROM ham
        |    UNION ALL SELECT doc_b FROM ham) z GROUP BY 1)
        |SELECT ph.doc_id, ph_hi, ph_lo,
        |  CAST(coalesce(nn.n_near, 0) AS BIGINT) AS n_near
        |FROM ph LEFT JOIN nn USING (doc_id)""".stripMargin
      }),

    // REAL baseline-JPEG payload decode: the JPEG arm (doc_id % 6 = 4, as
    // in Multimodal.syntheticFromDocuments) is a genuine entropy-coded
    // baseline JPEG — canonical Huffman DC stream with byte stuffing,
    // real DQT/DHT/SOF0/SOS segments. Content is block-constant, which
    // makes the normally-lossy codec BIT-EXACT (a flat 8×8 block's DCT is
    // pure DC, and DC = 8·(v-128) survives the all-ones quantizer and the
    // IDCT exactly), so the oracle replays decoded pixels from the
    // closed-form block formula: pixel(x,y) = (5·⌊x/8⌋ + 11·⌊y/8⌋ +
    // doc_id) mod 256. Any drift in segment layout, Huffman coding, bit
    // packing, byte stuffing, DC prediction, dequant, IDCT rounding, or
    // MCU crop is a hash mismatch. Same shuffle-free mapPartitions shape
    // as the PNG/GIF decode.
    QueryDef("multimodal_jpeg_pixels",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 4)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val nBytes =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
              val w = 1 + nBytes % 256
              val h = 1 + (id % 48).toInt
              val blob = Multimodal.jpegGrayFlat(w, h,
                (bx, by) => ((5 * bx + 11 * by + id) % 256).toInt)
              val img = Multimodal.decodeJpegPixels(blob).get
              var sum = 0L; var crc = 0L; var i = 0
              while (i < img.gray.length) {
                val v = img.gray(i) & 0xff
                sum += v; crc += v.toLong * (i % 97 + 1); i += 1
              }
              (id, img.width, img.height, sum, crc)
            }
          }
          .toDF("doc_id", "width", "height", "pixel_sum", "px_crc")
      },
      Some("""WITH m AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 256) AS w,
        |    1 + (doc_id % 48) AS h
        |  FROM documents WHERE doc_id % 6 = 4),
        |v AS (SELECT doc_id, w, h,
        |    list_transform(range(0, w * h), i ->
        |      (5 * ((i % w) // 8) + 11 * ((i // w) // 8) + doc_id) % 256)
        |      AS vals
        |  FROM m)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
        |  CAST(list_sum(list_transform(range(0, w * h), i ->
        |    vals[CAST(i + 1 AS INTEGER)] * ((i % 97) + 1))) AS BIGINT)
        |    AS px_crc
        |FROM v""".stripMargin)),

    // REAL image-resize stage — the thumbnail path a multimodal training
    // pipeline runs between decode and feature extraction: each corpus
    // PNG (doc_id % 6 = 2) is DECODED (zlib + scanline filters), resized
    // to half size by nearest-neighbor (floor mapping), RE-ENCODED as a
    // real PNG (the thumbnail artifact), then decoded AGAIN for the
    // reported stats — so the query exercises decode → transform →
    // encode → decode end-to-end, partition-local, no shuffle. The
    // oracle replays the resized pixels in closed form: target (x,y,c)
    // samples source (⌊x·w/tw⌋, ⌊y·h/th⌋), whose value the generative
    // formula gives directly. Any asymmetry between the encoder and
    // decoder, or an off-by-one in the floor mapping, is a hash mismatch.
    QueryDef("multimodal_resize",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 2)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val nBytes =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
              val w = 1 + nBytes % 128
              val h = 1 + (id % 64).toInt
              val rgb = Array.tabulate(w * h * 3) { i =>
                ((i / 3 % w + 2 * (i / 3 / w) + 3 * (i % 3) + id) % 256).toByte
              }
              val src = Multimodal.decodePngPixels(
                Multimodal.pngRgb(w, h, rgb)).get
              val thumb = Multimodal.resizeNearest(
                src, (w + 1) / 2, (h + 1) / 2)
              val out = Multimodal.decodePngPixels(
                Multimodal.pngRgb(thumb.width, thumb.height, thumb.pixels)).get
              var sum = 0L; var crc = 0L; var i = 0
              while (i < out.pixels.length) {
                val v = out.pixels(i) & 0xff
                sum += v; crc += v.toLong * (i % 97 + 1); i += 1
              }
              (id, out.width, out.height, sum, crc)
            }
          }
          .toDF("doc_id", "width", "height", "pixel_sum", "px_crc")
      },
      Some("""WITH m AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 128) AS w,
        |    1 + (doc_id % 64) AS h
        |  FROM documents WHERE doc_id % 6 = 2),
        |t AS (SELECT doc_id, w, h,
        |    (w + 1) // 2 AS tw, (h + 1) // 2 AS th FROM m),
        |v AS (SELECT doc_id, tw, th,
        |    list_transform(range(0, tw * th * 3), i ->
        |      ((((i // 3) % tw) * w // tw)
        |       + 2 * ((((i // 3) // tw) * h) // th)
        |       + 3 * (i % 3) + doc_id) % 256) AS vals
        |  FROM t)
        |SELECT doc_id, CAST(tw AS INTEGER) AS width,
        |  CAST(th AS INTEGER) AS height,
        |  CAST(list_sum(vals) AS BIGINT) AS pixel_sum,
        |  CAST(list_sum(list_transform(range(0, tw * th * 3), i ->
        |    vals[CAST(i + 1 AS INTEGER)] * ((i % 97) + 1))) AS BIGINT)
        |    AS px_crc
        |FROM v""".stripMargin)),

    // REAL audio-payload decode: the audio arm (doc_id % 6 = 1, as in
    // Multimodal.syntheticFromDocuments) is a genuine canonical PCM WAV
    // whose sample data is the document's UTF-8 bytes. The query encodes
    // each blob, then decodes it back with decodeWavSamples — a generic
    // RIFF chunk walk + sign-extended little-endian 16-bit PCM parse,
    // whole frames only — and reports stats over the DECODED samples; the
    // oracle recomputes the same stats straight from the text's character
    // codes (the corpus is pure ASCII, so byte k == unicode(char k) and
    // sample i == byte(2i) + 256·byte(2i+1) with no sign bit ever set).
    // Any drift in header layout, chunk walk, frame truncation, or
    // endianness is a hash mismatch. Same partition-local mapPartitions
    // shape as the image decodes: no shuffle, feature output ≪ media scan.
    QueryDef("multimodal_samples",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 1)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val payload =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val blob = Multimodal.wavBytes(1 + (id % 2).toInt,
                if (id % 8 == 1) 16000 else 8000, payload)
              val a = Multimodal.decodeWavSamples(blob).get
              var sum = 0L; var crc = 0L; var peak = 0L; var i = 0
              while (i < a.samples.length) {
                val v = a.samples(i).toLong
                sum += v; crc += v * (i % 101 + 1)
                if (v > peak) peak = v
                i += 1
              }
              (id, a.sampleRate, a.channels,
                (a.samples.length / a.channels).toLong, sum, crc, peak)
            }
          }
          .toDF("doc_id", "sample_rate", "channels", "n_frames",
            "sample_sum", "sample_crc", "peak")
      },
      Some("""WITH a AS (SELECT doc_id, text,
        |    CAST(1 + (doc_id % 2) AS INTEGER) AS channels,
        |    CAST(CASE WHEN doc_id % 8 = 1 THEN 16000 ELSE 8000 END
        |      AS INTEGER) AS sample_rate,
        |    len(text) // (2 * (1 + (doc_id % 2))) AS frames
        |  FROM documents WHERE doc_id % 6 = 1),
        |v AS (SELECT doc_id, sample_rate, channels, frames,
        |    list_transform(range(0, frames * channels), i ->
        |      unicode(substr(text, CAST(2 * i + 1 AS INTEGER), 1)) +
        |      256 * unicode(substr(text, CAST(2 * i + 2 AS INTEGER), 1)))
        |      AS s
        |  FROM a)
        |SELECT doc_id, sample_rate, channels,
        |  CAST(frames AS BIGINT) AS n_frames,
        |  CAST(coalesce(list_sum(s), 0) AS BIGINT) AS sample_sum,
        |  CAST(coalesce(list_sum(list_transform(
        |    range(0, frames * channels), i ->
        |    s[CAST(i + 1 AS INTEGER)] * ((i % 101) + 1))), 0) AS BIGINT)
        |    AS sample_crc,
        |  CAST(coalesce(list_max(s), 0) AS BIGINT) AS peak
        |FROM v""".stripMargin)),

    // Audio FEATURE EXTRACTION — the deterministic per-channel signal
    // statistics a pipeline derives before any learned featurizer:
    // channel-0 energy (sum of squared samples), zero-crossing count
    // about the integer mean (the classic voiced/unvoiced and
    // noisiness cue), and total variation (sum |s[t+1]-s[t]|, a crude
    // high-frequency-energy proxy). Runs on the REAL PCM WAV decode
    // (generic RIFF chunk walk + 16-bit frames); every feature is
    // integer arithmetic, so the result is bit-identical in any
    // engine — no FFT doubles whose summation order could differ.
    // mapPartitions is the right shape: one decoder per partition, the
    // same plumbing a per-partition codec/library init needs on a
    // cluster, and the stage stays linear and shuffle-free.
    QueryDef("multimodal_audio_features",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 3)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.map { case (id, text) =>
              val payload =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val blob = Multimodal.wavBytes(1 + (id % 2).toInt,
                if (id % 4 == 3) 16000 else 8000, payload)
              val a = Multimodal.decodeWavSamples(blob).get
              val ch = a.channels
              val n = a.samples.length / ch // complete frames
              var sum = 0L; var i = 0
              while (i < n) { sum += a.samples(i * ch).toLong; i += 1 }
              val mean = if (n == 0) 0L else sum / n
              var energy = 0L; var zc = 0L; var tv = 0L
              i = 0
              while (i < n) {
                val v = a.samples(i * ch).toLong
                energy += v * v
                if (i + 1 < n) {
                  val w = a.samples((i + 1) * ch).toLong
                  if ((v - mean) * (w - mean) < 0) zc += 1
                  tv += math.abs(w - v)
                }
                i += 1
              }
              (id, n.toLong, mean, energy, zc, tv)
            }
          }
          .toDF("doc_id", "n_frames", "mean_s", "energy", "zero_cross",
            "total_var")
      },
      Some("""WITH a AS (SELECT doc_id, text,
        |    CAST(1 + (doc_id % 2) AS INTEGER) AS ch,
        |    octet_length(encode(text)) // (2 * (1 + (doc_id % 2)))
        |      AS frames
        |  FROM documents WHERE doc_id % 6 = 3),
        |v AS (SELECT doc_id, frames,
        |    list_transform(range(0, frames), f ->
        |      unicode(substr(text, CAST(2 * f * ch + 1 AS INTEGER), 1)) +
        |      256 * unicode(substr(text, CAST(2 * f * ch + 2 AS INTEGER), 1)))
        |      AS s
        |  FROM a),
        |m AS (SELECT doc_id, frames, s,
        |    CASE WHEN frames = 0 THEN 0
        |      ELSE list_sum(s) // frames END AS mean_s
        |  FROM v)
        |SELECT doc_id, CAST(frames AS BIGINT) AS n_frames,
        |  CAST(mean_s AS BIGINT) AS mean_s,
        |  CAST(coalesce(list_sum(list_transform(s, x -> x * x)), 0)
        |    AS BIGINT) AS energy,
        |  CAST(coalesce(list_sum(list_transform(range(0, frames - 1), f ->
        |    CASE WHEN (s[CAST(f + 1 AS INTEGER)] - mean_s)
        |            * (s[CAST(f + 2 AS INTEGER)] - mean_s) < 0
        |      THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_cross,
        |  CAST(coalesce(list_sum(list_transform(range(0, frames - 1), f ->
        |    abs(s[CAST(f + 2 AS INTEGER)] - s[CAST(f + 1 AS INTEGER)]))), 0)
        |    AS BIGINT) AS total_var
        |FROM m""".stripMargin)),

    // Video FRAME SAMPLING — the stage that turns a video corpus into a
    // per-frame training table: decode the container, keep every 2nd
    // frame, emit one row per sampled frame with its luma statistics
    // (the explode shape per-frame models consume). The container is
    // REAL YUV4MPEG2 — written and parsed byte-for-byte by
    // [[graft.multimodal.Multimodal.decodeY4m]] (ASCII stream header,
    // per-frame FRAME markers, raw luma planes) — so the decode path
    // exercises a genuine public video format, not an opaque stub.
    // flatMap inside mapPartitions keeps decode per-partition and the
    // output linear in sampled frames; at corpus scale the sampled-frame
    // table partitions by doc like any other explode.
    QueryDef("multimodal_video_frames",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 0)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.flatMap { case (id, text) =>
              val nBytes =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
              val w = 1 + nBytes % 48
              val h = 1 + (id % 32).toInt
              val nf = 2 + (id % 5).toInt
              val frames = Array.tabulate(nf) { f =>
                Array.tabulate(w * h) { i =>
                  ((i % w + 3 * (i / w) + 11 * f + id) % 256).toByte
                }
              }
              val v =
                Multimodal.decodeY4m(Multimodal.y4mBytes(w, h, frames)).get
              (0 until v.frames.length by 2).map { f =>
                val p = v.frames(f)
                var sum = 0L; var crc = 0L; var i = 0
                while (i < p.length) {
                  val x = p(i) & 0xff
                  sum += x; crc += x.toLong * (i % 89 + 1); i += 1
                }
                (id, f.toLong, v.width, v.height, sum, crc)
              }
            }
          }
          .toDF("doc_id", "frame_idx", "width", "height", "f_sum", "f_crc")
      },
      Some("""WITH m AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 48) AS w,
        |    1 + (doc_id % 32) AS h,
        |    2 + (doc_id % 5) AS nf
        |  FROM documents WHERE doc_id % 6 = 0),
        |f AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS fi FROM m),
        |v AS (SELECT doc_id, w, h, fi,
        |    list_transform(range(0, w * h), i ->
        |      (i % w + 3 * (i // w) + 11 * fi + doc_id) % 256) AS p
        |  FROM f)
        |SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(p) AS BIGINT) AS f_sum,
        |  CAST(list_sum(list_transform(range(0, w * h), i ->
        |    p[CAST(i + 1 AS INTEGER)] * ((i % 89) + 1))) AS BIGINT)
        |    AS f_crc
        |FROM v""".stripMargin)),

    // REAL MP4 (ISO BMFF) container indexing — the other half of video
    // plumbing: before any codec runs, a training pipeline must LOCATE
    // frames inside the container, and that is a pure sample-table parse
    // (moov → trak → mdia → minf → stbl: stts/stsc/stsz/stco/stss). The
    // query writes a genuine MP4 per doc (Multimodal.mp4Bytes: ftyp,
    // mdat-before-moov, samples packed two per chunk, every 3rd a sync
    // sample) with formula-deterministic frame payloads, then
    // Multimodal.indexMp4 walks the box tree and expands the chunk map
    // into file-absolute (offset, size, pts, sync) per sample; payload
    // stats are computed from bytes SLICED AT THE PARSED OFFSETS. The
    // oracle replays offsets arithmetically (ftyp 24 + mdat header 8 +
    // running size sum), so any drift in writer or parser — a wrong box
    // length, a mis-expanded stsc entry, an off-by-one chunk offset —
    // hash-mismatches. Per-row and partition-local, the 100 TB shape.
    QueryDef("multimodal_mp4_index",
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        table(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 6 === 3)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.flatMap { case (id, text) =>
              val nBytes =
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
              val w = 1 + nBytes % 32
              val h = 1 + (id % 24).toInt
              val nf = 1 + (id % 6).toInt
              val frames = Array.tabulate(nf) { f =>
                val sz = 20 + ((id + 7 * f) % 50).toInt
                Array.tabulate(sz)(i =>
                  ((i * 13 + 11 * f + id) % 256).toByte)
              }
              val mp4 = Multimodal.mp4Bytes(w, h, 1000, 40, frames)
              val ix = Multimodal.indexMp4(mp4).get
              ix.samples.map { sm =>
                var sum = 0L; var crc = 0L; var i = 0
                while (i < sm.size) {
                  val x = mp4(sm.offset.toInt + i) & 0xff
                  sum += x; crc += x.toLong * (i % 89 + 1); i += 1
                }
                (id, sm.idx.toLong, sm.offset, sm.size.toLong, sm.pts,
                  sm.sync, ix.width, ix.height, sum, crc)
              }
            }
          }
          .toDF("doc_id", "sample_idx", "byte_off", "n_bytes", "pts",
            "is_sync", "width", "height", "f_sum", "f_crc")
      },
      Some("""WITH m AS (SELECT doc_id,
        |    1 + (octet_length(encode(text)) % 32) AS w,
        |    1 + (doc_id % 24) AS h,
        |    1 + (doc_id % 6) AS nf
        |  FROM documents WHERE doc_id % 6 = 3),
        |f AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS fi FROM m),
        |s AS (SELECT doc_id, w, h, fi,
        |    20 + ((doc_id + 7 * fi) % 50) AS sz FROM f),
        |o AS (SELECT doc_id, w, h, fi, sz,
        |    32 + coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY fi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM s)
        |SELECT doc_id, CAST(fi AS BIGINT) AS sample_idx,
        |  CAST(off AS BIGINT) AS byte_off, CAST(sz AS BIGINT) AS n_bytes,
        |  CAST(fi * 40 AS BIGINT) AS pts, (fi % 3 = 0) AS is_sync,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(list_transform(range(0, sz), i ->
        |    (i * 13 + 11 * fi + doc_id) % 256)) AS BIGINT) AS f_sum,
        |  CAST(list_sum(list_transform(range(0, sz), i ->
        |    ((i * 13 + 11 * fi + doc_id) % 256) * ((i % 89) + 1)))
        |    AS BIGINT) AS f_crc
        |FROM o""".stripMargin)),

    // Intra-document repetition — the "repeated phrases" quality rule
    // (high duplicate-3-gram ratio marks boilerplate/spam): per document,
    // total vs distinct word-3-grams and their ratio. Computed on ARRAYS
    // (transform over index sequence + array_distinct), so it is per-row
    // and shuffle-free — the declarative explode/groupBy equivalent (what
    // the oracle runs) would shuffle every gram occurrence. Docs under 3
    // words have no grams and report 0 repetition.
    QueryDef("text_repetition",
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), expr(
          """transform(
            |  CASE WHEN size(ws) >= 3 THEN sequence(1, size(ws) - 2)
            |       ELSE CAST(array() AS array<int>) END,
            |  i -> element_at(ws, i) || ' ' || element_at(ws, i + 1)
            |       || ' ' || element_at(ws, i + 2))""".stripMargin)
          .as("grams"))
        .select(col("doc_id"),
          size(col("grams")).cast("long").as("n_grams"),
          size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
        .withColumn("rep_ratio",
          when(col("n_grams") === 0, lit(0.0))
            .otherwise(lit(1.0) -
              col("n_distinct").cast("double") / col("n_grams").cast("double"))),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM w)),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct
        |  FROM g GROUP BY doc_id)
        |SELECT w.doc_id,
        |  coalesce(c.n_grams, 0) AS n_grams,
        |  coalesce(c.n_distinct, 0) AS n_distinct,
        |  CASE WHEN coalesce(c.n_grams, 0) = 0 THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(1 AS DOUBLE) - CAST(c.n_distinct AS DOUBLE) / CAST(c.n_grams AS DOUBLE) END AS rep_ratio
        |FROM w LEFT JOIN c ON w.doc_id = c.doc_id""".stripMargin)),

    // Deterministic stratified (mixture) sampling — the training-data
    // MIXING op: each language stratum keeps a configured fraction of its
    // documents, selected by a hash of the stable key (md5(doc_id) prefix
    // < per-stratum hex threshold), NOT by rand(). Hash-gating makes the
    // sample reproducible across runs/engines/retries (a re-run of a
    // 100 TB materialization selects the same rows), and the plan is a
    // pure map-side filter — zero shuffle, the only way downsampling is
    // affordable at corpus scale. Rates here: en 50%, de/fr 25%, es/zh
    // 12.5% (the usual "downweight the dominant language" mix shape).
    QueryDef("corpus_mix_sample",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 4)
        val thr = when(col("lang") === "en", "8000")
          .when(col("lang").isin("de", "fr"), "4000")
          .otherwise("2000")
        table(s, d, "documents")
          .filter(h < thr)
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN lang = 'en' THEN '8000'
        |       WHEN lang IN ('de', 'fr') THEN '4000'
        |       ELSE '2000' END""".stripMargin)),

    // Training-MIX report — the per-source profile every corpus build
    // publishes next to its shards: document/token volumes, language
    // breadth, and each source's token share in exact parts-per-million
    // (integer arithmetic; a double share could never hash-match). ONE
    // corpus scan: the per-source rollup map-side combines, and the
    // corpus-wide total is a window over the ALREADY-REDUCED |sources|-row
    // aggregate — a SinglePartition exchange of 20 rows, which is the
    // correct place for one (the reduction happened first; re-scanning
    // the corpus for the total, or windowing the raw rows, would not be).
    QueryDef("corpus_source_profile",
      (s, d) => {
        val per = table(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"))
        per.withColumn("tot_tokens",
            sum("n_tokens").over(Window.partitionBy()))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("n_langs"),
            // headroom: n_tokens*10^6 fits a long up to ~9*10^12 tokens
            // per source; a 100 TB corpus (~10^13 tokens) would widen
            // this one product to DECIMAL(38,0) — same plan
            expr("CAST(n_tokens * 1000000 DIV tot_tokens AS BIGINT)")
              .as("share_ppm"))
      },
      Some("""WITH sp AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM documents GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM sp)
        |SELECT source, n_docs, n_tokens, n_langs,
        |  CAST(n_tokens * 1000000 // tot_tokens AS BIGINT) AS share_ppm
        |FROM sp, tt""".stripMargin)),

    // WEIGHTED corpus sampling — priority sampling (Duffield, Lund,
    // Thorup 2007): each document gets priority w/u with w its weight
    // (word count — the "sample long documents proportionally more"
    // training-mix knob) and u a uniform hash draw; the k highest
    // priorities are the sample, which supports unbiased subset-sum
    // estimates unlike naive weighted tosses. Everything is INTEGER:
    // u = (h+1)/2^48 for a 48-bit sha-derived hash, so priority =
    // w·2^48 ÷ (h+1) exactly (w ≤ ~100 words here, overflow-safe by
    // 300×; floor division is part of the operator contract and the
    // doc_id tiebreak makes boundary ties deterministic). The plan is a
    // scalar projection + TakeOrdered top-k — per-partition heaps, no
    // global sort, no shuffle of the corpus — the only affordable shape
    // for "pick 25 of a billion by weight".
    QueryDef("corpus_weighted_sample",
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("w"),
          expr("CAST(conv(substring(sha2(CAST(doc_id AS STRING), 256)," +
            " 1, 12), 16, 10) AS BIGINT)").as("h"))
        .select(col("doc_id"), col("w"),
          expr("CAST(w * 281474976710656 DIV (h + 1) AS BIGINT)")
            .as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(25),
      Some("""WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(list_sum(list_transform(range(0, 12), i ->
        |      (strpos('0123456789abcdef',
        |        substr(sha256(CAST(doc_id AS VARCHAR)),
        |          CAST(i + 1 AS INTEGER), 1)) - 1)
        |      * power(16, 11 - i))) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, w,
        |  CAST(w * 281474976710656 // (h + 1) AS BIGINT) AS priority
        |FROM d ORDER BY priority DESC, doc_id LIMIT 25""".stripMargin)),

    // Benchmark DECONTAMINATION — drop training documents that overlap
    // the evaluation set: the eval fixture here is doc_id < 20, its
    // distinct word-8-grams are the contamination probes (bounded:
    // |eval| × grams/doc, broadcast), and any corpus document sharing
    // one is flagged with its overlap count. The corpus side never
    // shuffles for the probe — it streams through a broadcast-hash join;
    // only the (small) matched set aggregates. 8-grams, not 3-grams:
    // decontamination wants long, high-precision matches, not topical
    // similarity.
    QueryDef("corpus_decontaminate",
      (s, d) => {
        val g = docGrams8(s, d)
        val evalGrams = g.filter(col("doc_id") < 20).select("gram").distinct()
        g.filter(col("doc_id") >= 20)
          .join(broadcast(evalGrams), "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_contam"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |    ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i FROM w)),
        |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_contam
        |FROM g JOIN eg USING (gram)
        |WHERE g.doc_id >= 20
        |GROUP BY 1""".stripMargin)),

    // Bloom-sketch decontamination — the membership form the exact gram
    // join above can't reach at 100 TB: the benchmark side is folded into
    // a FIXED-SIZE filter (k=3 md5-prefix hash positions over a 16-bit
    // slot space, ≤ 65536 entries per hash no matter how many benchmark
    // grams exist) and the corpus side tests membership ROW-LOCALLY
    // against the filter as three boolean-array literals (one element_at
    // per hash — pure codegen built-ins, O(1) per row): corpus grams
    // never explode, never join and never shuffle for the probe — the
    // only remaining exchange is the per-doc flag count. That is the
    // production Bloom shape (guide §3.2: build bounded, broadcast,
    // filter before anything wide); the filter materializes through one
    // bounded collect (≤ 3·65536 positions BY CONSTRUCTION — the fixed
    // size is what makes it a Bloom filter), the same localize-the-small-
    // relation discipline as IvfCodebook's codebooks. Standard Bloom
    // semantics, exactly reproduced in the oracle: zero false negatives
    // (every truly contaminated gram set its own positions), false
    // positives at the documented ~(fill)^k rate — a doc's n_flagged is
    // an upper bound of its exact n_contam (DecontaminateBloomSpec
    // asserts the containment). Hash = md5 hex prefix, deterministic in
    // any engine; no RNG anywhere.
    QueryDef("corpus_decontaminate_bloom",
      (s, d) => {
        val g = docGrams8(s, d)
        // build side (unchanged semantics): distinct eval grams → k=3
        // md5-prefix positions → distinct (j, pos) — then localized as
        // three 65536-slot bitmaps instead of a broadcast join relation
        val filterBits = g.filter(col("doc_id") < 20)
          .select("gram").distinct()
          .select(explode(sequence(lit(0), lit(2))).as("j"), col("gram"))
          .select(col("j"),
            substring(md5(concat(col("j").cast("string"), lit("|"),
              col("gram"))), 1, 4).as("pos"))
          .distinct()
        val bitmaps = Array.fill(3)(new Array[Boolean](65536))
        filterBits.collect().foreach { r =>
          bitmaps(r.getInt(0))(Integer.parseInt(r.getString(1), 16)) = true
        }
        // probe side: the SAME j-salted md5 prefix, tested in place —
        // all k positions set = bloom hit, exactly the join's n_set == 3
        def hit(j: Int) = element_at(
          typedLit(bitmaps(j).toSeq),
          conv(substring(md5(concat(lit(s"$j|"), col("gram"))), 1, 4),
            16, 10).cast("int") + 1)
        g.filter(col("doc_id") >= 20)
          .filter(hit(0) && hit(1) && hit(2))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_flagged"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |    ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i FROM w)),
        |ks AS (SELECT unnest(range(0, 3)) AS j),
        |fb AS (SELECT DISTINCT j,
        |    substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 4) AS pos
        |  FROM (SELECT DISTINCT gram FROM g WHERE doc_id < 20), ks),
        |cg AS (SELECT doc_id, gram, j,
        |    substr(md5(CAST(j AS VARCHAR) || '|' || gram), 1, 4) AS pos
        |  FROM g, ks WHERE doc_id >= 20),
        |hits AS (SELECT doc_id, gram FROM cg JOIN fb USING (j, pos)
        |  GROUP BY doc_id, gram HAVING count(*) = 3)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
        |FROM hits GROUP BY 1""".stripMargin)),

    // PII detection + redaction — scalar regex over each document, the
    // standard pre-training scrub. The synthetic corpus carries no PII, so
    // the fixture projection INJECTS a deterministic email + phone per
    // document (derived from doc_id, identically in both engines); the
    // operator under test is the regex detect/redact pass. Patterns stay
    // in the Java∩RE2 common subset so Spark and DuckDB match identically.
    // Scalar and shuffle-free: at 100 TB this is a pure map stage.
    QueryDef("text_pii_redact",
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+1-555-[0-9]{4}"
        val pii = concat(col("text"), lit(" Contact user_"),
          col("doc_id").cast("string"), lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit("."))
        table(s, d, "documents")
          .select(col("doc_id"), pii.as("pii_text"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("pii_text"), lit(email), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("pii_text"), lit(phone), lit(0)))
              .cast("long").as("n_phones"),
            length(regexp_replace(regexp_replace(col("pii_text"),
              email, "<EMAIL>"), phone, "<PHONE>"))
              .cast("long").as("redacted_len"))
      },
      Some("""WITH pii AS (
        |  SELECT doc_id, text || ' Contact user_' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or +1-555-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(pii_text,
        |    '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  CAST(length(regexp_replace(regexp_replace(pii_text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
        |FROM pii""".stripMargin)),

    // Deterministic train/valid/test split — assignment must be a pure
    // function of the document key (reproducible across runs, machines,
    // and engine versions), never a random() draw. Same md5-prefix
    // device as corpus_mix_sample: hex prefix < 'cccc' ≈ 80% train,
    // < 'e666' ≈ 10% valid, rest test. Shuffle-free scalar projection;
    // the per-split counts are the one aggregation.
    QueryDef("corpus_train_split",
      (s, d) => {
        val h = substring(md5(col("doc_id").cast("string")), 1, 4)
        table(s, d, "documents")
          .select(col("doc_id"),
            when(h < "cccc", "train").when(h < "e666", "valid")
              .otherwise("test").as("split"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      },
      Some("""SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |         THEN 'valid'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents
        |GROUP BY 1""".stripMargin)),

    // Fixed-size overlapping chunks — the context-window preprocessing
    // step of a training pipeline: each document split into 64-token
    // windows advancing by 56 (8-token overlap so no boundary context is
    // lost). Pure per-row array arithmetic (slice over a start sequence,
    // then explode) — shuffle-free, scales linearly, and the chunk count
    // is exact: 1 + ceil(max(n - 64, 0) / 56). Chunks surface as md5
    // digests + token counts (stable, compact oracle columns).
    QueryDef("text_chunk",
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("t"))
        .select(col("doc_id"), size(col("t")).as("n"), col("t"))
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(0, (greatest(n - 64, 0) + 55) DIV 56), " +
              "i -> named_struct('idx', CAST(i AS BIGINT), " +
              "'chunk', slice(t, i * 56 + 1, 64)))")).as("c"))
        .select(col("doc_id"), col("c.idx").as("chunk_idx"),
          size(col("c.chunk")).cast("long").as("n_tokens"),
          md5(expr("array_join(c.chunk, ' ')")).as("chunk_md5")),
      Some("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    unnest(list_transform(range(0, (greatest(n - 64, 0) + 55) // 56 + 1),
        |      i -> struct_pack(idx := i,
        |             chunk := list_slice(t, i * 56 + 1, i * 56 + 64)))) AS c
        |  FROM t)
        |SELECT doc_id, CAST(c.idx AS BIGINT) AS chunk_idx,
        |  CAST(len(c.chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(c.chunk, ' ')) AS chunk_md5
        |FROM c""".stripMargin)),

    // Deterministic context-window packing: documents laid into
    // fixed-budget (4096-token) bins by their token count's running
    // total in doc_id order — a doc's bin is where its first token
    // lands. The budget measure is the SUBWORD segmentation (below),
    // not whitespace words: context windows are sized in tokenizer
    // tokens, and a whitespace count under-fills bins by exactly the
    // factor long words split into subwords. The running total is the
    // DISTRIBUTED prefix sum (graft.operators.TotalOrder.prefixSum:
    // range shuffle + totals-only pass + parallel emit), because the
    // window form `sum() OVER (ORDER BY doc_id)` funnels the corpus
    // through one partition — the oracle affords exactly that
    // single-node form.
    QueryDef("corpus_pack_bins",
      (s, d) => packCum(s, d)
        .select(col("doc_id"), col("n_tokens"),
          expr("(cum - n_tokens) DIV 4096").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc")),
      Some(s"""WITH t AS (SELECT doc_id, $subwordCountSql AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT (cum - n_tokens) // 4096 AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1""".stripMargin)),

    // Shard materialization — the step after bin assignment: each bin's
    // documents concatenated in doc_id order with a newline separator,
    // surfaced as digest + byte length (the shard identity, without
    // hauling megabytes of text through the oracle compare). The per-bin
    // collect is BOUNDED by the 4096-token budget, which is the whole
    // point of packing first — an unbudgeted per-key collect_list is the
    // aggregation-buffer anti-pattern the inverted index's df-guard
    // exists for. Order inside the shard is explicit (array_sort on
    // doc_id before joining), never collect_list arrival order.
    QueryDef("corpus_shard_text",
      (s, d) => packCum(s, d)
          // bin assignment from the SHARED packing table; text re-attached
          // by a doc_id hash join (the prefix sum no longer hauls document
          // bodies through its range shuffle — only (doc_id, n_tokens))
          .select(col("doc_id"),
            expr("(cum - n_tokens) DIV 4096").as("bin"))
          .join(table(s, d, "documents").select(col("doc_id"), col("text")),
            "doc_id")
          .groupBy("bin")
          .agg(collect_list(struct(col("doc_id"), col("text"))).as("ds"))
          .select(col("bin"),
            expr("CAST(size(ds) AS BIGINT)").as("n_docs"),
            expr("""length(array_join(transform(array_sort(ds),
              x -> x.text), '\n'))""").cast("long").as("shard_len"),
            md5(expr("""array_join(transform(array_sort(ds),
              x -> x.text), '\n')""")).as("shard_md5")),
      Some(s"""WITH t AS (SELECT doc_id, text, $subwordCountSql AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, text, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t)
        |SELECT (cum - n_tokens) // 4096 AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(length(string_agg(text, chr(10) ORDER BY doc_id)) AS BIGINT)
        |    AS shard_len,
        |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS shard_md5
        |FROM c GROUP BY 1""".stripMargin)),

    // Statistical-LM fluency scoring — the KenLM-style quality gate of a
    // curation pipeline, in EXACT integer arithmetic: a corpus bigram
    // model P(w2|w1) = c(w1,w2)/c(w1,·), and each document scores the
    // average parts-per-million conditional probability of its word
    // bigrams ((c2·1e6) DIV c1, integer-summed, integer-averaged — ppm
    // rather than per-mille so the integer floor keeps ~6 significant
    // digits of discrimination). Gibberish and
    // boilerplate separate cleanly on this axis without any ln/float
    // crossing the oracle boundary. Scale shape: the gram explode runs
    // ONCE and is immediately reduced to per-document gram COUNTS
    // (doc_id, w1, w2, cnt) — the only frame the rest of the query ever
    // touches (materialized once per sweep: the model side AND the probe
    // side both read it, where the round-5/6 form re-exploded the corpus
    // for each). The model join probes cnt-weighted distinct doc-grams
    // instead of every gram instance — exact per-doc sums, a probe side
    // shrunk by each document's gram repetition factor — and the model
    // table shards with the join instead of needing to fit anywhere.
    QueryDef("text_lm_score",
      (s, d) => {
        val dg = cached(s, d, "lm_doc_grams") {
          table(s, d, "documents")
            .select(col("doc_id"),
              expr("filter(split(text, ' '), x -> x <> '')").as("w"))
            .filter(size(col("w")) >= 2)
            .select(col("doc_id"), explode(expr(
              "transform(sequence(0, size(w) - 2), " +
                "i -> named_struct('w1', w[i], 'w2', w[i + 1]))")).as("g"))
            .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
            .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
        }
        val bg = dg.groupBy("w1", "w2").agg(sum("cnt").as("c2"))
        val pre = bg.groupBy("w1").agg(sum("c2").as("c1"))
        dg.join(bg, Seq("w1", "w2")).join(pre, "w1")
          .withColumn("p_ppm", expr("(c2 * 1000000) DIV c1"))
          .groupBy("doc_id")
          .agg(sum("cnt").as("n_bigrams"),
            sum(expr("p_ppm * cnt")).as("sum_ppm"))
          .select(col("doc_id"), col("n_bigrams"),
            expr("sum_ppm DIV n_bigrams").as("avg_ppm"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS g
        |  FROM t WHERE len(w) >= 2),
        |ge AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM g),
        |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM ge GROUP BY 1, 2),
        |pre AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bg GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum((c2 * 1000000) // c1) AS BIGINT)
        |    // CAST(count(*) AS BIGINT) AS avg_ppm
        |FROM ge JOIN bg USING (w1, w2) JOIN pre USING (w1)
        |GROUP BY doc_id""".stripMargin))
  )
}

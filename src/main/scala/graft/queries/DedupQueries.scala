package graft.queries

import graft.operators.BandedJoin
import org.apache.spark.sql.functions._

/** LLM-training-data deduplication over `documents` — the content-identity
  * strengthening of the reference's metadata-identity dedup (SURVEY.md
  * §2.7.3), plus the near-dup family a 100 TB text pipeline needs.
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on the content digest;
  *  - MinHash is shingle-explode → one groupBy(doc) for all 16 minhashes →
  *    band-key self-join. The join key is the *band value*, so the shuffle
  *    is O(docs × bands), never the O(n²) cross join; candidate volume is
  *    controlled by the (bands=4, rows=4) S-curve;
  *  - n-gram Jaccard joins on the gram itself — correct but gram-frequency
  *    sensitive, so at scale it runs AFTER MinHash banding as the verify
  *    stage on candidates only (here it doubles as the oracle-checked
  *    ground truth);
  *  - everything is deterministic: "random" hash functions are
  *    sha256(seed:value) prefixes, so Spark and DuckDB agree bit-for-bit.
  */
object DedupQueries {
  import Q._

  private val Hex = "0123456789abcdef"

  // Shared materializations via Q.cached: the composed queries
  // (dedup_near_dup_pipeline, corpus_curation, text_edit_distance,
  // dedup_winnow_pairs) reuse one persisted computation of the MinHash
  // signatures/candidates, verified near-dup pairs, distinct (doc, gram)
  // set and simhash signatures, instead of rebuilding the most expensive
  // stage once per registered query.

  /** Corpus row count, memoized per (session, dataset) — one metadata-only
    * parquet count ever per sweep. Drives the scale-adaptive signature
    * sizing below, the same "cost dial derives from corpus size" pattern
    * as SimilarityQueries.lshTableBits.
    */
  private val docCounts = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Long]
  private def docCount(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    docCounts.getOrElseUpdate((s, d), table(s, d, "documents").count())

  /** SimHash signature bits PER BAND for the banded pair search, derived
    * from the corpus row count. The 4-band pigeonhole (hamming ≤ 3 ⇒ one
    * band equal) needs exactly 4 bands, so the only way to keep the
    * band-key equi-join linear is to widen the bands: expected bucket
    * population is n / 2^bits and per-bucket pair work is QUADRATIC, so
    * bits grows with log2(n) (~20 docs/bucket target). The 10x scaling
    * sweep measured the fixed-8-bit version at 39x growth against 10x
    * data — the same disease (and the same dial) as the embedding-LSH
    * fix. At the standard fixtures (500–5000 docs) this resolves to
    * 8 bits = the 32-bit signature the static DuckDB oracle renders,
    * bit-identical to the pre-dial behavior; a 10x corpus gets 12-bit
    * bands on a 48-bit signature (Manku et al.'s web-scale simhash is
    * exactly this: 64-bit signatures, small hamming radius). Capped at
    * 16 bits/band = the 64-bit signature a BIGINT holds; past that the
    * next dial is more tables over permuted blocks, not wider bands.
    */
  private def simhashBandBits(s: org.apache.spark.sql.SparkSession,
      d: String): Int = {
    val n = math.max(docCount(s, d), 1L)
    val target = math.max(256L, n / 20)
    math.min(16, 64 - java.lang.Long.numberOfLeadingZeros(target - 1))
  }

  /** Number of simhash band TABLES, derived from corpus size — the
    * "next dial" past band-width saturation. Width (simhashBandBits)
    * stops growing at 16 bits (4 bands × 16 = the full 64-bit
    * signature), which happens once n/20 > 2^16, i.e. ~1.31 M docs;
    * beyond that, average bucket population grows with the corpus and
    * the hot-band star-link alone carries the bound, trading recall.
    * Each additional TABLE restores recall at linear cost: a fresh
    * 4-band signature drawn from the NEXT 64-bit block of the same
    * per-word sha256 digest (simhash_bits_block — one digest per word
    * regardless of table count; 4 blocks available). One extra table
    * per further 4x of corpus, capped at the digest's 4 blocks. INERT
    * at every current scale (returns 1 up through x30 ≈ 150 k docs and
    * far beyond); spec-pinned by DedupSpec so the x100 sweep meets a
    * tested dial, not a TODO.
    */
  private[graft] def simhashTables(n: Long): Int = {
    val saturation = 20L << 16 // ≈1.31 M docs: 16-bit bands at design point
    var t = 1
    var m = saturation
    while (t < 4 && n > m) { t += 1; m *= 4 }
    t
  }

  /** Max document frequency a gram may have and still enter the Jaccard
    * self-join (see dedup_ngram_jaccard). 100 bounds any single join key
    * to ≤ 100²/2 pairs while keeping every discriminative gram.
    */
  val MaxGramDf = 100

  /** Max docs one simhash band value may hold and still enter the banded
    * candidate join pairwise (see dedup_simhash_pairs). Bounds any single
    * band bucket to ≤ 256²/2 pairs; vote-biased boilerplate bands
    * (stopword profiles shared by a constant corpus fraction) fall back
    * to star-linking through the bucket's min-doc representative — O(n)
    * pairs — so a genuine duplicate group larger than the cap stays
    * connected instead of vanishing.
    */
  val SimhashBandCap = 256

  /** Max docs one MinHash band value may hold and still enter the banded
    * candidate join pairwise (see minhashCandidates). Bounds a bucket to
    * ≤ 64²/2 enumerated pairs; buckets above the cap STAR-LINK through
    * their min-doc representative instead of being dropped, so duplicate
    * groups larger than the cap (whose bands all go hot) survive via
    * transitive closure — the cap is a WORK bound, not a recall bound.
    */
  val MinhashBandCap = 64

  /** DuckDB rendering of `simhashBandBits`: the oracle derives the band
    * width from the corpus row count with the SAME integer formula the
    * Spark side uses (bit-length of max(256, n/20) - 1, capped at 16),
    * so fixtures past the 5120-doc dial breakpoint keep the oracle and
    * the engine on one signature width instead of hash-mismatching on a
    * correct result (round-10 advice). `length(bin(x))` is DuckDB's
    * integer bit-length, exactly `64 - numberOfLeadingZeros(x)`.
    */
  private val SimhashDialSql: String =
    """dial AS MATERIALIZED (SELECT least(16, length(bin(
      |  greatest(256, (SELECT count(*) FROM documents) // 20) - 1))) AS bw)""".stripMargin

  /** DuckDB rendering of [[simhashSigs]] and the first table of
    * [[simhashBands]]: a CTE list (no `WITH`) ending in
    * `sh(doc_id, simhash)` and `bands(doc_id, band, bv)`.
    */
  private val SimhashBandsSql: String =
    s"""$SimhashDialSql,
      |w AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |h AS MATERIALIZED (SELECT doc_id, substr(sha256(w), 1, (SELECT bw FROM dial)) AS hx FROM w WHERE len(w) > 0),
      |e AS (SELECT doc_id, hx, unnest(range(0, 4 * (SELECT bw FROM dial))) AS b FROM h),
      |v AS (SELECT doc_id, b,
      |  ((instr('$Hex', substr(hx, (b // 4) + 1, 1)) - 1) >> (3 - (b % 4))) & 1 AS bit
      |  FROM e),
      |votes AS MATERIALIZED (SELECT doc_id, b, CAST(sum(2 * bit - 1) AS BIGINT) AS vote
      |  FROM v GROUP BY 1, 2),
      |sh AS MATERIALIZED (SELECT doc_id,
      |  CAST(sum((CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << b) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id),
      |bands AS MATERIALIZED (SELECT doc_id, b AS band,
      |  (simhash >> (b * (SELECT bw FROM dial))) & ((CAST(1 AS BIGINT) << (SELECT bw FROM dial)) - 1) AS bv
      |  FROM sh, (SELECT unnest(range(0, 4)) AS b))""".stripMargin

  /** SimHash signature of `hexDigits * 4` bits per document: each word
    * votes its sha256-prefix bits ±1 per position; the signature's bit b is
    * 1 iff the vote is positive. Computed by the native fused
    * `simhash_bits` expression (graft.functions.SimhashBits) — one sha256
    * per word and a vote array per ROW, zero shuffle in the signature
    * stage; the declarative equivalent (explode words × bits → two
    * groupBys, what the DuckDB oracle still runs, and what
    * TextNativeFunctionsSpec asserts the native form equals) shuffles
    * tens of millions of rows at sf0.1.
    */
  private def simhashBits(s: org.apache.spark.sql.SparkSession, d: String,
      hexDigits: Int): org.apache.spark.sql.DataFrame = {
    graft.functions.SimhashBits.register(s)
    table(s, d, "documents")
      .select(col("doc_id"),
        expr(s"simhash_bits(text, $hexDigits)").as("simhash"))
  }

  /** Banded simhash candidate pairs + exact hamming ≤ 3 verify on the
    * CANONICAL block-0 signature — the body of `dedup_simhash_pairs`,
    * parameterized by band-table count so the saturation dial
    * ([[simhashTables]]) is exercisable below the corpus size that turns
    * it on.
    *
    * DF-BOUND band join (the stop-gram / phash-band discipline applied
    * to simhash): simhash bits are VOTE-BIASED — documents sharing a
    * language's stopword profile vote the same way on high-frequency
    * word hashes, so a constant FRACTION of the corpus can share one
    * band value no matter how wide the bands get (the x30 measured
    * sweep: 9.7x growth on 3x data with width-widening alone). Buckets
    * above SimhashBandCap star-link (see [[graft.operators.BandedJoin]]);
    * the hamming verify gates every emitted pair. Mirrored in the DuckDB
    * oracle.
    */
  private[graft] def simhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String, nTables: Int): org.apache.spark.sql.DataFrame = {
    val sh = simhashSigs(s, d)
    BandedJoin.pairs(simhashBands(s, d, nTables), "doc_id",
        Seq("band", "bv"), SimhashBandCap)
      .join(sh.select(col("doc_id").as("doc_a"),
        col("simhash").as("sim_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"),
        col("simhash").as("sim_b")), "doc_b")
      .withColumn("hamming",
        expr("bit_count(sim_a ^ sim_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The banded pair search's signatures: one `simhashBandBits`-wide
    * signature row per doc, persisted once for the band table and both
    * verify joins (the tag names the width: same dataset ⇒ same width, but
    * the name should say what the cache holds).
    */
  private def simhashSigs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val w = simhashBandBits(s, d)
    cached(s, d, s"simhash_4x$w")(simhashBits(s, d, hexDigits = w))
  }

  /** The simhash band table (doc_id, band, bv), shared by the pair search
    * and the occupancy histogram: 4 bands of the persisted signature, and
    * for each table beyond the first 4 more from successive 64-bit sha256
    * blocks (`simhash_bits_block`) — candidate generation only; the verify
    * signature never changes, so extra tables are purely additive recall.
    */
  private def simhashBands(s: org.apache.spark.sql.SparkSession,
      d: String, nTables: Int): org.apache.spark.sql.DataFrame = {
    val w = simhashBandBits(s, d)
    graft.functions.SimhashBits.register(s)
    val mask = (1 << w) - 1
    val bands0 = simhashSigs(s, d).select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("b"), col("simhash"))
      .withColumn("bv", expr(s"(simhash >> (b * $w)) & $mask"))
      .select(col("doc_id"), col("b").as("band"), col("bv"))
    val extraBands = (1 until nTables).map { t =>
      table(s, d, "documents")
        .select(col("doc_id"),
          expr(s"simhash_bits_block(text, $w, $t)").as("sig"))
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(3))).as("b"), col("sig"))
        .withColumn("bv", expr(s"(sig >> (b * $w)) & $mask"))
        .select(col("doc_id"), (col("b") + lit(4 * t)).as("band"), col("bv"))
    }
    extraBands.foldLeft(bands0)(_ unionByName _)
  }

  /** Distinct (doc_id, word-3-gram) set over the corpus, persisted once per
    * (session, dataset): it feeds the ngram-Jaccard query (df computation +
    * both join sides + per-doc sizes) AND the near-dup verify stage.
    */
  private def docGrams(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "doc_grams") {
      table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          explode(when(size(col("ws")) >= 3,
              sequence(lit(1), size(col("ws")) - 2))
            .otherwise(array().cast("array<int>"))).as("i"),
          col("ws"))
        .select(col("doc_id"), expr(
          "element_at(ws, i) || ' ' || element_at(ws, i + 1) || ' ' || element_at(ws, i + 2)")
          .as("gram"))
        .distinct()
    }

  /** MinHash-band candidate pairs (doc_a < doc_b). Signature stage is the
    * native `minhash_sigs` expression (graft.functions.MinhashSigs): all 16
    * minima of one document's shingle digests in one fused per-row loop —
    * the declarative equivalent (explode ~100 shingle rows/doc →
    * groupBy(doc) with 16 min() aggs, what the DuckDB oracle still runs)
    * materializes and SHUFFLES those rows; this plan's signature stage
    * shuffles nothing. Docs shorter than one shingle yield an empty array =
    * no bands, matching the oracle's empty shingle set.
    */
  /** One (doc_id, band, bv) row per document per LSH band, persisted once:
    * feeds the candidate self-join AND the incremental batch-vs-index
    * probe.
    */
  private def minhashBands(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "minhash_bands") {
      graft.functions.MinhashSigs.register(s)
      // one row per doc — persisted so band derivation does not re-run the
      // digest loop per consumer
      val mh = cached(s, d, "minhash_sigs") {
        table(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 200).as("t"))
          .select(col("doc_id"), expr("minhash_sigs(t)").as("mhs"))
          .filter(size(col("mhs")) > 0)
      }
      val bandCols = (0 to 3).map(b => concat(
        element_at(col("mhs"), 4 * b + 1), element_at(col("mhs"), 4 * b + 2),
        element_at(col("mhs"), 4 * b + 3), element_at(col("mhs"), 4 * b + 4)))
      mh.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    }

  /** (doc_id, cluster_id, cluster_size) for every doc in a near-dup
    * cluster, persisted once: cluster_id is the min doc_id of the
    * component (so `doc_id == cluster_id` identifies the representative).
    * Feeds the clusters query AND cluster-based curation.
    */
  private def clusterAssignments(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "dedup_clusters") {
      val pairs = nearDupPairs(s, d).select("doc_a", "doc_b")
      val (labels, _) = graft.operators.ConnectedComponents.run(pairs)
      val rep = labels
        .select(col("v").as("doc_id"), col("component").as("cluster_id"))
      // clusters are few and tiny relative to the corpus — broadcast
      val sizes = rep.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      rep.join(broadcast(sizes), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    }

  /** MinHash candidate pairs over the shared band table. Buckets above
    * MinhashBandCap star-link, so a duplicate group larger than the cap
    * stays connected (spec-pinned by DedupSpec's planted over-cap group;
    * dedup_recall_audit is the standing guard).
    */
  private def minhashCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    cached(s, d, "minhash_cand") {
      BandedJoin.pairs(minhashBands(s, d), "doc_id", Seq("band", "bv"),
        MinhashBandCap)
    }

  /** DuckDB rendering of [[minhashBands]]: a CTE prefix ending in
    * `bands(doc_id, band, bv)`. Keep in lockstep with the Spark builder.
    */
  private[queries] val MinhashBandsSql: String = {
    val mhs = (0 until 16)
      .map(j => s"min(substr(h, ${6 * j + 1}, 6)) AS mh$j")
      .mkString(", ")
    val bands = (0 to 3).map(b =>
      s"SELECT doc_id, $b AS band, mh${4 * b}||mh${4 * b + 1}||mh${4 * b + 2}||mh${4 * b + 3} AS bv FROM mh")
      .mkString(" UNION ALL ")
    s"""WITH t AS MATERIALIZED (SELECT doc_id, substr(text, 1, 200) AS t FROM documents),
      |sh AS MATERIALIZED (SELECT doc_id, sha256(substr(t, i, 5)) || md5(substr(t, i, 5)) AS h
      |  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1), 2)) AS i FROM t)),
      |mh AS MATERIALIZED (SELECT doc_id, $mhs FROM sh GROUP BY doc_id),
      |bands AS MATERIALIZED ($bands)""".stripMargin
  }

  /** DuckDB rendering of [[minhashCandidates]]: a CTE prefix ending in
    * `cand(doc_a, doc_b)`.
    */
  private val MinhashCandSql: String = s"$MinhashBandsSql,\n" +
    BandedJoin.candSql("bands", "doc_id", Seq("band", "bv"), MinhashBandCap)

  /** The composed near-dup path: MinHash band candidates, then the exact
    * word-3-gram Jaccard verify computed ONLY for candidate pairs — the
    * gram join is keyed by (candidate doc, gram), so it is linear in
    * candidates and immune to hot grams. Returns verified (doc_a, doc_b,
    * jaccard) with J ≥ 0.5, doc_a < doc_b.
    */
  private def nearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
      cached(s, d, "near_dup_pairs") {
    val cand = minhashCandidates(s, d)
    val inCand = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // the shared distinct (doc, gram) materialization (same set the
    // ngram-Jaccard query consumes), restricted to candidate docs — the
    // verify stage only ever reads grams of candidate docs
    val g = docGrams(s, d).join(broadcast(inCand), "doc_id")
    val sz = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(g.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b2"),
        col("gram").as("gram_b")),
        col("doc_b") === col("doc_b2") && col("gram") === col("gram_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i_n"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("i_n").cast("double") / (col("n_a") + col("n_b") - col("i_n")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** DuckDB rendering of [[nearDupPairs]]: [[MinhashCandSql]] extended to a
    * CTE prefix ending in `ndup(doc_a, doc_b, jaccard)`.
    */
  private val NearDupSql: String =
    s"""$MinhashCandSql,
      |cd AS MATERIALIZED (SELECT doc_a AS doc_id FROM cand
      |  UNION SELECT doc_b FROM cand),
      |g AS MATERIALIZED (SELECT doc_id, gram FROM (
      |    SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |    FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i
      |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)))
      |  WHERE doc_id IN (SELECT doc_id FROM cd)),
      |sz AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |inter AS MATERIALIZED (SELECT c.doc_a, c.doc_b, count(*) AS i_n
      |  FROM cand c
      |  JOIN g a ON a.doc_id = c.doc_a
      |  JOIN g b ON b.doc_id = c.doc_b AND b.gram = a.gram
      |  GROUP BY 1, 2),
      |ndup AS MATERIALIZED (SELECT doc_a, doc_b,
      |    CAST(i_n AS DOUBLE) / (sa.n + sb.n - i_n) AS jaccard
      |  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE CAST(i_n AS DOUBLE) / (sa.n + sb.n - i_n) >= 0.5)""".stripMargin

  /** The COMPOSED corpus build, stage by stage — the one number a
    * training-data team quotes: raw → quality gate → exact dedup →
    * near-dup removal → benchmark decontamination → context-window
    * packing → shard manifest, as a single chain whose expensive
    * artifacts (minhash bands → verified pairs, the 8-gram probe table,
    * the survivors' packing prefix sum) are memoized ONCE and shared by
    * every later stage. Each entry is (stage name, the DataFrame whose
    * materialization IS that stage); `graft.CorpusBuild` times them in
    * order, and the final stage is the registered
    * `corpus_build_manifest` query. Every stage is the scale-safe form
    * its standalone query proves; the composition adds no new shuffle
    * shape. */
  private[graft] def corpusBuildStages(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    // every stage is a THUNK: `cached`/`nearDupPairs` materialize their
    // memo eagerly at call time, so constructing the plans inside the
    // thunk is what attributes each shared build to the FIRST stage that
    // runs it (the Bench first-payer discipline) instead of to an
    // untimed setup phase
    def docs = table(s, d, "documents")
    def quality = docs.filter(size(split(col("text"), " ")) >= 10)
    // each stage's SURVIVOR ID SET is memoized (id columns only — bytes
    // per doc, never text), so a later stage consumes its predecessor's
    // materialized output instead of re-executing the upstream groupBy /
    // anti-join chain: per-stage walls are additive shuffle work, and the
    // summed total is the end-to-end cost, not a prefix-inclusive
    // overcount. What deliberately stays per-stage is the raw-corpus
    // SCAN (quality's filter inside exact, the text join inside pack /
    // shard): scans are the input each stage genuinely re-reads.
    def exact = cached(s, d, "build_exact_ids") {
      quality
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
    }
    def curated = cached(s, d, "build_curated_ids") {
      exact.join(
        nearDupPairs(s, d).select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    def survivors = cached(s, d, "build_survivor_ids") {
      val g8 = TextQueries.docGrams8(s, d)
      val evalG = g8.filter(col("doc_id") < 20).select("gram").distinct()
      val flagged = g8.filter(col("doc_id") >= 20)
        .join(broadcast(evalG), "gram")
        .select("doc_id").distinct()
      curated.join(flagged, Seq("doc_id"), "left_anti")
    }
    def st = survivors
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
    // survivors packed into 4096-token bins in doc_id order — the
    // distributed prefix sum (range shuffle + totals-only pass), never
    // the single-partition window form; memoized so the shard stage
    // reads the same table
    def cum = cached(s, d, "build_pack_cum") {
      graft.operators.TotalOrder.prefixSum(
        st.select(col("doc_id"), TextQueries.subwordCount.as("n_tokens")),
        Seq(col("doc_id")), "n_tokens", "cum", 8)
    }
    def manifest = cum
      .select(col("doc_id"), expr("(cum - n_tokens) DIV 4096").as("bin"))
      .join(st, "doc_id")
      .groupBy("bin")
      .agg(collect_list(struct(col("doc_id"), col("text"))).as("ds"))
      .select(col("bin"),
        expr("CAST(size(ds) AS BIGINT)").as("n_docs"),
        expr("""length(array_join(transform(array_sort(ds),
          x -> x.text), '\n'))""").cast("long").as("shard_len"),
        md5(expr("""array_join(transform(array_sort(ds),
          x -> x.text), '\n')""")).as("shard_md5"))
    Seq("quality" -> (() => quality.select("doc_id")),
      "exact_dedup" -> (() => exact),
      "near_dedup" -> (() => curated),
      "decontaminate" -> (() => survivors),
      "pack" -> (() => cum),
      "shard" -> (() => manifest))
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: survivors + multiplicity per content digest.
    QueryDef("dedup_exact",
      (s, d) => table(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),

    // EXACT-SUBSTRING dedup — the sequence-level complement of the
    // document-level families: find every maximal run of word positions
    // whose 8-gram occurs MORE THAN ONCE anywhere in the corpus (the
    // duplicated-span shape of suffix-array training-data dedup, detected
    // here at 8-gram granularity). The distributed analogue of the
    // suffix-array sort is ONE shuffle of (gram-hash, position) rows
    // grouped by gram hash; positions of repeated grams come back to
    // their documents and collapse into maximal spans with a per-document
    // gaps-and-islands window (partitioned by doc_id — parallel, bounded
    // by document length, never corpus-wide). Grams shuffle as xxhash64
    // LONGS, not strings — 8 bytes per gram regardless of gram text; at
    // ~10^5 grams the 64-bit collision odds are ~10^-9 (the oracle joins
    // the gram strings themselves and agrees; a 100 TB run would widen to
    // two seeds = 128 bits, same plan). Spans whose gap >= 8 words are
    // disjoint in word coverage, so the per-doc word totals are exact.
    QueryDef("dedup_exact_substring",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val g = table(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            explode(when(size(col("ws")) >= 8,
                sequence(lit(1), size(col("ws")) - 7))
              .otherwise(array().cast("array<int>"))).as("i"),
            col("ws"))
          .select(col("doc_id"), col("i"),
            xxhash64(expr((1 to 7)
              .map(o => s"element_at(ws, i + $o)")
              .mkString("element_at(ws, i) || ' ' || ",
                " || ' ' || ", ""))).as("gh"))
        val dup = g.groupBy("gh").agg(count(lit(1)).as("n_occ"))
          .filter(col("n_occ") > 1)
        val wLag = Window.partitionBy("doc_id").orderBy("i")
        g.join(dup, "gh")
          .withColumn("brk",
            when(col("i") - lag(col("i"), 1, -999).over(wLag) >= 8, 1)
              .otherwise(0))
          .withColumn("span_id", sum("brk").over(wLag))
          .groupBy("doc_id", "span_id")
          .agg(count(lit(1)).as("span_grams"),
            (max(col("i")) + 7 - min(col("i")) + 1).cast("long")
              .as("span_words"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum("span_grams").as("n_dup_grams"),
            sum("span_words").as("n_dup_words"),
            max("span_words").as("max_span_words"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, i,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |    ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i FROM w)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |h AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
        |b AS (SELECT doc_id, i,
        |    CASE WHEN i - lag(i, 1, -999) OVER (PARTITION BY doc_id ORDER BY i) >= 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM h),
        |sp AS (SELECT doc_id, i,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS span_id
        |  FROM b),
        |runs AS (SELECT doc_id, span_id,
        |    CAST(count(*) AS BIGINT) AS span_grams,
        |    CAST(max(i) + 7 - min(i) + 1 AS BIGINT) AS span_words
        |  FROM sp GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_grams) AS BIGINT) AS n_dup_grams,
        |  CAST(sum(span_words) AS BIGINT) AS n_dup_words,
        |  max(span_words) AS max_span_words
        |FROM runs GROUP BY 1""".stripMargin)),

    // PARAGRAPH-level dedup (the CCNet shape): segment every document
    // into fixed 16-word pieces, hash each piece, and keep only the
    // GLOBALLY FIRST occurrence of every distinct piece — later copies
    // anywhere in the corpus are dropped, whatever document they sit in.
    // This is the unit-of-removal complement of the document-level
    // families (which drop whole documents) and the span detector above
    // (which only REPORTS duplicated runs): boilerplate shared across
    // thousands of pages disappears exactly once per corpus. Scale shape:
    // one shuffle of (segment-hash, encoded position) rows; the
    // first-occurrence winner is a hash-keyed min aggregation and the
    // verdict join rides the SAME hash partitioning (Catalyst reuses the
    // exchange), so cost is O(segments) with no window and no driver
    // state. First-occurrence order is the deterministic (doc_id,
    // seg_idx) encoding — a single BIGINT min, not a struct — so Spark
    // and DuckDB agree bit-for-bit. Radix: doc_id * 2^31 + seg_idx,
    // which orders correctly while seg_idx < 2^31 (a 2^31-segment
    // document is ~34 billion words — physically impossible) and
    // doc_id < 2^32 (4.3 B documents; beyond that, widen to a 2-column
    // min_by in both engines).
    QueryDef("dedup_paragraph",
      (s, d) => {
        val segs = table(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            explode(sequence(lit(0),
              expr("(size(ws) + 15) div 16 - 1"))).as("seg_idx"),
            col("ws"))
          .select(col("doc_id"), col("seg_idx"),
            md5(expr("array_join(slice(ws, seg_idx * 16 + 1, 16), ' ')"))
              .as("h"),
            expr("size(slice(ws, seg_idx * 16 + 1, 16))").as("seg_words"))
          .withColumn("k", col("doc_id") * 2147483648L + col("seg_idx"))
        val firstOcc = segs.groupBy("h").agg(min(col("k")).as("first_k"))
        segs.join(firstOcc, "h")
          .withColumn("kept", when(col("k") === col("first_k"), 1L)
            .otherwise(0L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segs"),
            sum(col("kept")).as("n_kept"),
            sum(lit(1L) - col("kept")).as("n_removed"),
            sum(col("kept") * col("seg_words")).as("kept_words"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (SELECT doc_id, i AS seg_idx,
        |    md5(array_to_string(ws[i*16+1 : i*16+16], ' ')) AS h,
        |    len(ws[i*16+1 : i*16+16]) AS seg_words,
        |    doc_id * 2147483648 + i AS k
        |  FROM (SELECT doc_id, ws, unnest(range(0, (len(ws) + 15) // 16)) AS i FROM w)),
        |fo AS (SELECT h, min(k) AS first_k FROM segs GROUP BY h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(sum(CASE WHEN k = first_k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN k = first_k THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN k = first_k THEN seg_words ELSE 0 END) AS BIGINT) AS kept_words
        |FROM segs JOIN fo USING (h) GROUP BY doc_id""".stripMargin)),

    // The MATERIALIZATION companion of dedup_paragraph (as
    // corpus_shard_text is to corpus_pack_bins): actually REBUILD every
    // document from its surviving segments, in segment order, and
    // publish the cleaned text's digest + residual size — the stage that
    // writes the deduplicated corpus rather than reporting on it. The
    // per-doc ordered concat is a bounded collect_list (documents are
    // row-sized, never corpus-sized); fully-duplicated documents survive
    // as rows with the empty-text digest, so the output keeps one row
    // per input document. Same single hash-keyed shuffle family as the
    // report query.
    QueryDef("dedup_paragraph_rewrite",
      (s, d) => {
        val segs = table(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            explode(sequence(lit(0),
              expr("(size(ws) + 15) div 16 - 1"))).as("seg_idx"),
            col("ws"))
          .select(col("doc_id"), col("seg_idx"),
            expr("array_join(slice(ws, seg_idx * 16 + 1, 16), ' ')")
              .as("seg"),
            expr("size(slice(ws, seg_idx * 16 + 1, 16))").as("seg_words"))
          .withColumn("h", md5(col("seg")))
          .withColumn("k", col("doc_id") * 2147483648L + col("seg_idx"))
        val firstOcc = segs.groupBy("h").agg(min(col("k")).as("first_k"))
        val kept = segs.join(firstOcc, "h")
          .filter(col("k") === col("first_k"))
        val rebuilt = kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("seg_words")).as("rebuilt_words"),
            md5(expr(
              """array_join(transform(
                |  array_sort(collect_list(struct(seg_idx, seg))),
                |  p -> p.seg), ' ')""".stripMargin)).as("rebuilt_digest"))
        table(s, d, "documents").select(col("doc_id"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("rebuilt_words"), lit(0L)).as("rebuilt_words"),
            coalesce(col("rebuilt_digest"), md5(lit("")))
              .as("rebuilt_digest"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (SELECT doc_id, i AS seg_idx,
        |    array_to_string(ws[i*16+1 : i*16+16], ' ') AS seg,
        |    len(ws[i*16+1 : i*16+16]) AS seg_words,
        |    md5(array_to_string(ws[i*16+1 : i*16+16], ' ')) AS h,
        |    doc_id * 2147483648 + i AS k
        |  FROM (SELECT doc_id, ws, unnest(range(0, (len(ws) + 15) // 16)) AS i FROM w)),
        |fo AS (SELECT h, min(k) AS first_k FROM segs GROUP BY h),
        |kept AS (SELECT doc_id, seg_idx, seg, seg_words
        |  FROM segs JOIN fo USING (h) WHERE k = first_k),
        |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(sum(seg_words) AS BIGINT) AS rebuilt_words,
        |    md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS rebuilt_digest
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_kept, 0) AS n_kept,
        |  coalesce(rebuilt_words, 0) AS rebuilt_words,
        |  coalesce(rebuilt_digest, md5('')) AS rebuilt_digest
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN rb USING (doc_id)"""
        .stripMargin)),

    // MinHash + LSH banding: char-5-gram shingles sampled at stride 2 over
    // the first 200 chars; 16 minhash values as the 6-hex-digit pieces of
    // ONE sha256||md5 per shingle (2 hash calls instead of 16 — the pieces
    // of a cryptographic digest are independent uniform hashes); 4 bands ×
    // 4 rows; candidate pairs = docs sharing any band value. Profiled: the
    // min-aggregation over shingle rows dominates, so stride-2 halves the
    // row count and the digest-split halves the per-row work — ~3x faster
    // than the naive 16×sha256 with the same banding S-curve.
    QueryDef("dedup_minhash_lsh",
      (s, d) => minhashCandidates(s, d),
      Some(s"$MinhashCandSql SELECT doc_a, doc_b FROM cand")),

    // The COMPOSED 100 TB near-dup path, end to end: MinHash band
    // candidates (the S-curve recall stage), then the exact word-3-gram
    // Jaccard verify computed ONLY for candidate pairs — the gram join is
    // keyed by (candidate doc, gram), so its size is |cand| × grams/doc,
    // never corpus-quadratic and immune to hot grams. This is the plan
    // you actually run over a corpus: dedup_minhash_lsh and
    // dedup_ngram_jaccard prove the stages, this proves the composition.
    QueryDef("dedup_near_dup_pipeline",
      (s, d) => nearDupPairs(s, d),
      Some(s"""$NearDupSql
        |SELECT doc_a, doc_b, jaccard FROM ndup""".stripMargin)),

    // CURATION FUNNEL — the per-stage attrition report every corpus
    // build publishes: how many documents survive the quality gate,
    // exact dedup, near-dup removal, and benchmark decontamination. One
    // declarative plan (a union of five bounded aggregates — no driver
    // counts); the expensive stage inputs reuse the set's persisted
    // near-dup pairs, and the decontamination stage is the same
    // broadcast 8-gram probe corpus_decontaminate proves. Output is 5
    // rows regardless of corpus size.
    QueryDef("corpus_curation_funnel",
      (s, d) => {
        def stage(id: Long, name: String,
            df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(id).as("stage_id"), lit(name).as("stage"),
              col("n_docs"))
        val docs = table(s, d, "documents")
        val quality = docs.filter(size(split(col("text"), " ")) >= 10)
        val exact = quality
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val dupB = nearDupPairs(s, d)
          .select(col("doc_b").as("doc_id")).distinct()
        val curated = exact.join(dupB, Seq("doc_id"), "left_anti")
        val g8 = TextQueries.docGrams8(s, d)
        val evalG = g8.filter(col("doc_id") < 20).select("gram").distinct()
        val flagged = g8.filter(col("doc_id") >= 20)
          .join(broadcast(evalG), "gram")
          .select("doc_id").distinct()
        val clean = curated.join(flagged, Seq("doc_id"), "left_anti")
        stage(1, "raw", docs)
          .union(stage(2, "quality", quality))
          .union(stage(3, "exact_dedup", exact))
          .union(stage(4, "near_dedup", curated))
          .union(stage(5, "decontaminated", clean))
      },
      Some(s"""$NearDupSql,
        |fdupb AS (SELECT DISTINCT doc_b AS doc_id FROM ndup),
        |fq AS (SELECT doc_id, sha256(text) AS h FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |fk AS (SELECT min(doc_id) AS doc_id FROM fq GROUP BY h),
        |fcur AS (SELECT doc_id FROM fk
        |  WHERE doc_id NOT IN (SELECT doc_id FROM fdupb)),
        |fg8 AS (SELECT DISTINCT doc_id,
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |    ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 6, 1))) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
        |ffl AS (SELECT DISTINCT g.doc_id FROM fg8 g
        |  JOIN (SELECT DISTINCT gram FROM fg8 WHERE doc_id < 20) e
        |    USING (gram)
        |  WHERE g.doc_id >= 20),
        |fcl AS (SELECT doc_id FROM fcur
        |  WHERE doc_id NOT IN (SELECT doc_id FROM ffl))
        |SELECT CAST(1 AS BIGINT) AS stage_id, 'raw' AS stage,
        |  CAST(count(*) AS BIGINT) AS n_docs FROM documents
        |UNION ALL SELECT 2, 'quality', CAST(count(*) AS BIGINT) FROM fq
        |UNION ALL SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT) FROM fk
        |UNION ALL SELECT 4, 'near_dedup', CAST(count(*) AS BIGINT) FROM fcur
        |UNION ALL SELECT 5, 'decontaminated', CAST(count(*) AS BIGINT) FROM fcl"""
        .stripMargin)),

    // The full training-data CURATION flow in one plan: quality gate
    // (≥10 words) → exact dedup (keep the lowest doc_id per content hash)
    // → near-dup removal (drop the higher id of every verified J≥0.5
    // pair). What a 100 TB corpus build actually materializes: each stage
    // is the scale-safe form proven above; the composition is one more
    // oracle row.
    QueryDef("corpus_curation",
      (s, d) => {
        val dupB = nearDupPairs(s, d)
          .select(col("doc_b").as("doc_id")).distinct()
        table(s, d, "documents")
          .filter(size(split(col("text"), " ")) >= 10)
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .join(dupB, Seq("doc_id"), "left_anti")
          .select("doc_id")
      },
      Some(s"""$NearDupSql,
        |dupb AS (SELECT DISTINCT doc_b AS doc_id FROM ndup),
        |q AS (SELECT doc_id, sha256(text) AS h FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY h)
        |SELECT doc_id FROM k
        |WHERE doc_id NOT IN (SELECT doc_id FROM dupb)""".stripMargin)),

    // The composed CORPUS BUILD, end to end — what a 100 TB training-data
    // run actually ships: quality gate → exact dedup → near-dup removal →
    // benchmark decontamination → context-window packing of the SURVIVORS
    // (distributed prefix sum) → per-shard manifest (bin, doc count, byte
    // length, content digest). Every stage is the scale-safe form its
    // standalone query proves; this row proves the COMPOSITION under one
    // oracle, and `graft.CorpusBuild` measures its per-stage wall-clock
    // over the same shared artifacts (`corpusBuildStages`).
    QueryDef("corpus_build_manifest",
      (s, d) => corpusBuildStages(s, d).last._2(),
      Some(s"""$NearDupSql,
        |bdupb AS (SELECT DISTINCT doc_b AS doc_id FROM ndup),
        |bq AS (SELECT doc_id, sha256(text) AS h FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |bk AS (SELECT min(doc_id) AS doc_id FROM bq GROUP BY h),
        |bcur AS (SELECT doc_id FROM bk
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bdupb)),
        |${TextQueries.Grams8Sql.replaceFirst("WITH ", "")},
        |bfl AS (SELECT DISTINCT g.doc_id FROM g8 g
        |  JOIN (SELECT DISTINCT gram FROM g8 WHERE doc_id < 20) e
        |    USING (gram)
        |  WHERE g.doc_id >= 20),
        |bsur AS (SELECT doc_id FROM bcur
        |  WHERE doc_id NOT IN (SELECT doc_id FROM bfl)),
        |bt AS (SELECT d.doc_id, d.text, ${TextQueries.subwordCountSql} AS n_tokens
        |  FROM documents d JOIN bsur USING (doc_id)),
        |bc AS (SELECT doc_id, text, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM bt)
        |SELECT (cum - n_tokens) // 4096 AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(length(string_agg(text, chr(10) ORDER BY doc_id)) AS BIGINT)
        |    AS shard_len,
        |  md5(string_agg(text, chr(10) ORDER BY doc_id)) AS shard_md5
        |FROM bc GROUP BY 1""".stripMargin)),

    // Fuzzy matching on candidates: character edit distance as the verify
    // metric (both engines implement classic Levenshtein identically on
    // integers). Same composition discipline as the Jaccard verify: the
    // O(len²) DP runs ONLY for MinHash candidate pairs, never all-pairs —
    // at corpus scale edit distance is strictly a post-candidate metric.
    QueryDef("text_edit_distance",
      (s, d) => {
        val cand = minhashCandidates(s, d)
        val docs = table(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 100).as("t100"))
        cand
          .join(docs.select(col("doc_id").as("doc_a"), col("t100").as("ta")), "doc_a")
          .join(docs.select(col("doc_id").as("doc_b"), col("t100").as("tb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
      },
      Some(s"""$MinhashCandSql
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(substr(da.text, 1, 100), substr(db.text, 1, 100)) AS BIGINT) AS edit_dist
        |FROM cand
        |JOIN documents da ON doc_a = da.doc_id
        |JOIN documents db ON doc_b = db.doc_id""".stripMargin)),

    // SimHash near-dup PAIRS at scale: 4·B-bit signatures, banded into
    // 4 × B-bit keys — by pigeonhole any pair within hamming distance 3
    // shares at least one band, so candidate generation is a band-key
    // equi-join (never all-pairs), then the exact hamming verify
    // (bit_count(xor)) runs on candidates only. B derives from the corpus
    // size (simhashBandBits): 8 at the standard fixtures (= the 32-bit
    // signature the static oracle renders), wider as the corpus grows so
    // per-bucket pair work stays bounded. This completes the simhash
    // story: dedup_simhash is the signature operator, this is the
    // candidates+verify dedup built on it.
    QueryDef("dedup_simhash_pairs",
      (s, d) => simhashPairs(s, d, simhashTables(docCount(s, d))),
      Some(s"""WITH $SimhashBandsSql,
        |${BandedJoin.candSql("bands", "doc_id", Seq("band", "bv"), SimhashBandCap)}
        |SELECT doc_a, doc_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM cand JOIN sh a ON doc_a = a.doc_id JOIN sh b ON doc_b = b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)),

    // Band-bucket OCCUPANCY histogram for the MinHash band table — the
    // third of the occupancy triple (simhash / embedding-LSH / minhash):
    // the same measured distribution behind MinhashBandCap's star-link
    // bound, over the exact band table the candidate join and the
    // incremental probe share. Bit-length bins, integer-exact in both
    // engines.
    QueryDef("dedup_minhash_occupancy",
      (s, d) => {
        val stats = minhashBands(s, d).groupBy("band", "bv")
          .agg(count(lit(1)).as("n_b"))
        stats.groupBy(length(bin(col("n_b"))).cast("long").as("bin"))
          .agg(count(lit(1)).as("n_buckets"),
            sum("n_b").cast("long").as("n_docs"),
            max("n_b").cast("long").as("max_bucket"))
      },
      Some(s"""$MinhashBandsSql,
        |mstat AS (SELECT band, bv, CAST(count(*) AS BIGINT) AS n_b
        |  FROM bands GROUP BY band, bv)
        |SELECT CAST(len(bin(n_b)) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(n_b) AS BIGINT) AS n_docs,
        |  CAST(max(n_b) AS BIGINT) AS max_bucket
        |FROM mstat GROUP BY 1""".stripMargin)),

    // Band-bucket OCCUPANCY histogram for the simhash band table — the
    // measurement behind the star-link saturation claim (SCALING.md §6):
    // pair work in the banded join is Σ min(n_b, cap)·n_b per bucket, so
    // the occupancy DISTRIBUTION (not just the mean the width dial
    // targets) is what bounds growth. One groupBy over the shared band
    // table; bucket sizes bin by bit length (floor(log2)+1 — integer-
    // exact in both engines via length(bin(n))), and the top bins show
    // directly how much mass sits above SimhashBandCap (the star-linked
    // share). Cheap enough to run in every gate sweep.
    QueryDef("dedup_simhash_occupancy",
      (s, d) => {
        val stats = simhashBands(s, d, simhashTables(docCount(s, d)))
          .groupBy("band", "bv").agg(count(lit(1)).as("n_b"))
        stats.groupBy(length(bin(col("n_b"))).cast("long").as("bin"))
          .agg(count(lit(1)).as("n_buckets"),
            sum("n_b").cast("long").as("n_docs"),
            max("n_b").cast("long").as("max_bucket"))
      },
      Some(s"""WITH $SimhashBandsSql,
        |sstat AS (SELECT band, bv, CAST(count(*) AS BIGINT) AS n_b
        |  FROM bands GROUP BY band, bv)
        |SELECT CAST(len(bin(n_b)) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(n_b) AS BIGINT) AS n_docs,
        |  CAST(max(n_b) AS BIGINT) AS max_bucket
        |FROM sstat GROUP BY 1""".stripMargin)),

    // SimHash: 16-bit signature from per-word sha256 bit votes.
    QueryDef("dedup_simhash",
      (s, d) => simhashBits(s, d, hexDigits = 4),
      Some(s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |h AS (SELECT doc_id, substr(sha256(w), 1, 4) AS h4 FROM w WHERE len(w) > 0),
        |e AS (SELECT doc_id, h4, unnest(range(0, 16)) AS b FROM h),
        |v AS (SELECT doc_id, b,
        |  ((instr('$Hex', substr(h4, (b // 4) + 1, 1)) - 1) >> (3 - (b % 4))) & 1 AS bit
        |  FROM e),
        |votes AS (SELECT doc_id, b, CAST(sum(2 * bit - 1) AS BIGINT) AS vote
        |  FROM v GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum((CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << b) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin)),

    // Word 3-gram Jaccard ≥ 0.5: the exact near-dup ground truth (the
    // planted duplicate pairs in the corpus sit at J ≈ 0.9).
    //
    // Hot-gram guard: the gram-key self-join is quadratic in a gram's
    // document frequency — at corpus scale one stop-phrase gram ("of the
    // same") would blow up the shuffle on a single hot key. Grams with
    // df > MaxGramDf are dropped BEFORE the join, and Jaccard is computed
    // over the filtered gram universe on both engines (the standard
    // df-pruning trick: near-dup pairs share mostly RARE grams, so J≥0.5
    // candidates survive essentially exactly while the join input gets a
    // hard per-key bound). The DuckDB oracle mirrors the filter.
    QueryDef("dedup_ngram_jaccard",
      (s, d) => {
        // persisted once: the (doc, gram) set feeds the df computation,
        // the join's BOTH sides, and the per-doc sizes — without this the
        // whole explode/distinct pipeline re-runs four times
        val g0 = docGrams(s, d)
        // df-bound: each surviving gram contributes at most MaxGramDf²/2
        // pairs to the join — no hot key can dominate a shuffle partition.
        // The hot set is the stop-phrase inventory (Zipf-tiny), so the
        // gate broadcasts and g0 never shuffles to be filtered.
        val g = BandedJoin.cool(g0, Seq("gram"), MaxGramDf)
        val sz = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val ga = g.select(col("doc_id").as("doc_a"), col("gram"))
        val gb = g.select(col("doc_id").as("doc_b"), col("gram").as("gram_b"))
        ga.join(gb, col("gram") === col("gram_b") && col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i_n"))
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
          .withColumn("jaccard",
            col("i_n").cast("double") / (col("n_a") + col("n_b") - col("i_n")))
          .filter(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b", "jaccard")
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM w)),
        |rare AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $MaxGramDf),
        |g AS (SELECT doc_id, gram FROM g0 JOIN rare USING (gram)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i_n
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(i_n AS DOUBLE) / (sa.n + sb.n - i_n) AS jaccard
        |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |WHERE CAST(i_n AS DOUBLE) / (sa.n + sb.n - i_n) >= 0.5""".stripMargin)),

    // SUBSTRING-level near-dup via shared winnow fingerprints — the MOSS
    // overlap detector: word-gram Jaccard misses partial CONTAINMENT (one
    // document embedding a long passage of another, where overall
    // similarity stays low). The overlap measure is containment —
    // shared fingerprints / min(doc fingerprints) — which is ~1 for a
    // contained passage regardless of the containing document's length;
    // raw shared-count is meaningless at k=8 chars (common words collide
    // constantly). Candidate generation is a fingerprint-key equi-join
    // over the SHARED winnow materialization (never all-pairs),
    // df-guarded like the gram join so one boilerplate substring cannot
    // blow up a join key.
    QueryDef("dedup_winnow_pairs",
      (s, d) => {
        val fps = TextQueries.winnowFps(s, d)
        val dfs = fps.groupBy("fp").agg(count(lit(1)).as("fp_df"))
        // denominator universe: df-guarded fps (hot-substring cap),
        // applied as an ANTI-join against the HOT fingerprints — the
        // kept set is nearly all fps and grows with the corpus, the hot
        // set is bounded boilerplate (instances/MaxGramDf), so the gate
        // broadcasts and fps never shuffles to be filtered
        val hotFps = dfs.filter(col("fp_df") > MaxGramDf).select("fp")
        val sz = fps.join(broadcast(hotFps), "fp", "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("n"))
        // join universe: additionally drop SINGLETON fps — a df=1
        // fingerprint cannot produce a pair, and in random text most fps
        // are singletons, so this cuts the self-join input by an order of
        // magnitude without changing a single output row
        val pairable = dfs
          .filter(col("fp_df") >= 2 && col("fp_df") <= MaxGramDf)
          .select("fp")
        val g = fps.join(pairable, "fp")
        val a = g.select(col("doc_id").as("doc_a"), col("fp"))
        val b = g.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
        a.join(b, col("fp") === col("fp_b") && col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared"))
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
          .withColumn("containment",
            col("n_shared").cast("double") / least(col("n_a"), col("n_b")))
          .filter(col("containment") >= 0.5)
          .select(col("doc_a"), col("doc_b"),
            col("n_shared").cast("long").as("n_shared"), col("containment"))
      },
      Some(s"""${TextQueries.WinnowFpsSql},
        |dfs AS (SELECT fp, count(*) AS fp_df FROM wfp GROUP BY fp),
        |kept AS (SELECT fp FROM dfs WHERE fp_df <= $MaxGramDf),
        |sz AS (SELECT doc_id, count(*) AS n
        |  FROM wfp JOIN kept USING (fp) GROUP BY doc_id),
        |pairable AS (SELECT fp FROM dfs WHERE fp_df BETWEEN 2 AND $MaxGramDf),
        |gg AS (SELECT doc_id, fp FROM wfp JOIN pairable USING (fp)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM gg a JOIN gg b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) AS containment
        |FROM pairs JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |WHERE CAST(n_shared AS DOUBLE) / least(sa.n, sb.n) >= 0.5""".stripMargin)),

    // Duplicate CLUSTERS: the transitive closure of the verified near-dup
    // pairs. Pairwise removal over-keeps — a~b and b~c make {a,b,c} one
    // duplicate group even when a~c never surfaced as a pair (MinHash
    // banding is probabilistic), so real corpus dedup groups pairs into
    // connected components and keeps ONE representative (min doc_id) per
    // component. Computed by graft.operators.ConnectedComponents:
    // label propagation + pointer jumping, O(log diameter) rounds, one
    // scalar per round on the driver. The DuckDB oracle walks the same
    // graph with a recursive CTE (min reachable id per vertex) — a
    // different algorithm arriving at the identical fixpoint, which makes
    // it a genuine cross-check rather than a re-run.
    QueryDef("dedup_clusters",
      (s, d) => clusterAssignments(s, d),
      Some(s"""${NearDupSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS w FROM ndup
        |  UNION SELECT doc_b, doc_a FROM ndup),
        |verts AS MATERIALIZED (SELECT DISTINCT u AS v FROM edges),
        |reach(v, r) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT rc.v, e.w FROM reach rc JOIN edges e ON e.u = rc.r),
        |rep AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
        |FROM rep""".stripMargin)),

    // INCREMENTAL dedup: admit a new batch against an already-indexed
    // corpus without re-reading corpus text. At 100 TB you never re-dedup
    // the whole corpus per arriving batch — you keep a signature index
    // (content digest + MinHash band values, exactly what the shared
    // materializations above are) and join the batch's signatures against
    // it: the corpus-sized side is touched once and ONLY through its
    // index; the batch side is tiny and broadcast. Batch = doc_id % 10 == 9
    // (a scale-free stand-in for "today's crawl"). Verdicts:
    // exact_dup (digest collision), near_dup_candidate (band collision —
    // the S-curve recall stage; a full pipeline would Jaccard-verify these
    // against the matched docs only), else admit. match_id = the lowest
    // colliding corpus doc.
    QueryDef("dedup_incremental",
      (s, d) => {
        val isBatch = col("doc_id") % 10 === 9
        val hashes = table(s, d, "documents")
          .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        val bH = hashes.filter(isBatch)
        val ex = hashes.filter(!isBatch)
          .select(col("h"), col("doc_id").as("cid"))
          .join(broadcast(bH), "h")
          .groupBy("doc_id").agg(min("cid").as("ex_m"))
        val bands = minhashBands(s, d)
        val nb = bands.filter(!isBatch)
          .select(col("band"), col("bv"), col("doc_id").as("cid"))
          .join(broadcast(bands.filter(isBatch)), Seq("band", "bv"))
          .groupBy("doc_id").agg(min("cid").as("nb_m"))
        bH.select("doc_id")
          .join(ex, Seq("doc_id"), "left")
          .join(nb, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("ex_m").isNotNull, lit("exact_dup"))
              .when(col("nb_m").isNotNull, lit("near_dup_candidate"))
              .otherwise(lit("admit")).as("verdict"),
            coalesce(col("ex_m"), col("nb_m")).as("match_id"))
      },
      Some(s"""$MinhashBandsSql,
        |hs AS (SELECT doc_id, sha256(text) AS h FROM documents),
        |ex AS (SELECT b.doc_id, min(c.doc_id) AS ex_m
        |  FROM hs b JOIN hs c ON b.h = c.h
        |  WHERE b.doc_id % 10 = 9 AND c.doc_id % 10 <> 9 GROUP BY 1),
        |nb AS (SELECT b.doc_id, min(c.doc_id) AS nb_m
        |  FROM bands b JOIN bands c ON b.band = c.band AND b.bv = c.bv
        |  WHERE b.doc_id % 10 = 9 AND c.doc_id % 10 <> 9 GROUP BY 1)
        |SELECT b.doc_id,
        |  CASE WHEN ex.ex_m IS NOT NULL THEN 'exact_dup'
        |       WHEN nb.nb_m IS NOT NULL THEN 'near_dup_candidate'
        |       ELSE 'admit' END AS verdict,
        |  COALESCE(ex.ex_m, nb.nb_m) AS match_id
        |FROM hs b
        |LEFT JOIN ex ON b.doc_id = ex.doc_id
        |LEFT JOIN nb ON b.doc_id = nb.doc_id
        |WHERE b.doc_id % 10 = 9""".stripMargin)),

    // Recall audit for the TEXT LSH path (the twin of ann_recall_audit on
    // the embedding side): on a bounded 500-doc sample, the exact
    // character-5-shingle Jaccard (the similarity MinHash approximates —
    // same substr(1,200), same stride-2 shingling as the signatures) is
    // the ground truth; how many true (J >= 0.5) pairs do the 4×4 band
    // candidates surface? Run whenever (bands, rows) change — the S-curve
    // moving under you becomes a number, not a guess. The sample self-join
    // is O(500²) worst case — an audit fixture, deliberately bounded, like
    // the embedding probe.
    QueryDef("dedup_recall_audit",
      (s, d) => {
        val samp = table(s, d, "documents").filter(col("doc_id") < 500)
          .select(col("doc_id"), substring(col("text"), 1, 200).as("t"))
        val sh = samp.select(col("doc_id"),
          explode(when(length(col("t")) >= 5,
              expr("transform(sequence(1, length(t) - 4, 2)," +
                " i -> substring(t, i, 5))"))
            .otherwise(array().cast("array<string>"))).as("shingle"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
          .join(sh.select(col("doc_id").as("doc_b"),
            col("shingle").as("sh_b")),
            col("shingle") === col("sh_b") && col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i_n"))
        val tru = inter
          .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
            "doc_a")
          .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
            "doc_b")
          .filter(col("i_n").cast("double") /
            (col("n_a") + col("n_b") - col("i_n")) >= 0.5)
          .select("doc_a", "doc_b")
        val cand = minhashCandidates(s, d)
          .filter(col("doc_a") < 500 && col("doc_b") < 500)
          .select(col("doc_a").as("c_a"), col("doc_b").as("c_b"))
        tru.join(cand,
            col("doc_a") === col("c_a") && col("doc_b") === col("c_b"),
            "left")
          .agg(count(lit(1)).cast("long").as("total_true"),
            sum(when(col("c_a").isNotNull, 1L).otherwise(0L))
              .cast("long").as("found"))
          .select(col("total_true"), col("found"),
            when(col("total_true") === 0, lit(0.0))
              .otherwise(col("found").cast("double") /
                col("total_true").cast("double")).as("recall"))
      },
      Some(s"""$MinhashCandSql,
        |samp AS (SELECT doc_id, substr(text, 1, 200) AS t
        |  FROM documents WHERE doc_id < 500),
        |shs AS (SELECT DISTINCT doc_id, substr(t, i, 5) AS shingle
        |  FROM (SELECT doc_id, t,
        |        unnest(range(1, greatest(len(t) - 3, 1), 2)) AS i FROM samp)),
        |sz AS (SELECT doc_id, count(*) AS n FROM shs GROUP BY 1),
        |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS i_n
        |  FROM shs a JOIN shs b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |tru AS (SELECT doc_a, doc_b FROM tp
        |  JOIN sz sa ON sa.doc_id = tp.doc_a
        |  JOIN sz sb ON sb.doc_id = tp.doc_b
        |  WHERE CAST(i_n AS DOUBLE) / (sa.n + sb.n - i_n) >= 0.5),
        |fnd AS (SELECT t.doc_a FROM tru t JOIN cand c
        |  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        |  WHERE c.doc_a < 500 AND c.doc_b < 500)
        |SELECT CAST((SELECT count(*) FROM tru) AS BIGINT) AS total_true,
        |  CAST((SELECT count(*) FROM fnd) AS BIGINT) AS found,
        |  CASE WHEN (SELECT count(*) FROM tru) = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE CAST((SELECT count(*) FROM fnd) AS DOUBLE)
        |      / (SELECT count(*) FROM tru) END AS recall""".stripMargin)),

    // Cluster-based curation: quality gate → exact dedup → keep ONE
    // representative (the min doc_id) per near-dup CLUSTER. Strictly
    // stronger than the pairwise form (corpus_curation): when a~c and b~c
    // surfaced but a~b never did, pairwise removal keeps both a and b —
    // the transitive closure keeps only a. Reuses the persisted cluster
    // assignment (cluster_id IS the component min, so non-representatives
    // are exactly the rows with doc_id != cluster_id, a map-side filter).
    QueryDef("corpus_curation_clustered",
      (s, d) => {
        val nonRep = clusterAssignments(s, d)
          .filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id")
        table(s, d, "documents")
          .filter(size(split(col("text"), " ")) >= 10)
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .join(nonRep, Seq("doc_id"), "left_anti")
          .select("doc_id")
      },
      Some(s"""${NearDupSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS w FROM ndup
        |  UNION SELECT doc_b, doc_a FROM ndup),
        |verts AS MATERIALIZED (SELECT DISTINCT u AS v FROM edges),
        |reach(v, r) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT rc.v, e.w FROM reach rc JOIN edges e ON e.u = rc.r),
        |rep AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
        |nonrep AS (SELECT doc_id FROM rep WHERE doc_id <> cluster_id),
        |q AS (SELECT doc_id, sha256(text) AS h FROM documents
        |  WHERE len(string_split(text, ' ')) >= 10),
        |k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY h)
        |SELECT doc_id FROM k
        |WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)""".stripMargin))
  )
}

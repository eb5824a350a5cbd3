package graft

import org.apache.spark.sql.functions._

/** The corpus-level curation extensions: deterministic mixture sampling
  * and benchmark decontamination.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("mix sample hits its per-stratum rates, deterministically") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val totals = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val sampled = SparkEntry.queries("corpus_mix_sample")(spark, dir)
    val got = sampled.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val expected = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25,
      "es" -> 0.125, "zh" -> 0.125)
    expected.foreach { case (lang, rate) =>
      val n = totals(lang).toDouble
      val k = got.getOrElse(lang, 0L).toDouble
      // hash-gated Bernoulli: allow 4 sigma around the configured rate
      val sd = math.sqrt(rate * (1 - rate) * n)
      assert(math.abs(k - rate * n) <= 4 * sd + 1,
        s"$lang sampled $k of $n, expected ~${rate * n}")
    }
    // determinism: the same rows come back on a second run
    val a = sampled.select("doc_id").as[Long].collect().toSeq
    val b = SparkEntry.queries("corpus_mix_sample")(spark, dir)
      .select("doc_id").as[Long].collect().toSeq
    assert(a == b)
  }

  test("decontamination flags exactly the docs sharing an eval 8-gram") {
    val out = SparkEntry.queries("corpus_decontaminate")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(out.nonEmpty) // the planted near-dup pairs cross the boundary
    assert(out.keys.forall(_ >= 20)) // eval docs are never self-flagged
    assert(out.values.forall(_ >= 1))
    // independent witness for the top hit: its text shares a literal
    // 8-word window with some eval doc
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", split($"text", " ").as("ws")).as[(Long, Seq[String])]
      .collect().toMap
    val flagged = out.maxBy(_._2)._1
    val evalGrams = docs.filter(_._1 < 20).values
      .flatMap(ws => ws.sliding(8).filter(_.size == 8).map(_.mkString(" ")))
      .toSet
    val hit = docs(flagged).sliding(8).filter(_.size == 8)
      .map(_.mkString(" ")).exists(evalGrams.contains)
    assert(hit, s"doc $flagged flagged but shares no eval 8-gram")
  }

  test("semantic dedup drops exactly the vectors with a lower-id similar neighbor") {
    val out = SparkEntry.queries("dedup_semantic")(spark, dir)
      .select($"vec_id", $"list_id", $"kept")
      .as[(Long, Long, Long)].collect()
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.length == n) // every vector gets a verdict
    // the smallest id of every cluster has no smaller neighbor: always kept
    out.groupBy(_._2).foreach { case (list, vs) =>
      val minVec = vs.minBy(_._1)
      assert(minVec._3 == 1L, s"list $list min vec ${minVec._1} not kept")
    }
    // survivor property: no two KEPT vectors in one list are similar —
    // the larger of such a pair would have been dropped
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val keptDf = out.filter(_._3 == 1L).map(v => (v._1, v._2)).toSeq
      .toDF("vec_id", "list_id").join(emb, "vec_id")
    val a = keptDf.select($"list_id", $"vec_id".as("va"), $"embedding".as("ea"))
    val b = keptDf.select($"list_id".as("lb"), $"vec_id".as("vb"),
      $"embedding".as("eb"))
    val similarKept = a.join(b, $"list_id" === $"lb" && $"va" < $"vb")
      .filter(expr("quant_cosine_sim(ea, eb)") >= 0.4)
    assert(similarKept.count() == 0,
      "two kept vectors in the same list are near-duplicates")
    // and at least one vector was actually dropped (fixture has near-dups)
    assert(out.exists(_._3 == 0L), "no duplicates dropped — dead fixture?")
  }

  test("lm score is a probability average and separates repeated text") {
    val out = SparkEntry.queries("text_lm_score")(spark, dir)
      .select($"doc_id", $"n_bigrams", $"avg_ppm")
      .as[(Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", split($"text", " ").as("w"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, w) => id -> w.filter(_.nonEmpty) }.toMap
    // exactly the docs with >= 2 tokens are scored
    assert(out.map(_._1).toSet == docs.filter(_._2.length >= 2).keySet)
    out.foreach { case (id, n, pm) =>
      assert(n == docs(id).length - 1, s"doc $id bigram count")
      // an average of ppm probabilities lives in [0, 1e6]
      assert(pm >= 0 && pm <= 1000000L, s"doc $id avg_ppm $pm out of range")
    }
    // the signal must actually discriminate: repeated spans (planted
    // near-dups) push bigram probabilities up, unique text sits at the
    // floor — a constant score column would be a dead model
    val distinctScores = out.map(_._3).distinct.length
    assert(distinctScores > out.length / 10,
      s"only $distinctScores distinct scores across ${out.length} docs")
  }

  test("probe-bounded contrastive mining: positives exact, negatives audited") {
    import graft.queries.SimilarityQueries
    val exact = SimilarityQueries.contrastiveExactForTest(spark, dir)
      .select($"anchor_id", $"pair_id", $"role", $"rank")
      .as[(Long, Long, String, Long)].collect().toSet
    val probe = SimilarityQueries.contrastiveProbeForTest(spark, dir)
      .select($"anchor_id", $"pair_id", $"role", $"rank")
      .as[(Long, Long, String, Long)].collect().toSet
    // positives are identical by construction: the anchor's own list is
    // probe rank 1, and 'pos' candidates are that list's members in both
    // paths — any drift here means the probe ranking diverged from the
    // shared assignment
    assert(exact.filter(_._3 == "pos") == probe.filter(_._3 == "pos"))
    // negatives: the probe path returns a full top-2 per anchor (the
    // probed lists always contain >= 2 foreign vectors on this fixture)
    // and every probe negative that IS in the exact set keeps its rank
    val anchors = exact.map(_._1)
    anchors.foreach { a =>
      assert(probe.count(p => p._1 == a && p._3 == "neg") == 2,
        s"anchor $a probe negatives")
    }
    // the audit query agrees with the set arithmetic computed here
    val Array((total, found, recall)) =
      SparkEntry.queries("corpus_contrastive_recall")(spark, dir)
        .as[(Long, Long, Double)].collect()
    val exactNeg = exact.filter(_._3 == "neg").map(t => (t._1, t._2))
    val probeNeg = probe.filter(_._3 == "neg").map(t => (t._1, t._2))
    assert(total == exactNeg.size.toLong)
    assert(found == exactNeg.intersect(probeNeg).size.toLong)
    assert(recall >= 0.0 && recall <= 1.0 &&
      math.abs(recall - found.toDouble / total) < 1e-12)
  }

  test("contrastive positives stay exact in the multi-level descent regime") {
    import graft.queries.SimilarityQueries
    // 10k vectors -> ivfLists = 80 > FlatKMax -> two-level descent: the
    // corpus assignment walks the IMI tree while the mining probe ranks
    // flat over the flattened codebook. This is the regime where, without
    // the anchor's assigned list unioned into the probe set, an anchor's
    // own list can fall outside its flat top-nprobe and its positives
    // silently vanish — the fixture-scale test above (k = 16, flat)
    // cannot catch that.
    val tmp = java.nio.file.Files.createTempDirectory("graft-imi2").toFile
    val dims = 16
    val vecs = spark.range(10000).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${dims - 1}),
        d -> CAST(pmod(vec_id * 37 + d * 101, 97) - 48 AS FLOAT))""")
        .as("embedding"))
    vecs.write.parquet(s"${tmp.getPath}/embeddings.parquet")
    val d = tmp.getPath
    // the regime actually engaged: assert the CONFIGURED list count puts
    // the quantizer past the flat cap (imiDepth >= 2), not a distinct-
    // assignment count — Lloyd can leave lists empty, so the proxy could
    // dip under the threshold on a changed fixture/seed while the
    // descent machinery is still engaged
    val k = SimilarityQueries.ivfListsForTest(spark, d)
    assert(SimilarityQueries.imiDepth(k) >= 2,
      s"expected multi-level regime, got k=$k (depth " +
        s"${SimilarityQueries.imiDepth(k)})")
    val exactPos = SimilarityQueries.contrastiveExactForTest(spark, d)
      .filter($"role" === "pos")
      .select($"anchor_id", $"pair_id", $"rank")
      .as[(Long, Long, Long)].collect().toSet
    val probePos = SimilarityQueries.contrastiveProbeForTest(spark, d)
      .filter($"role" === "pos")
      .select($"anchor_id", $"pair_id", $"rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(exactPos == probePos,
      s"positive drift under two-level descent: exact ${exactPos.size}, " +
        s"probe ${probePos.size}")
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The test harness's session is built by `GraftSession.session`, so it
  * carries what every main's session carries. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the tuned settings, UTC and its 4/4 width") {
    val conf = spark.conf
    assert(conf.get("spark.io.compression.codec") == GraftSession.ioCodec)
    assert(conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") ==
      "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  /** 60 documents and 60 16-d unit vectors, every fifth from the tenth on
    * a near copy of an earlier row, so every banded join finds pairs. */
  private def writeFixture(dir: String): Unit = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val vocab = Seq("data", "row", "key", "join", "hash", "scan", "sort",
      "group", "merge", "table", "spark", "vector")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 60).foreach { i =>
      texts += (
        if (i >= 10 && i % 5 == 0) {
          val w = texts(r.nextInt(texts.size)).split(" ")
          w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(30))(vocab(r.nextInt(vocab.size)))
          .mkString(" "))
    }
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    (0 until 60).foreach { i =>
      vecs += (
        if (i >= 10 && i % 5 == 0)
          vecs(r.nextInt(vecs.size)).map(_ + 0.01 * r.nextGaussian())
        else Array.fill(16)(r.nextGaussian()))
    }
    vecs.toSeq.zipWithIndex.map { case (v, i) =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat))
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }

  // Spark sizes its codegen cache once per JVM, from the session conf
  // active when CodeGenerator first loads: in this JVM that is the first
  // codegen of whichever suite runs first, on the shared test session, so
  // the size this case sees is GraftSession.CodegenCacheEntries. With
  // Spark's default 100 entries the four queries' ~160 classes cycle
  // through the LRU and the second pass recompiles about as much as the
  // first.
  test("a repeated query set recompiles almost nothing") {
    val dir = tmpDir("codegen-cache")
    writeFixture(dir)
    val names = Seq("dedup_minhash_lsh", "dedup_simhash_pairs",
      "dedup_embedding_lsh", "multimodal_phash")
    def pass(): Long = {
      graft.queries.Q.release(spark)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.queries(n)(spark, dir).foreach(_ => ()))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    assert(first > 0)
    // a quarter, not zero: AQE can renumber a few codegen stages
    assert(second * 4 <= first,
      s"the second pass compiled $second classes, the first $first")
  }
}

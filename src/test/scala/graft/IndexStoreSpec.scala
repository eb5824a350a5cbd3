package graft

import graft.operators.IndexStore
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The disk-backed trained-index store: artifacts persist across "JVMs"
  * (modeled as fresh cache roots vs reused ones), hit without rebuilding,
  * and are invalidated — stale files removed — when the fixture content
  * (scale or seed) changes.
  */
class IndexStoreSpec extends SparkSpec {

  private def tmpRoot(): File =
    Files.createTempDirectory("graft-ixs-").toFile

  test("digest is content-defined: stable across row order and projection order, changed by content") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    val shuffled = Seq((3L, "z"), (1L, "x"), (2L, "y")).toDF("id", "v")
      .repartition(3)
    val reordered = shuffled.select(col("v"), col("id"))
    val changed = Seq((1L, "x"), (2L, "y"), (3L, "w")).toDF("id", "v")
    val grown = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "q"))
      .toDF("id", "v")
    val da = IndexStore.digestOf(a)
    assert(da == IndexStore.digestOf(shuffled),
      "row order must not change the digest")
    assert(da == IndexStore.digestOf(reordered),
      "column order must not change the digest")
    assert(da != IndexStore.digestOf(changed),
      "a changed value (new seed) must change the digest")
    assert(da != IndexStore.digestOf(grown),
      "a changed row count (new scale) must change the digest")
  }

  test("hit reads from disk without rebuilding; keys coexist to the LRU cap, then evict oldest") {
    import spark.implicits._
    val root = tmpRoot()
    var builds = 0
    def build(tag: String) = {
      builds += 1
      Seq((1L, tag), (2L, tag)).toDF("id", "src")
    }
    val first = IndexStore.cached(spark, "ix", "k1", root)(build("v1"))
    assert(builds == 1 && first.count() == 2)
    // same key: disk hit, the builder must NOT run again
    val again = IndexStore.cached(spark, "ix", "k1", root)(build("v2"))
    assert(builds == 1, "a hit must not rebuild")
    assert(again.select("src").distinct().as[String].collect()
      .toSeq == Seq("v1"), "the hit must serve the ORIGINAL artifact")
    // a second fixture key rebuilds — and COEXISTS with the first (the
    // multi-scale sweep shape: sf0.001 specs / sf0.01 verify / sf0.1
    // bench must not destroy each other's trained artifacts)
    val rebuilt = IndexStore.cached(spark, "ix", "k2", root)(build("v3"))
    assert(builds == 2, "a key change must rebuild")
    assert(rebuilt.select("src").distinct().as[String].collect()
      .toSeq == Seq("v3"))
    def names() = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    assert(names().contains("ix-k1") && names().contains("ix-k2"),
      s"keys under the cap must coexist (saw ${names()})")
    // k1 was used MOST recently of the two older keys after this hit
    // (recency is millis-content in the _RECENCY sidecar, not dir mtime,
    // so a few ms of separation suffices):
    Thread.sleep(5)
    IndexStore.cached(spark, "ix", "k1", root)(build("v5"))
    assert(builds == 2, "recency refresh must be a hit")
    // push past the cap: k2 is now least recently used and must evict
    Thread.sleep(5)
    IndexStore.cached(spark, "ix", "k3", root)(build("v6"))
    Thread.sleep(5)
    IndexStore.cached(spark, "ix", "k4", root)(build("v7"))
    Thread.sleep(5)
    IndexStore.cached(spark, "ix", "k5", root)(build("v8"))
    assert(!names().contains("ix-k2"),
      s"LRU key beyond the cap must evict (saw ${names()})")
    assert(Seq("k1", "k3", "k4", "k5").forall(k => names().contains(s"ix-$k")),
      s"the ${IndexStore.MaxKeysPerName} most recent keys must survive (saw ${names()})")
    // other artifacts under the same root are untouched by ix's turnover
    IndexStore.cached(spark, "other", "k9", root)(build("o1"))
    IndexStore.cached(spark, "ix", "k6", root)(build("v9"))
    assert(names().contains("other-k9"),
      "unrelated artifacts must survive another artifact's eviction")
  }

  test("eviction never claims a sibling artifact whose name extends another") {
    import spark.implicits._
    val root = tmpRoot()
    def build(tag: String) = Seq((1L, tag)).toDF("id", "src")
    // 'ix-sub-k9' starts with 'ix-' — a prefix-based eviction filter
    // would count it among artifact 'ix' keys and could delete it
    IndexStore.cached(spark, "ix-sub", "k9", root)(build("s1"))
    (1 to IndexStore.MaxKeysPerName + 2).foreach { i =>
      Thread.sleep(5)
      IndexStore.cached(spark, "ix", s"k$i", root)(build(s"v$i"))
    }
    val names = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    assert(names.contains("ix-sub-k9"),
      s"sibling artifact must survive ix's key turnover (saw $names)")
    assert(!names.contains("ix-k1"),
      s"ix's own oldest key must still evict (saw $names)")
  }

  test("an algorithm-version bump is a miss; the same version is a hit") {
    import spark.implicits._
    val root = tmpRoot()
    var builds = 0
    def build(tag: String) = { builds += 1; Seq((1L, tag)).toDF("id", "src") }
    def src(df: org.apache.spark.sql.DataFrame) =
      df.select("src").as[String].collect().toSeq
    // same fixture key throughout: only the trainer's version changes
    assert(src(IndexStore.cached(spark, "ix", "k", root, version = 1)(build("v1")))
      == Seq("v1"))
    assert(src(IndexStore.cached(spark, "ix", "k", root, version = 1)(build("again")))
      == Seq("v1") && builds == 1, "the same version must be a disk hit")
    assert(src(IndexStore.cached(spark, "ix", "k", root, version = 2)(build("v2")))
      == Seq("v2") && builds == 2,
      "a version bump must miss and retrain, not serve the old artifact")
    assert(src(IndexStore.cached(spark, "ix", "k", root, version = 2)(build("again")))
      == Seq("v2") && builds == 2)
    // the unversioned key is its own entry too
    assert(src(IndexStore.cached(spark, "ix", "k", root)(build("v0"))) == Seq("v0")
      && builds == 3)
  }

  test("round-trip is value-exact for long and double columns") {
    import spark.implicits._
    val root = tmpRoot()
    val src = Seq((1L, 0.1, Long.MaxValue), (2L, -3.25e-17, Long.MinValue))
      .toDF("id", "x", "big")
    val back = IndexStore.cached(spark, "rt", "k", root)(src)
    assert(back.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
  }
}

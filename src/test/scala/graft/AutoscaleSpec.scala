package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Autoscale

/** The input-derived shuffle-width formula (round-12 task: the automatic
  * form of the manual x300 spill dial). Pins the three properties the
  * measurement mains rely on: standard fixtures floor at the core count
  * (standard sweeps unchanged), the x300-sized input lands at or above
  * the measured zero-spill dial, and widths are whole waves of cores.
  */
class AutoscaleSpec extends AnyFunSuite {

  test("small inputs floor at the core count (standard sweeps unchanged)") {
    // the sf0.1 fixture is ~18 MB — well under 32 cores × 8 MB
    assert(Autoscale.shufflePartitions(18L << 20, 32) === 32)
    assert(Autoscale.shufflePartitions(0L, 32) === 32)
    assert(Autoscale.shufflePartitions(1L, 32) === 32)
  }

  test("x300-sized input reaches the measured zero-spill dial") {
    // round 11 measured the gram family spill-free at 256 partitions on
    // the ~GBs x300 fixture; anything >= 256 with AQE coalescing holds
    val gb = 1L << 30
    assert(Autoscale.shufflePartitions(2 * gb, 32) >= 256)
    assert(Autoscale.shufflePartitions(4 * gb, 32) >= 256)
  }

  test("widths are whole waves of the core count") {
    for (bytes <- Seq(100L << 20, 500L << 20, 1L << 30, 7L << 30);
         cpus <- Seq(4, 32)) {
      val n = Autoscale.shufflePartitions(bytes, cpus)
      assert(n % cpus === 0, s"bytes=$bytes cpus=$cpus -> $n")
      assert(n >= cpus)
    }
  }

  test("monotone in input bytes and capped") {
    val widths = Seq(1L << 20, 1L << 30, 10L << 30, 100L << 30, 1L << 50)
      .map(Autoscale.shufflePartitions(_, 32))
    assert(widths === widths.sorted)
    assert(widths.last === Autoscale.MaxPartitions)
  }

  test("ceil division: one byte over a partition boundary adds a wave") {
    val t = Autoscale.TargetBytesPerPartition
    // 32 partitions' worth exactly -> 32; one byte more -> next wave
    assert(Autoscale.shufflePartitions(32 * t, 32) === 32)
    assert(Autoscale.shufflePartitions(32 * t + 1, 32) === 64)
  }

  test("dirBytes sums regular files and returns 0 for missing paths") {
    val d = java.nio.file.Files.createTempDirectory("graft-as-").toFile
    try {
      val sub = new java.io.File(d, "sub"); sub.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "a").toPath,
        Array.fill[Byte](10)(1))
      java.nio.file.Files.write(new java.io.File(sub, "b").toPath,
        Array.fill[Byte](22)(1))
      assert(Autoscale.dirBytes(d.getPath) === 32L)
      assert(Autoscale.dirBytes(d.getPath + "/nope") === 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      rm(d)
    }
  }
}

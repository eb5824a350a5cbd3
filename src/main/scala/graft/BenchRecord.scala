package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Persists one JSON record line of a measuring main (Bench, Calibrate,
  * CorpusBuild, AdmissionBench) as `<kind>-<epoch ms>.json` under
  * `SPARK_GRAFT_BENCH_DIR` (default `bench` in the working directory).
  * Timestamped names only: a record never overwrites another.
  */
object BenchRecord {

  /** The written path, or None after a `[tag] persist failed` line on
    * stderr — persisting is best-effort and never fails the run. */
  def write(kind: String, line: String, tag: String): Option[String] =
    try {
      val dir = new File(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench"))
      dir.mkdirs()
      val f = new File(dir, s"$kind-${System.currentTimeMillis()}.json")
      Files.write(f.toPath, (line + "\n").getBytes(StandardCharsets.UTF_8))
      Some(f.getPath)
    } catch { case e: Exception =>
      System.err.println(s"[$tag] persist failed: ${e.getMessage}")
      None
    }
}

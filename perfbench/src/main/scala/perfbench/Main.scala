package perfbench

import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One workload of the product-path benchmark. `setup` is timed and run
  * five times per invocation (each into a fresh directory; the median is
  * reported as `setup_s`); `warm` runs once, untimed, on the state that is
  * measured (a first pass through the cold serving path); `measure` runs
  * one closed or open loop for the given seconds and returns its
  * end-to-end values and, when the tracer is on, its per-layer values;
  * `finish` runs the untimed output checks. */
trait Workload {
  type State
  def setup(run: Run, round: Int): State
  def warm(run: Run, st: State): Unit
  def dispose(run: Run, st: State): Unit
  def measure(run: Run, st: State, seconds: Double): Window
  def finish(run: Run, st: State): Unit
}

final case class Window(e2e: Map[String, Double], layers: Map[String, Double])

/** Per-invocation context: session, tracer, work dir, and the result the
  * workload fills in. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val work: File) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Inputs for the output checks done outside the JVM (ingest outcome
    * and query oracles). */
  val oracle = mutable.LinkedHashMap.empty[String, Any]
  @volatile var sparkListener: Option[SparkLayerListener] = None

  /** One line per harness phase on stderr, with seconds since JVM start, so
    * a failing run reads from the tail of its log. */
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2fs $what")

  def dir(name: String): File = { val f = new File(work, name); f.mkdirs(); f }

  def fail(what: String): Unit = synchronized { failed += 1; failures += what; () }
  def attempt(n: Long = 1): Unit = synchronized { attempted += n }

  /** Drain the listener bus so counters cover every finished job. */
  def drain(): Unit =
    org.apache.spark.sql.GraftInternal.drainListenerBus(spark, 10000L)

  /** Whole-run Spark counters of the traced window. */
  def sparkLayer(prefix: String = "spark"): Map[String, Double] =
    sparkListener.map { l =>
      drain()
      val c = l.total
      Map(s"$prefix.jobs" -> c.jobs.sum.toDouble,
        s"$prefix.tasks" -> c.tasks.sum.toDouble,
        s"$prefix.task_s" -> c.taskNs.sum / 1e9,
        s"$prefix.gc_s" -> c.gcMs.sum / 1e3,
        s"$prefix.shuffle_mb" -> c.shuffleBytes.sum / 1048576.0)
    }.getOrElse(Map.empty)
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "ingest_batch" -> (() => new IngestBatch),
    "status_read" -> (() => new StatusRead),
    "ingest_stream_mixed" -> (() => new StreamMixed),
    "query_sweep" -> (() => new QuerySweep))

  /** Set-ups per invocation. A stream set-up takes 0.1-0.3 s, so the
    * median needs more than three to repeat from run to run. */
  val Setups = 5

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = workloads.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}"))()
    val work = new File(a("work")).getAbsoluteFile
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    sys.props("graft.index.dir") = new File(work, "index").getPath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(enabled = false)
    tracer.spark = Some(spark)
    val run = new Run(spark, tracer, a("seed").toLong, work)
    run.phase("session ready")

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    try {
      // five timed set-ups, each disposed before the next starts; the
      // last one's state is warmed and measured
      val setups = (1 to Setups).map { i =>
        val t0 = System.nanoTime()
        val st = workload.setup(run, i)
        val dt = (System.nanoTime() - t0) / 1e9
        if (i < Setups) workload.dispose(run, st)
        run.phase(f"setup $i: $dt%.3fs")
        (dt, st)
      }
      val st = setups.last._2
      e2e("setup_s") = Stats.median(setups.map(_._1))
      workload.warm(run, st)
      run.phase("warm")
      // each window starts from a collected heap, not from set-up's garbage
      System.gc()
      if (traced) {
        // the same window as an untraced run of the same seed, with the
        // listeners and spans on; run.py states the difference of the two
        // runs' end-to-end values as the tracing overhead
        val l = new SparkLayerListener(tracer)
        spark.sparkContext.addSparkListener(l)
        run.sparkListener = Some(l)
        tracer.enabled = true
      }
      val w = workload.measure(run, st, seconds)
      tracer.enabled = false
      e2e ++= w.e2e
      if (traced) {
        layers ++= w.layers ++ run.sparkLayer()
        tracer.selfTimes.toSeq.sortBy(_._1).foreach { case (n, (cnt, tot, self)) =>
          layers(s"self_s.$n") = self
          layers(s"spans.$n") = cnt.toDouble
          layers(s"busy_s.$n") = tot
        }
        writeSpans(new File(work, "spans.jsonl"), tracer)
      }
      run.phase("measured")
      workload.finish(run, st)
      run.phase("checked")
    } catch {
      case e: Throwable =>
        run.fail(s"harness: $e")
        e.printStackTrace()
    }
    layers("jvm.peak_rss_mb") = peakRssMb
    val host = Map(
      "nproc" -> cpus,
      "mem_total_kb" -> memTotalKb,
      "jdk" -> sys.props("java.version"),
      "spark" -> spark.version)
    val out = Map(
      "workload" -> a("workload"), "seed" -> run.seed, "seconds" -> seconds,
      "traced" -> traced,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures.toSeq, "e2e" -> finite(e2e),
      "layers" -> finite(layers), "host" -> host, "oracle" -> run.oracle.toMap)
    Json.mapper.writeValue(new File(a("out")), out)
    spark.stop()
    run.phase("stopped")
  }

  /** Values measured on no samples (NaN) are left out of the result. */
  private def finite(m: collection.Map[String, Double]): Map[String, Double] =
    m.filter(kv => !kv._2.isNaN && !kv._2.isInfinite).toMap

  private def procField(file: String, key: String): Option[Long] =
    scala.util.Try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key))
        .map(_.split("\\s+")(1).toLong)
      finally src.close()
    }.toOption.flatten

  /** Resident-set high-water mark of this JVM, MB. */
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:").getOrElse(0L) / 1024.0
  def memTotalKb: Long = procField("/proc/meminfo", "MemTotal:").getOrElse(0L)

  private def writeSpans(f: File, t: Tracer): Unit = {
    val lines = t.all.map(s => Json.mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
      "req" -> s.req)))
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The JSON writer for the result, span and oracle files. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

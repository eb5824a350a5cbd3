package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * open on the same thread when this one started (0 = none); `req` ties
  * the spans of one request or pass together. Times are epoch nanos taken
  * from one monotonic origin, so spans of different threads line up. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: String)

/** In-memory span recorder. Disabled, `span` runs its body and records
  * nothing, so the untraced run pays one boolean test per boundary.
  *
  * Spark jobs are tied to the span that launched them through the
  * `perfbench.span` local property, which `span` sets on the calling
  * thread for its duration; [[SparkLayerListener]] reads it back from
  * each job's properties. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanos on the monotonic clock. */
  def nowNs: Long = origin + System.nanoTime()

  @volatile var spark: Option[SparkSession] = None
  val SpanProp = "perfbench.span"

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val sc = spark.map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
      stack.set(id :: parents)
      sc.foreach(_.setLocalProperty(SpanProp, id.toString))
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, name, t0, nowNs, parents.headOption.getOrElse(0L), req))
        stack.set(parents)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp))
      }
    }

  def nextId(): Long = ids.incrementAndGet()

  /** Record an interval measured elsewhere (a client request, or a server
    * request whose end is its last Spark job). */
  def record(name: String, startNs: Long, endNs: Long, req: String,
      id: Long = nextId(), parent: Long = 0L): Unit =
    if (enabled) { spans.add(Span(id, name, startNs, endNs, parent, req)); () }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name: a span's duration minus the part of it its
    * child spans cover (children may overlap; their union is removed). */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val all0 = all
    val kids = all0.groupBy(_.parent)
    all0.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
      val self = ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(p => p._2 > p._1).sortBy(_._1)
        var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
      n -> (ss.size, total, self)
    }
  }
}

/** Per-span Spark counters and whole-run totals from job, stage and task
  * events. Registered by the benchmark only in traced runs. */
final class SparkLayerListener(tracer: Tracer) extends SparkListener {
  final class Counts {
    val jobs = new LongAdder; val tasks = new LongAdder
    val taskNs = new LongAdder; val gcMs = new LongAdder
    val shuffleBytes = new LongAdder; val spillBytes = new LongAdder
    val lastJobEndMs = new AtomicLong(0)
  }
  val total = new Counts
  private val bySpan = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()

  def of(span: Long): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.increment()
    val sp = Option(e.properties).flatMap(p =>
      Option(p.getProperty(tracer.SpanProp))).flatMap(_.toLongOption)
    sp.foreach { s =>
      of(s).jobs.increment()
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(s =>
      of(s).lastJobEndMs.accumulateAndGet(e.time, math.max))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val cs = Seq(total) ++ Option(stageSpan.get(e.stageId)).map(of)
    cs.foreach { c =>
      c.tasks.increment()
      if (m != null) {
        c.taskNs.add(m.executorRunTime * 1000000L)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.add(m.diskBytesSpilled)
      }
    }
  }
}

/** Planning time (analysis + optimization + planning phases of each
  * executed query), summed over the run. */
final class PlanningListener extends QueryExecutionListener {
  val planningNs = new LongAdder
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    qe.tracker.phases.values.foreach(p => planningNs.add((p.endTimeMs - p.startTimeMs) * 1000000L))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Trigger-level counters of the streaming query. */
final class TriggerListener extends StreamingQueryListener {
  val durationsMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val inputRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      durationsMs.add(Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      inputRows.add(p.numInputRows)
    }
  }
}

/** Call counts and busy time of one wrapped public function. */
final class CallStats {
  val calls = new LongAdder
  val ns = new LongAdder
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally { calls.increment(); ns.add(System.nanoTime() - t0) }
  }
  def seconds: Double = ns.sum / 1e9
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]; NaN on no samples. */
  def pct(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = q * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

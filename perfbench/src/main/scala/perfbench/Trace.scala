package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over the tasks of a set of jobs. */
final class Counters {
  val jobs, cpuNs, gcMs, scanBytes, shuffleBytes, spillBytes, outBytes = new AtomicLong

  def add(m: TaskMetrics): Unit = {
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    scanBytes.addAndGet(m.inputMetrics.bytesRead)
    shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    outBytes.addAndGet(m.outputMetrics.bytesWritten)
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "task_cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3,
    "scan_bytes" -> scanBytes.get.toDouble,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "out_bytes" -> outBytes.get.toDouble)
}

/** One timed call into a layer. `run` groups the spans of one unit of work. */
final case class Span(id: Int, parent: Int, name: String, run: Int, startNs: Long, startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the Spark listeners that attribute work to spans.
  *
  * Totals over every task are always kept (they give the end-to-end CPU and
  * bytes-written figures). Spans, per-span counters and planning times are
  * kept only when `enabled`. A job is attributed to the span open on the
  * calling thread when it was submitted (a local property carries the span
  * id); a query's analysis + optimization + planning time to the innermost
  * span whose wall interval holds the start of its analysis.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanProp = "perfbench.span"
  val total = new Counters
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, planning ns)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var run = 0
  /** Spans are recorded only while active (trace mode alternates it per unit). */
  var active = enabled

  private def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      total.jobs.incrementAndGet()
      if (enabled) {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toInt).getOrElse(0)
        e.stageIds.foreach(s => stageSpan.put(s, span))
        counters(span).jobs.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        total.add(e.taskMetrics)
        if (enabled) counters(stageSpan.getOrDefault(e.stageId, 0)).add(e.taskMetrics)
      }
  })

  if (enabled) spark.listenerManager.register(new QueryExecutionListener {
    private val phases = Seq("analysis", "optimization", "planning")
    private def record(qe: QueryExecution): Unit = {
      val ps = phases.flatMap(qe.tracker.phases.get)
      if (ps.nonEmpty)
        plans.add((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum * 1000000L))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  })

  /** Blocks until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerBusAccess.drain(sc)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size + 1, open.headOption.fold(0)(_.id), name, run,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Per span: wall `s`, `self_s` (wall minus the wall of its children),
    * `plan_s`, and the task counters — all inclusive of descendants.
    */
  def reduce(): Map[Span, Map[String, Double]] = {
    drain()
    val children = spans.groupBy(_.parent)
    val planNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    plans.asScala.foreach { case (ms, ns) =>
      // the latest-started span holding `ms` is the innermost one
      spans.filter(s => s.startMs <= ms && ms <= s.endMs).lastOption
        .foreach(s => planNs(s.id) += ns)
    }
    def inclusive(s: Span): Map[String, Double] = {
      val own = Option(bySpan.get(s.id)).map(_.snapshot).getOrElse(new Counters().snapshot) +
        ("plan_s" -> planNs(s.id) / 1e9)
      children.getOrElse(s.id, Nil).map(inclusive).foldLeft(own) { (acc, c) =>
        acc.map { case (k, v) => k -> (v + c(k)) }
      }
    }
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      s -> (inclusive(s) ++ Map(
        "s" -> s.seconds,
        "self_s" -> (s.seconds - kids.map(_.seconds).sum)))
    }.toMap
  }

  /** One JSON object per span: identity, interval and its reduced metrics. */
  def spansJsonLines(reduced: Map[Span, Map[String, Double]]): Seq[String] = spans.toSeq.map { s =>
    Main.mapper.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ reduced(s).toSeq.sortBy(_._1))
  }
}

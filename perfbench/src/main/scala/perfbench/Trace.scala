package perfbench

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed interval on the run's clock (ns since the run started).
  * `kind` is "call" for a span the benchmark opened around a call into a
  * layer, "plan" for Catalyst planning read from a query execution's phase
  * tracker, and "job" for a Spark job; the last two get their parent by
  * time containment. */
final case class Span(id: Int, name: String, kind: String, startNs: Long,
    endNs: Long, parent: Int, pass: Int) {
  def durNs: Long = endNs - startNs
}

/** Spans around calls into each layer, kept in memory. Call spans are
  * always recorded (they also give the per-step times of untraced runs);
  * listener spans and exec counters exist only while [[Listeners]] are
  * attached. */
final class Tracer {
  private val t0Ns: Long = System.nanoTime()
  private val wall0Ms: Long = System.currentTimeMillis()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var pass: Int = -1

  def now: Long = System.nanoTime() - t0Ns
  def fromWallMs(ms: Long): Long = (ms - wall0Ms) * 1000000L

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    spans += Span(id, name, "call", now, -1L, stack.headOption.getOrElse(-1), pass)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = now)
    }
  }

  /** Adds a listener-derived span, parented by the innermost call span
    * that contains its start (1 ms slack: listener clocks are in ms). */
  def addDerived(name: String, kind: String, startNs: Long, endNs: Long)
      : Unit = {
    val slack = 1000000L
    val parent = spans.iterator
      .filter(s => s.kind == "call" && s.startNs - slack <= startNs &&
        (s.endNs < 0 || startNs <= s.endNs + slack))
      .foldLeft(Option.empty[Span]) { (best, s) =>
        if (best.forall(_.startNs <= s.startNs)) Some(s) else best }
    spans += Span(spans.length, name, kind, startNs, endNs,
      parent.map(_.id).getOrElse(-1), parent.map(_.pass).getOrElse(pass))
  }

  /** Span duration minus the part of it covered by its call and plan
    * children. Jobs are left out: Spark execution runs under every layer
    * and is reported on its own by the exec counters. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator
      .filter(c => c.parent == s.id && c.kind != "job")
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq
    s.durNs - Tracer.unionNs(kids)
  }

  def toJsonl: Iterator[String] = spans.iterator.map { s =>
    Json.obj(Seq("name" -> s.name, "kind" -> s.kind, "id" -> s.id,
      "parent" -> s.parent, "pass" -> s.pass, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "self_ns" -> selfNs(s)))
  }
}

object Tracer {
  /** Length of the union of half-open intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Task-level totals read from the SparkListener. */
final case class ExecCounters(jobs: Long = 0, tasks: Long = 0,
    runMs: Long = 0, deserMs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0)

/** The traced run's SparkListener and QueryExecutionListener. They are
  * attached only around traced passes, so untraced passes of the same run
  * measure the tracing overhead. */
final class Listeners(spark: SparkSession, tracer: Tracer) {
  private var counters = ExecCounters()
  private val taskIntervalsMs = ArrayBuffer.empty[(Long, Long)]
  private val jobStartMs = scala.collection.mutable.Map.empty[Int, Long]
  private val pendingSpans = ArrayBuffer.empty[(String, String, Long, Long)]
  // the listener bus thread writes, the run's thread reads after a drain
  private val lock = new Object

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      counters = counters.copy(jobs = counters.jobs + 1)
      jobStartMs(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStartMs.remove(e.jobId).foreach(s =>
        pendingSpans += (("exec.job", "job", s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      counters = if (m == null) counters.copy(tasks = counters.tasks + 1)
      else counters.copy(
        tasks = counters.tasks + 1,
        runMs = counters.runMs + m.executorRunTime,
        deserMs = counters.deserMs + m.executorDeserializeTime,
        gcMs = counters.gcMs + m.jvmGCTime,
        inputBytes = counters.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes =
          counters.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes =
          counters.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = counters.spillBytes + m.memoryBytesSpilled +
          m.diskBytesSpilled)
      taskIntervalsMs += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val phases = qe.tracker.phases.filter(_._1 != "parsing").values
      if (phases.nonEmpty) {
        val durMs = phases.map(_.durationMs).sum
        val start = phases.map(_.startTimeMs).min
        pendingSpans += (("plans.plan", "plan", start, start + durMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Delivers every pending event, then detaches. */
  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Moves the spans delivered so far into the tracer and returns the
    * counters and the task-busy time (union of task intervals) since the
    * last call. Call after [[detach]]. */
  def collect(): (ExecCounters, Long) = lock.synchronized {
    pendingSpans.foreach { case (name, kind, s, e) =>
      tracer.addDerived(name, kind, tracer.fromWallMs(s), tracer.fromWallMs(e))
    }
    pendingSpans.clear()
    val busyNs = Tracer.unionNs(taskIntervalsMs.toSeq
      .map { case (a, b) => (tracer.fromWallMs(a), tracer.fromWallMs(b)) })
    taskIntervalsMs.clear()
    val c = counters
    counters = ExecCounters()
    (c, busyNs)
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds (fractional for spans
  * the harness times itself, whole for the ones Spark's listeners report).
  * `op` is the op the span belongs to, -1 until attributed. */
final case class Span(name: String, start: Double, end: Double,
    var parent: Int = -1, var op: Int = -1, id: Int = 0)

/** Per-op counters gathered from the listeners. */
final class OpCounters {
  var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
  var taskMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var filesRead = 0L; var scanRows = 0L
}

/** The trace collector: harness spans around the program's public calls,
  * plus Spark's own view through a `SparkListener` (jobs, stages, tasks, SQL
  * executions) and a `QueryExecutionListener` (planning phases and scan
  * metrics of each executed plan). Everything stays in memory until
  * `finish`, which attributes listener events to ops by time. */
final class Trace(spark: SparkSession) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  /** (op id, wall start, wall end) of every traced op. */
  val ops = ArrayBuffer.empty[(Int, Double, Double)]
  private val stack = scala.collection.mutable.Stack.empty[Int]

  // listener-side records, appended from the listener bus thread
  private val lock = new Object
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val sqlStart = scala.collection.mutable.Map.empty[Long, Long]
  private val listenerSpans = ArrayBuffer.empty[Span]
  private val taskRecs = ArrayBuffer.empty[(Long, Long, Long, Long, Boolean)]
  private val stageRecs = ArrayBuffer.empty[Long]
  private val scanRecs = ArrayBuffer.empty[(Long, Long, Long)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s =>
        listenerSpans += Span("spark.job", s.toDouble, e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stageRecs += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val (run, shuffle, spill) =
        if (m == null) (0L, 0L, 0L)
        else (m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      taskRecs += ((e.taskInfo.finishTime, run, shuffle, spill,
        e.taskInfo.failed || e.taskInfo.killed))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        lock.synchronized { sqlStart(s.executionId) = s.time }
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        sqlStart.remove(x.executionId).foreach(s =>
          listenerSpans += Span("spark.action", s.toDouble, x.time.toDouble))
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val named = Seq("analysis" -> "spark.analyze",
      "optimization" -> "spark.optimize", "planning" -> "spark.plan")
    val ps = named.flatMap { case (k, n) =>
      phases.get(k).map(p => Span(n, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    var files = 0L; var rows = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case s: FileSourceScanExec =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    val end = ps.map(_.end).foldLeft(System.currentTimeMillis().toDouble)(math.max)
    lock.synchronized {
      listenerSpans ++= ps
      scanRecs += ((end.toLong, files, rows))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = if (stack.isEmpty) -1 else stack.top
    val id = spans.size
    val start = nowMs
    spans += Span(name, start, start, parent, -1, id)
    stack.push(id)
    try body
    finally {
      stack.pop()
      spans(id) = spans(id).copy(end = nowMs)
    }
  }

  /** Time one op: a top-level span carrying the op id. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    val start = nowMs
    val first = spans.size
    val r = try span(name)(body) finally {
      ops += ((opId, start, nowMs))
      for (i <- first until spans.size) spans(i).op = opId
    }
    r
  }

  /** Attribute listener records to the ops whose window holds them and
    * return the per-op counters. Call after the listener bus drained. */
  def finish(): Map[Int, OpCounters] = lock.synchronized {
    val sorted = ops.sortBy(_._2).toArray
    val starts = sorted.map(_._2)
    def opAt(t: Double): Option[(Int, Double, Double)] = {
      var i = java.util.Arrays.binarySearch(starts, t + 1.0)
      if (i < 0) i = -i - 2
      while (i >= 0 && i < sorted.length && sorted(i)._2 > t + 1.0) i -= 1
      if (i >= 0 && t <= sorted(i)._3 + 1.0) Some(sorted(i)) else None
    }
    val counters = scala.collection.mutable.Map.empty[Int, OpCounters]
    def c(id: Int) = counters.getOrElseUpdate(id, new OpCounters)
    for (s <- listenerSpans) {
      // a span belongs to the op holding its midpoint; clip to that op
      opAt((s.start + s.end) / 2).foreach { case (id, a, b) =>
        val clipped = Span(s.name, math.max(s.start, a), math.min(s.end, b),
          -1, id, spans.size)
        if (clipped.end >= clipped.start) {
          spans += clipped
          if (s.name == "spark.job") c(id).jobs += 1
        }
      }
    }
    for (t <- stageRecs) opAt(t.toDouble).foreach(o => c(o._1).stages += 1)
    for ((t, run, sh, sp, failed) <- taskRecs) opAt(t.toDouble).foreach { o =>
      val k = c(o._1)
      k.tasks += 1; k.taskMs += run; k.shuffleBytes += sh; k.spillBytes += sp
      if (failed) k.failedTasks += 1
    }
    for ((t, f, r) <- scanRecs) opAt(t.toDouble).foreach { o =>
      c(o._1).filesRead += f; c(o._1).scanRows += r
    }
    // parent of a listener span: the innermost harness span of its op that
    // contains it
    val harness = spans.filter(s => s.parent >= 0 || s.name.startsWith("op."))
    for (s <- spans if s.parent < 0 && !s.name.startsWith("op.")) {
      val holders = harness.filter(h => h.op == s.op && h.start <= s.start + 1 &&
        h.end >= s.end - 1 && h.id != s.id)
      if (holders.nonEmpty) s.parent = holders.minBy(h => h.end - h.start).id
    }
    counters.toMap
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public function. `op` is shared by every
  * span of one operation; `parent` is -1 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

/** Records spans around calls into the program when enabled; otherwise a
  * plain call. Spans stay in memory until [[write]]. While a span is open
  * its name is the SparkContext local property [[Tracer.SpanProp]], which
  * is how [[SparkCounters]] attributes jobs to the layer that ran them. */
final class Tracer(val enabled: Boolean) {
  private val stack = mutable.Stack.empty[Span]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var currentOp = -1
  var sc: Option[SparkContext] = None

  /** Starts a new operation: spans opened until the next call share its id. */
  def newOp(): Unit = currentOp += 1

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(nextId, parent, currentOp, name, System.nanoTime(), 0L)
      nextId += 1
      stack.push(s)
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, name))
      try f
      finally {
        stack.pop()
        done += s.copy(end = System.nanoTime())
        sc.foreach(_.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_.name).orNull))
      }
    }

  /** Seconds of each span not covered by its child spans, summed by name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Task-level counters of the Spark runtime. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs, waitMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spillDisk, spillMem, peakExec = 0L
  var inBytes, inRows, outBytes = 0L
}

/** SparkListener that sums task metrics overall and per span name (the
  * span open when the job was submitted). */
final class SparkCounters extends SparkListener {
  val total = new Counters
  val bySpan = mutable.Map.empty[String, Counters]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def forSpan(name: Option[String]): Seq[Counters] =
    total +: name.map(n => bySpan.getOrElseUpdate(n, new Counters)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    e.stageIds.foreach(id => span.foreach(stageSpan(id) = _))
    forSpan(span).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmitted(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
    forSpan(stageSpan.get(si.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    forSpan(stageSpan.get(e.stageId)).foreach { c =>
      c.tasks += 1
      if (!info.successful) c.failedTasks += 1
      c.taskMs += info.duration
      c.waitMs += math.max(0L,
        info.launchTime - stageSubmitted.getOrElse(e.stageId, info.launchTime))
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillDisk += m.diskBytesSpilled
        c.spillMem += m.memoryBytesSpilled
        c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
        c.inBytes += m.inputMetrics.bytesRead
        c.inRows += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Catalyst phase times and executed-plan shape, summed over every
  * QueryExecution the session reports. */
final class PlanCounters extends QueryExecutionListener {
  val phaseMs = mutable.Map("analysis" -> 0L, "optimization" -> 0L, "planning" -> 0L)
  var nodes, exchanges, broadcasts, sorts, graftNodes = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phaseMs.contains(phase)) phaseMs(phase) += s.durationMs }
    // a query that failed before planning has no executed plan
    val plan = scala.util.Try(qe.executedPlan).toOption.toSeq
    plan.flatMap(PlanShape.operators).foreach { p =>
      nodes += 1
      p match {
        case _: ShuffleExchangeLike => exchanges += 1
        case _: BroadcastExchangeLike => broadcasts += 1
        case _: org.apache.spark.sql.execution.SortExec => sorts += 1
        case _ =>
      }
      if (p.getClass.getName.startsWith("graft.")) graftNodes += 1
    }
  }
}

object PlanShape {
  /** Physical operators of an executed plan, looking through adaptive and
    * query-stage wrappers and into subqueries. */
  def operators(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case w: WholeStageCodegenExec => operators(w.child)
    case i: InputAdapter => operators(i.child)
    case p => p +: (p.children.flatMap(operators) ++ p.subqueries.flatMap(operators))
  }
}

/** Both listeners, attached to a session for one traced pass. */
final class Listeners(spark: SparkSession) {
  val tasks = new SparkCounters
  val plans = new PlanCounters
  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(plans)

  /** Waits for the events of the pass to be delivered, then detaches. */
  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }
}

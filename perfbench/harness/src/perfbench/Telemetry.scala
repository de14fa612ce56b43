package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `parent` is the enclosing span (-1 at
  * the top), `op` the operation the call belongs to. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, a span costs one branch. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Operation id stamped on every span opened from now on. */
  var op: Int = 0
  /** Id of the span that closed last (-1 before the first). */
  var lastClosed: Int = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
        stack = stack.tail
        lastClosed = id
      }
    }

  /** A span measured elsewhere (Spark's query-planning phases), hung
    * under an already closed span. */
  def record(parent: Int, layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, parent, op, layer, name, startNs, endNs)
      nextId += 1
    }

  def clear(): Unit = { spans.clear(); stack = Nil; lastClosed = -1 }

  def all: Seq[Span] = spans.toSeq

  /** layer → (self seconds, span count). A span's self time is its
    * duration minus the part of its interval its children cover. */
  def selfTimes: Seq[(String, Double, Int)] = {
    val kids = spans.groupBy(_.parent)
    val selfNs = spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = 0L
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s.layer, s.endNs - s.startNs - covered)
    }
    selfNs.groupBy(_._1).toSeq.sortBy(_._1).map { case (layer, xs) =>
      (layer, xs.map(_._2).sum / 1e9, xs.size)
    }
  }
}

/** Task-metric sums for one scope (a job group, or everything). */
final class TaskTotals {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, waitMs = 0L
  var scanRows, scanBytes, shuffleRead, shuffleWrite, spill = 0L
  var recordsWritten = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** Sums task metrics per job group (the benchmark sets one group per
  * layer it calls) and overall; also keeps the planning-phase summary
  * of every finished query execution. Callbacks arrive on the listener
  * bus thread — read only after [[org.apache.spark.perfbench.Bus.drain]]. */
final class Telemetry extends SparkListener with QueryExecutionListener {
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, TaskTotals]
  private var totals = new TaskTotals
  private val finished = mutable.ArrayBuffer.empty[QueryExecution]

  private def scopes(group: String): Seq[TaskTotals] =
    Seq(totals, groups.getOrElseUpdate(group, new TaskTotals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(stageGroup(_) = g)
    scopes(g).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    scopes(stageGroup.getOrElse(e.stageInfo.stageId, "-")).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val wait = stageSubmitted.get((e.stageId, e.stageAttemptId))
      .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    scopes(stageGroup.getOrElse(e.stageId, "-")).foreach { t =>
      t.tasks += 1
      t.waitMs += wait
      if (m != null) {
        t.runMs += m.executorRunTime
        t.taskRunMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.scanRows += m.inputMetrics.recordsRead
        t.scanBytes += m.inputMetrics.bytesRead
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { finished += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Query executions finished since the last call. */
  def takeFinished(): Seq[QueryExecution] = synchronized {
    val out = finished.toSeq
    finished.clear()
    out
  }

  def total: TaskTotals = synchronized(totals)
  def groupsWithPrefix(prefix: String): Seq[TaskTotals] =
    synchronized(groups.collect { case (g, t) if g.startsWith(prefix) => t }.toSeq)

  def reset(): Unit = synchronized {
    totals = new TaskTotals
    groups.clear()
    finished.clear()
  }
}

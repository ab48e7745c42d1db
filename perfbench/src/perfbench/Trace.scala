package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are epoch nanoseconds (`base + nanoTime`), so
  * they line up with the millisecond task times the listener bus reports. */
final case class Span(run: String, id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class SelfTime(name: String, calls: Int, inclS: Double, selfS: Double)

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced runs pay nothing for it. Enabled, each span also names the
  * Spark jobs it starts through the `perfbench.layer` local property, so
  * the [[LayerListener]] can charge jobs, stages and tasks to it. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  var enabled = false

  def now(): Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, now()) :: stack
      spark.sparkContext.setLocalProperty(LayerListener.Key, name)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(runId, id, name, parent, start, now())
        spark.sparkContext.setLocalProperty(LayerListener.Key, stack.headOption.map(_._2).orNull)
      }
    }

  /** Charge the Spark jobs started from here on, until the enclosing span
    * ends, to `layer`, without opening a span (used where the program's
    * own code runs between two injected calls). */
  def relabel(layer: String): Unit =
    if (enabled) spark.sparkContext.setLocalProperty(LayerListener.Key, layer)

  /** Add an already-finished span under the current one. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      done += Span(runId, nextId, name, stack.headOption.map(_._1).getOrElse(-1), startNs, endNs)
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def total(name: String): Double = named(name).map(_.seconds).sum

  /** Per span name: calls, inclusive seconds and self seconds (inclusive
    * minus the time of its direct children). */
  def selfTimes: Seq[SelfTime] = {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.name).toSeq.map { case (name, ss) =>
      val incl = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childTime(s.id)).sum
      SelfTime(name, ss.size, incl / 1e9, self / 1e9)
    }.sortBy(-_.selfS)
  }
}

/** Per-task figures the listener keeps for the layer split. */
final case class TaskRec(layer: String, stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long, peakMem: Long,
    recordsIn: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Spark's public listener buses, read from outside the engine: jobs,
  * stages and task metrics from the `SparkListener` bus, Catalyst phase
  * times (`qe.tracker.phases`) from the `QueryExecutionListener` bus.
  * Every record carries the `perfbench.layer` of the call that caused it. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  private val jobLayer = mutable.Map.empty[Int, String]
  private val stageLayer = mutable.Map.empty[Int, String]
  val jobs = mutable.ArrayBuffer.empty[String]
  val stages = mutable.ArrayBuffer.empty[String]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Bytes of the files the executed queries' file scans selected (their
    * "size of files read" metric). The tasks' input metrics cannot give
    * this: Parquet's vectored reads run on other threads, so the task sees
    * little more than the footers. */
  var scanFileBytes = 0L
  // Marker jobs and queries seen, to know when the buses have drained.
  private var flushJobs = 0
  private var flushQueries = 0

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Key))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    jobLayer(e.jobId) = layer
    e.stageIds.foreach(stageLayer(_) = layer)
    if (layer != Flush) jobs += layer
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobLayer.get(e.jobId).contains(Flush)) { flushJobs += 1; notifyAll() }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val layer = layerOf(e.properties)
    stageLayer(e.stageInfo.stageId) = layer
    if (layer != Flush) stages += layer
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val layer = stageLayer.getOrElse(e.stageId, "other")
    val m = e.taskMetrics
    if (layer != Flush && m != null) {
      val i = e.taskInfo
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      tasks += TaskRec(layer, e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, delay, m.peakExecutionMemory,
        m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.analyzed.output.map(_.name) == Seq(Flush)) synchronized { flushQueries += 1; notifyAll() }
    else addPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)

  def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phases(phase) += s.durationMs / 1e3 }
    scanFileBytes += fileScanBytes(qe.executedPlan)
  }

  /** Sum of the file-size metric over the distinct scan nodes of a plan,
    * adaptive stages and subqueries included; a reused exchange reaches
    * the same node, and so the same metric, twice. */
  private def fileScanBytes(plan: SparkPlan): Long = {
    val sizes = mutable.Map.empty[Long, Long]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case f: FileSourceScanLike => f.metrics.get("filesSize").foreach(m => sizes(m.id) = m.value)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    sizes.values.sum
  }

  /** Listen while `body` runs. Before returning, wait until every event
    * posted during it has been delivered: a marker query's job end and
    * execution end are queued behind them. Calls accumulate. */
  def during[T](spark: SparkSession)(body: => T): T = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    try {
      val out = body
      val target = synchronized(flushQueries) + 1
      spark.sparkContext.setLocalProperty(Key, Flush)
      try spark.range(1).selectExpr(s"1 AS $Flush").collect()
      finally spark.sparkContext.setLocalProperty(Key, null)
      val deadline = System.currentTimeMillis() + 60000L
      synchronized {
        while ((flushJobs < target || flushQueries < target) && System.currentTimeMillis() < deadline)
          wait(1000L)
        require(flushJobs >= target && flushQueries >= target, "listener bus did not drain within 60 s")
      }
      out
    } finally {
      spark.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }
  }
}

object LayerListener {
  val Key = "perfbench.layer"
  val Flush = "perfbench_flush"

  /** Milliseconds of `windows` (epoch ms) during which no task ran. */
  def idleMs(windows: Seq[(Long, Long)], tasks: Seq[TaskRec]): Long = {
    val busy = tasks.map(t => (t.launchMs, t.finishMs)).sortBy(_._1)
    windows.map { case (ws, we) =>
      var covered = 0L
      var curS = -1L
      var curE = -1L
      busy.foreach { case (s0, e0) =>
        val s = math.max(s0, ws)
        val e = math.min(e0, we)
        if (e > s) {
          if (s > curE) {
            if (curE > curS) covered += curE - curS
            curS = s; curE = e
          } else curE = math.max(curE, e)
        }
      }
      if (curE > curS) covered += curE - curS
      (we - ws) - covered
    }.sum
  }
}

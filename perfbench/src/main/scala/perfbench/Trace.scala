package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `layer` is the program module whose public function
  * the call enters ("workload" for the cycle/query roots). Times are
  * `System.nanoTime`; `startMs`/`endMs` are wall-clock for matching
  * planner phases. */
final class Span(val id: Int, val name: String, val layer: String, val parent: Int,
    val unit: Long, val start: Long, val startMs: Long) {
  var end: Long = start
  var endMs: Long = startMs
  var failed: Boolean = false
  def wall: Double = (end - start) / 1e9
}

/** Task counters summed per span. */
final class Counters {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var planMs = 0L
  var files = 0L
}

/** Span recorder. Disabled, `span` only runs its body: the untraced run
  * pays nothing but the branch. Enabled, every span sets the Spark
  * local property `perfbench.span`, so jobs submitted while it is the
  * innermost open span carry its id; a listener charges their tasks to
  * it. Planner phases arrive through a QueryExecutionListener and are
  * charged to the innermost span open at the phase's start. Spans stay
  * in memory until the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var unit = 0L
  val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // (first phase start ms, planning ms, files written) per query execution
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val buildsAtStart = graft.ArtifactCache.buildLog.map(_._2).sum
  /** ArtifactCache build seconds logged while this tracer was open. */
  var artifactBuildSeconds = 0.0

  private def counter(span: Int): Counters = counters.synchronized(counters.getOrElseUpdate(span, new Counters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toInt)
      sid.foreach(s => e.stageIds.foreach(st => stageSpan.put(st, s)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != 0 && m != null) {
        val c = counter(s)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val spent = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(ph.get)
      // files written: the write command's metric only (scans carry a
      // `numFiles` of files read)
      val files = qe.executedPlan.collect { case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles") }
        .flatten.map(_.value).sum
      if (spent.nonEmpty)
        phases.add((spent.map(_.startTimeMs).min, spent.map(p => p.endTimeMs - p.startTimeMs).sum, files))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Start a new cycle/query id shared by the spans opened under it. */
  def nextUnit(): Long = { unit += 1; unit }

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(spans.size + 1, name, layer, parent.map(_.id).getOrElse(0), unit,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack.push(s)
      spark.sparkContext.setLocalProperty(Tracer.Key, s.id.toString)
      try f
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        spark.sparkContext.setLocalProperty(Tracer.Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait for the listener bus, then charge planner phases to spans. */
  def settle(): Unit = if (enabled) {
    artifactBuildSeconds = graft.ArtifactCache.buildLog.map(_._2).sum - buildsAtStart
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    var p = phases.poll()
    while (p != null) {
      val (at, ms, files) = p
      val open = spans.filter(s => s.startMs <= at && at <= s.endMs)
      if (open.nonEmpty) {
        val c = counter(open.maxBy(s => (s.startMs, s.id)).id)
        c.planMs += ms
        c.files += files
      }
      p = phases.poll()
    }
  }

  /** Self time of each span: its wall minus the wall its children cover. */
  def selfTimes: Map[Int, Double] = {
    val childWall = spans.groupBy(_.parent).view.mapValues(_.map(_.wall).sum).toMap
    spans.map(s => s.id -> (s.wall - childWall.getOrElse(s.id, 0.0))).toMap
  }

  /** Spans as JSON lines, one per span, with their self time. */
  def jsonLines(self: Map[Int, Double]): Iterator[String] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.iterator.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"unit":${s.unit},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""self_s":${self(s.id)}%.6f,"failed":${s.failed}}"""
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
}

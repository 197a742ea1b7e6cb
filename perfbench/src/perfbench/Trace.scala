package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call from the benchmark into a layer of the engine. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, var endNs: Long = 0L) {
  def startMs: Double = startNs / 1e6
  def endMs: Double = endNs / 1e6
}

/** Spans recorded in memory around the benchmark's own calls into the
  * engine. A disabled tracer runs the body and records nothing, so
  * untraced work pays one branch per call. A traced run switches it on
  * for every other unit of work (query pass or micro-batch), which gives
  * traced and untraced samples from one JVM in the same state.
  *
  * Each span sets the Spark job group to `pb-<id>` for its duration, so
  * the jobs, stages, tasks and SQL executions the call launches can be
  * attached to it afterwards from [[SparkEvents]]. The previous group is
  * restored on exit (the streaming engine sets its own around a batch). */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get.headOption.map(_.id).getOrElse(0)
      val s = synchronized {
        val s = Span(recorded.size + 1, parent, layer, name, System.nanoTime())
        recorded += s
        s
      }
      val previousGroup = sc.getLocalProperty(Tracer.JobGroup)
      sc.setLocalProperty(Tracer.JobGroup, Tracer.group(s.id))
      stack.set(s :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.JobGroup, previousGroup)
      }
    }

  def spans: Seq[Span] = synchronized(recorded.toList)
}

object Tracer {
  val JobGroup = "spark.jobGroup.id"
  def group(spanId: Int): String = s"pb-$spanId"
  def spanOf(group: String): Int =
    if (group != null && group.startsWith("pb-")) group.drop(3).toInt else 0
}

/** Everything Spark's public listener APIs report while a window is
  * open: jobs with their wall interval and task metrics per stage, keyed
  * back to the span whose job group launched them, and the Catalyst phase
  * times of each action, placed by when its first phase started. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long = -1L)
  final case class Tasks(var n: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var shuffleWrite: Long = 0, var scan: Long = 0, var failed: Long = 0)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageSpan = mutable.HashMap.empty[Int, Int]
  val stagesRun = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  val tasks = mutable.HashMap.empty[Int, Tasks]
  /** (wall ms its first Catalyst phase started, analysis + optimization +
    * planning ms) per action */
  val actions = mutable.ArrayBuffer.empty[(Long, Double)]

  def clear(): Unit = synchronized {
    jobs.clear(); stageSpan.clear(); stagesRun.clear(); tasks.clear(); actions.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Tracer.spanOf(Option(e.properties).map(_.getProperty(Tracer.JobGroup)).orNull)
    jobs(e.jobId) = Job(e.jobId, span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun(stageSpan.getOrElse(e.stageInfo.stageId, 0)) += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tasks.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), Tasks())
    t.n += 1
    if (e.reason != org.apache.spark.Success) t.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.scan += m.inputMetrics.bytesRead
    }
  }

  private def action(qe: QueryExecution): Unit = {
    val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty) synchronized {
      actions += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(qe)
}

object SparkEvents {
  /** Installs the listeners and returns the collector. */
  def install(spark: SparkSession): SparkEvents = {
    val ev = new SparkEvents
    spark.sparkContext.addSparkListener(ev)
    spark.listenerManager.register(ev)
    ev
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftCoreShim.drainListenerBus(spark.sparkContext, 60000)
}

/** Interval arithmetic over millisecond ranges. */
object Intervals {
  /** Length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}

/** Turns spans plus Spark events into per-layer numbers.
  *
  * Times from spans use `System.nanoTime`; job intervals from the
  * listener use the wall clock. `offsetMs` (wall − nano/1e6, sampled once)
  * puts both on one axis. */
final class LayerReport(spans: Seq[Span], ev: SparkEvents, offsetMs: Double) {
  private val byParent = spans.groupBy(_.parent)
  private val jobsBySpan: Map[Int, Seq[(Double, Double)]] = ev.synchronized {
    ev.jobs.values.filter(_.endMs >= 0).toSeq.groupBy(_.span).view
      .mapValues(_.map(j => (j.startMs - offsetMs, j.endMs - offsetMs))).toMap
  }
  private val allJobs: Seq[(Double, Double)] = jobsBySpan.values.flatten.toSeq

  /** The innermost span open at `tMs` (span time axis), or 0. */
  private def spanAt(tMs: Double): Int = {
    val open = spans.filter(s => s.startMs <= tMs && tMs <= s.endMs)
    if (open.isEmpty) 0 else open.maxBy(_.startNs).id
  }

  /** The span and every span below it. */
  def subtree(id: Int): Seq[Int] = id +: byParent.getOrElse(id, Nil).flatMap(s => subtree(s.id))

  /** Spans of `layer`, outermost only (a span nested in a span of the same
    * layer is already inside its ancestor's interval). */
  def outermost(layer: String, name: Option[String] = None): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def hasSameLayerAncestor(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.nonEmpty) {
        if (p.get.layer == layer) return true
        p = byId.get(p.get.parent)
      }
      false
    }
    spans.filter(s => s.layer == layer && name.forall(_ == s.name) &&
      !hasSameLayerAncestor(s))
  }

  def durationMs(ss: Seq[Span]): Double = ss.map(s => s.endMs - s.startMs).sum

  /** Spark numbers for the jobs launched inside `ss` (subtrees included). */
  def spark(ss: Seq[Span]): Map[String, Double] = {
    val ids = ss.flatMap(s => subtree(s.id)).toSet
    val jobs = ids.toSeq.flatMap(i => jobsBySpan.getOrElse(i, Nil))
    val busy = ss.map(s => Intervals.covered(allJobs, s.startMs, s.endMs)).sum
    sparkTotals(ids.contains, jobs.size, busy, durationMs(ss) - busy)
  }

  private def sparkTotals(in: Int => Boolean, nJobs: Int, busyMs: Double,
      gapMs: Double): Map[String, Double] = ev.synchronized {
    val t = ev.tasks.filter { case (s, _) => in(s) }.values
    val acts = ev.actions.filter { case (startMs, _) => in(spanAt(startMs - offsetMs)) }
    Map(
      "actions" -> acts.size.toDouble,
      "catalyst_ms" -> acts.map(_._2).sum,
      "jobs" -> nJobs.toDouble,
      "stages" -> ev.stagesRun.filter { case (s, _) => in(s) }.values.sum.toDouble,
      "tasks" -> t.map(_.n).sum.toDouble,
      "job_busy_ms" -> busyMs,
      "driver_gap_ms" -> gapMs,
      "task_run_ms" -> t.map(_.runMs).sum.toDouble,
      "task_gc_ms" -> t.map(_.gcMs).sum.toDouble,
      "shuffle_write_bytes" -> t.map(_.shuffleWrite).sum.toDouble,
      "scan_bytes" -> t.map(_.scan).sum.toDouble,
      "failed_tasks" -> t.map(_.failed).sum.toDouble)
  }

  /** Self time per layer: a span's duration minus the part covered by its
    * child spans and its own jobs; the jobs' covered time is Spark's. */
  def selfMs(layers: Seq[String]): Map[String, Double] = {
    val self = mutable.LinkedHashMap.empty[String, Double]
    (layers :+ "spark").foreach(self(_) = 0.0)
    spans.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val own = jobsBySpan.getOrElse(s.id, Nil)
      val kidsCovered = Intervals.covered(kids, s.startMs, s.endMs)
      val allCovered = Intervals.covered(kids ++ own, s.startMs, s.endMs)
      self(s.layer) = self.getOrElse(s.layer, 0.0) + (s.endMs - s.startMs) - allCovered
      self("spark") += allCovered - kidsCovered
    }
    self.toMap
  }
}

package graft.perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Task totals of one layer call, summed by [[LayerListener]]. */
final class CallStats {
  var jobs = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsWritten = 0L
}

private object JobGroupKey { val Key = "spark.jobGroup.id" }

/** One listener for every layer: each call into a layer runs under its own
  * Spark job group (`<layer>#<call>`), so every job, and through its stages
  * every task, is charged to exactly one call. */
final class LayerListener extends SparkListener {
  private val stageCall = TrieMap.empty[Int, String]
  val calls = TrieMap.empty[String, CallStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey.Key)))
    group.foreach { g =>
      e.stageIds.foreach(stageCall.put(_, g))
      val s = calls.getOrElseUpdate(g, new CallStats)
      s.synchronized(s.jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      g <- stageCall.get(e.stageId)
      m <- Option(e.taskMetrics)
    } {
      val s = calls.getOrElseUpdate(g, new CallStats)
      val d = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      s.synchronized {
        s.taskMs += d
        s.maxTaskMs = math.max(s.maxTaskMs, d)
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        s.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
}

/** A span around one call into a layer (or a benchmark phase). `parent` is
  * the enclosing span's id, -1 at the top. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      endNs: Long, runId: String, rows: Long)

/** Spans plus the job-group tagging that lets [[LayerListener]] charge
  * tasks to calls. Spans are kept in memory and written once at the end.
  * The listener is attached only while `recording`, so untraced work pays
  * for nothing but a thread-local property. */
final class Trace(sc: SparkContext, val runId: String) {
  val listener = new LayerListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var attached = false

  def recording: Boolean = attached

  def record(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    attached = on
  }

  /** Run `f` as one span named `name`; `rows` reads the output rows from
    * its result. A `layer` span is one call into that layer: jobs started
    * inside run under job group `<name>#<span id>` (a nested layer span
    * takes over its own jobs, then hands the group back). Phase spans
    * (set-up, a rep) only group their children. */
  def span[T](name: String, layer: Boolean = false,
              rows: T => Long = (_: T) => -1L)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val outer: Option[String] = Option(sc.getLocalProperty(JobGroupKey.Key))
    if (layer) sc.setJobGroup(s"$name#$id", name)
    stack.push(id)
    val t0 = System.nanoTime()
    try {
      val r = f
      spans += Span(id, name, parent, t0, System.nanoTime(), runId, rows(r))
      r
    } finally {
      stack.pop()
      if (layer) outer match {
        case Some(g) => sc.setJobGroup(g, g.takeWhile(_ != '#'))
        case None => sc.clearJobGroup()
      }
    }
  }

  def layer[T](name: String, rows: T => Long = (_: T) => -1L)(f: => T): T =
    span(name, layer = true, rows)(f)

  /** Wait until the listener has seen every event posted so far. The bus
    * method is package-private in Spark, hence the reflection; a short
    * sleep stands in if it is not there. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
        .sortBy(_.getParameterCount).headOption match {
        case Some(m) if m.getParameterCount == 0 => m.invoke(bus)
        case Some(m) => m.invoke(bus, Long.box(10000L))
        case None => Thread.sleep(300)
      }
    } catch { case _: Throwable => Thread.sleep(300) }

  /** Per-layer figures: the median over the layer's recorded calls of
    * each per-call figure (only calls whose jobs the listener saw). */
  def layerStats(name: String): Map[String, Double] = {
    drain()
    val recorded = spans.filter(s =>
      s.name == name && listener.calls.contains(s"$name#${s.id}"))
    if (recorded.isEmpty) Map.empty
    else {
      val st = recorded.map(s => (s, listener.calls(s"${s.name}#${s.id}")))
      def med(f: ((Span, CallStats)) => Double) = Stats.median(st.map(f).toSeq)
      Map(
        "wall_s" -> med(x => (x._1.endNs - x._1.startNs) / 1e9),
        "task_s" -> med(_._2.taskMs / 1e3),
        "max_task_s" -> med(_._2.maxTaskMs / 1e3),
        "shuffle_mb" -> med(_._2.shuffleBytes / 1048576.0),
        // rows the call returned, else rows its tasks wrote to a sink
        "rows_out" -> med(x =>
          if (x._1.rows >= 0) x._1.rows.toDouble
          else x._2.rowsWritten.toDouble),
        "jobs" -> med(_._2.jobs.toDouble),
        "gc_s" -> med(_._2.gcMs / 1e3),
        "spill_mb" -> med(_._2.spillBytes / 1048576.0))
    }
  }

  /** Spans as JSON lines-in-an-array, start/end relative to the first. */
  def json: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_s":${Stats.fmt((s.startNs - t0) / 1e9)},""" +
        s""""end_s":${Stats.fmt((s.endNs - t0) / 1e9)},""" +
        s""""run_id":"${s.runId}","rows":${s.rows}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

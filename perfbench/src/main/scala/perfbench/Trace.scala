package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. `run` ties the spans of one benchmark run. */
final case class Span(name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, parent: String, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level totals for the jobs of one span (one Spark job group). */
final class SpanStats {
  var jobs = 0
  var busyMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageShuffleRead = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Longest task over the median task of the span's stage that read
    * the most shuffle data (its keyed or sorted stage); 1 is even. */
  def taskSkew: Double =
    if (stageShuffleRead.isEmpty) 0.0
    else {
      val ds = stageTaskMs(stageShuffleRead.maxBy(_._2)._1).sorted
      val med = ds(ds.length / 2).max(1L)
      ds.last.toDouble / med
    }

  /** Wall time of [startMs, endMs] during which none of the span's
    * tasks ran: driver-side work and scheduling gaps. */
  def driverOnlyMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.map { case (s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = curE max e
      }
    covered += curE - curS
    (endMs - startMs) - covered
  }
}

/** Benchmark-owned SparkListener: attributes every task to the job
  * group its job ran under, and sums the task metrics per group. It is
  * installed through `spark.extraListeners` (so sessions built inside
  * the engine's own entry points pick it up) or added to a session
  * directly; either way the live instance is `SpanListener.current`. */
class SpanListener extends SparkListener {
  SpanListener.current = this
  private val groupOfStage = mutable.Map.empty[Int, String]
  val stats = mutable.Map.empty[String, SpanStats]

  private def of(g: String): SpanStats = stats.getOrElseUpdate(g, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => groupOfStage(s) = g)
    of(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = groupOfStage.getOrElse(e.stageId, "")
    val s = of(g)
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      s.busyMs += m.executorRunTime
      s.schedWaitMs += math.max(0L, info.duration - m.executorRunTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      val read = m.shuffleReadMetrics.totalBytesRead
      if (read > 0) s.stageShuffleRead(e.stageId) += read
    }
    s.intervals += ((info.launchTime, info.finishTime))
  }

  def get(g: String): SpanStats = synchronized(of(g))
}

object SpanListener {
  @volatile var current: SpanListener = _
}

/** Per-batch `durationMs` and input counts of a streaming query. */
final class BatchListener extends StreamingQueryListener {
  val progress = mutable.Map.empty[Long, (Long, Map[String, Long], Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress(p.batchId) = (startMs, d, p.numInputRows)
    }
  def snapshot: Map[Long, (Long, Map[String, Long], Long)] = synchronized(progress.toMap)
}

/** Executed-plan SQL metrics. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Collect + build + broadcast time of every broadcast exchange in the
    * plan (adaptive stages and subqueries included), in ms. */
  def broadcastMs(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
      .map(b => Seq("collectTime", "buildTime", "broadcastTime")
        .flatMap(b.metrics.get).map(_.value).sum)
      .sum
}

/** One prefix cut: the forced output's value, the pass's wall time, its
  * task totals and its span. */
final case class Cut[A](value: A, seconds: Double, stats: SpanStats, span: Span)

/** Prefix cuts over one session: each cut runs the pipeline up to one
  * layer's public function and forces that output under its own job
  * group. The whole chain of cuts runs `reps` times in order and each
  * cut keeps its fastest pass, so one-off costs (first-time code
  * generation of a new plan shape, a cut's place in the order) drop out. */
final class Prefixes(tracer: Tracer, sc: SparkContext, tag: String) {
  private val cuts = mutable.ArrayBuffer.empty[(String, () => Any)]

  /** Adds the next cut of the chain. */
  def cut(name: String)(body: => Any): Unit = cuts += ((name, () => body))

  def run(reps: Int): Map[String, Cut[Any]] =
    (1 to reps).flatMap { r =>
      cuts.map { case (name, body) =>
        val group = s"$name#$tag#$r"
        val a = tracer.span(group, parent = tag, sc = sc)(body())
        org.apache.spark.PerfbenchBus.drain(sc)
        name -> Cut[Any](a, tracer.spans.last.seconds, SpanListener.current.get(group),
          tracer.spans.last)
      }
    }.groupBy(_._1).map { case (k, cs) => k -> cs.map(_._2).minBy(_.seconds) }
}

/** Spans of one run, kept in memory and written once at the end. */
final class Tracer(val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Times `body` as span `name`; its Spark jobs run under the job group
    * `name` when `sc` is given. */
  def span[A](name: String, parent: String = "", sc: SparkContext = null)(body: => A): A = {
    if (sc != null) sc.setJobGroup(name, name)
    val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      val (t1, m1) = (System.nanoTime(), System.currentTimeMillis())
      if (sc != null) sc.clearJobGroup()
      spans += Span(name, t0, t1, m0, m1, parent, run)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      Json.obj(Seq("name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "parent" -> Json.str(s.parent),
        "run" -> Json.str(s.run))))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal JSON writing: objects of already-encoded values. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** A run's outcome: every operation attempted, those that failed
  * (a wrong answer is a failure), and the metrics by name. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-workload metric names, printed before the result line. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Counts one operation; `problem` = None means it was correct. */
  def check(what: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (problems.length < 20) problems += s"$what: $p"
      System.err.println(s"[perfbench] FAILED $what: $p")
    }
  }
  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def resultLine: String = Json.obj(Seq(
    "correct" -> (if (failed == 0 && attempted > 0) "true" else "false"),
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

/** Progress on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2fs] $msg")
}

/** Facts about the process a result should carry. */
object Env {
  val nproc: Int = Runtime.getRuntime.availableProcessors

  def peakRssMb: Double = procStatus("VmHWM") / 1024.0

  private def procStatus(key: String): Double =
    try Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    catch { case _: java.io.IOException => 0.0 }

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def jvmFlags: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  def heapMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)

  /** Median wall time, in ms, of sorting a fixed 8 MB array on every
    * core at once (3 tries): how fast the host runs right now. Recorded
    * with each result, since a host shared with other machines can
    * change speed for minutes at a time and every timing moves with it. */
  def hostProbeMs: Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      (0 until nproc).map(_ => pool.submit(() => {
        val a = new Array[Long](1 << 20)
        var x = 88172645463325252L
        var i = 0
        while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
        java.util.Arrays.sort(a)
        a(0)
      })).foreach(_.get())
      (System.nanoTime() - t0) / 1e6
    }) finally pool.shutdown()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dataFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
}

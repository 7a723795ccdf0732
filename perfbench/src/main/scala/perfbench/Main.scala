package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.collection.mutable

/** Everything a workload needs: its seed and measuring time, where to
  * put inputs and outputs, and where its outcome and facts go. */
final class Ctx(val seed: Long, val seconds: Double, val trace: Boolean,
    val work: Path, val launchMs: Long, val mainMs: Long) {
  val out = new Outcome
  val tracer = new Tracer(s"seed$seed-${java.util.UUID.randomUUID.toString.take(8)}")
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Per-layer metric values, all defaulting to 0 for layers the
    * workload does not run. */
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Runs `k` set-ups; the first also pays JVM start (launch to main).
    * The reported set-up time is their median. `teardown(i)` runs
    * untimed between set-up i and the next. */
  def setups(k: Int, teardown: Int => Unit = _ => ())(setup: Int => Unit): Seq[Double] =
    (0 until k).map { i =>
      if (i > 0) teardown(i - 1)
      setupExcludedNs = 0L
      val t0 = System.nanoTime()
      setup(i)
      val s = (System.nanoTime() - t0 - setupExcludedNs) / 1e9
      Log(f"set-up $i: $s%.2f s")
      if (i == 0) s + (mainMs - launchMs) / 1000.0 else s
    }
  /** Time inside a set-up spent on the benchmark's own work (input
    * writing, output checks). */
  private var setupExcludedNs = 0L
  def excludingFromSetup[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupExcludedNs += System.nanoTime() - t0
  }

  /** Records the non-default confs of the session a workload times. */
  def recordConfs(spark: SparkSession): Unit = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id",
      "spark.sql.warehouse.dir", "spark.app.initial.jar.urls")
    val confs = spark.sparkContext.getConf.getAll.filterNot(kv => volatile(kv._1))
      .sortBy(_._1)
    info("spark_confs") = Json.obj(confs.toSeq.map { case (k, v) => k -> Json.str(v) })
  }
}

/** Work started on a thread of its own, for inputs generated while the
  * JVM's first, cold job runs. */
object Background {
  def apply[A](body: => A): java.util.concurrent.CompletableFuture[A] = {
    val f = new java.util.concurrent.CompletableFuture[A]
    val t = new Thread(() => try f.complete(body) catch { case e: Throwable => f.completeExceptionally(e) })
    t.setDaemon(true)
    t.start()
    f
  }
}

object Main {
  val Workloads: Seq[String] = Seq("cdc", "corpus_llm")

  /** The session `CdcMain.main` builds (same builder calls, same order),
    * so breakdown passes time what the CLI ships. `master` defaults to
    * the CLI's own choice. */
  def cdcSession(master: String = sys.env.getOrElse("SPARK_MASTER", "local[*]")): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("log2sqlspark-cdc")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The catalog `CdcMain --catalog COLS,STATS` resolves: both
    * information_schema snapshots read with headers and inferred types. */
  def catalog(spark: SparkSession, cols: Path, stats: Path): DataFrame =
    graft.cdc.Catalog.resolve(
      spark.read.option("header", "true").option("inferSchema", "true").csv(cols.toString),
      spark.read.option("header", "true").option("inferSchema", "true").csv(stats.toString))

  /** Stops a session, returning how long that took. */
  def stopTimed(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.stop()
    (System.nanoTime() - t0) / 1e9
  }

  /** Installs (or removes) the span listener for sessions built from now
    * on, the entry points' own sessions included. */
  def listenOnNextSession(on: Boolean): Unit =
    if (on) System.setProperty("spark.extraListeners", classOf[SpanListener].getName)
    else System.clearProperty("spark.extraListeners")

  /** Forces every column of `df` through a no-op sink and returns its row
    * count (observed in the same pass). */
  def consume(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val workload = arg(args, "--workload").getOrElse("")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val ctx = new Ctx(
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "--trace").contains("1"),
      work = Files.createDirectories(Path.of(arg(args, "--work").getOrElse("bench-work"))),
      launchMs = arg(args, "--launch-ms").map(_.toLong).getOrElse(mainMs),
      mainMs = mainMs)
    val results = arg(args, "--results").map(Path.of(_))
    ctx.info ++= Seq("workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "seconds" -> Json.num(ctx.seconds), "trace" -> ctx.trace.toString,
      "git_sha" -> Json.str(arg(args, "--git-sha").getOrElse("unknown")),
      "source_sha256" -> Json.str(arg(args, "--source-sha").getOrElse("unknown")),
      "nproc" -> Env.nproc.toString, "heap_mb" -> Env.heapMb.toString,
      "jvm_flags" -> Env.jvmFlags.map(Json.str).mkString("[", ", ", "]"),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION))
    val probe0 = Env.hostProbeMs
    try workload match {
      case "cdc" => Cdc.run(ctx)
      case "corpus_llm" => Corpus.run(ctx)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.out.check("run", Some(s"aborted: $e"))
    }
    if (ctx.trace) {
      ctx.out.metrics.clear()
      Layers.All.foreach { case (name, unit) =>
        ctx.out.metric(name, ctx.layers.getOrElse(name, 0.0), unit)
      }
    }
    ctx.info("host_probe_ms") = Json.obj(Seq("start" -> Json.num(probe0),
      "end" -> Json.num(Env.hostProbeMs)))
    ctx.info("problems") = ctx.out.problems.map(Json.str).mkString("[", ", ", "]")
    val infoLine = Json.obj(ctx.info.toSeq)
    results.foreach { dir =>
      Files.createDirectories(dir)
      val stem = s"$workload-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}"
      Files.write(dir.resolve(s"$stem.json"),
        Json.obj(Seq("info" -> infoLine, "result" -> ctx.out.resultLine)).getBytes("UTF-8"))
      if (ctx.trace) ctx.tracer.write(dir.resolve(s"$stem.spans.jsonl"))
    }
    Log("done")
    println(s"# info $infoLine")
    ctx.out.named.foreach { case (k, (v, u)) => println(f"# $k%-32s ${Json.num(v)} $u") }
    println(ctx.out.resultLine)
    System.out.flush()
    sys.exit(0)
  }
}

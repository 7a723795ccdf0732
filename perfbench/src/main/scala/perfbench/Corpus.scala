package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import graft.{SparkEntry, Tables}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** `corpus_llm`: the LLM-data operators through `SparkEntry.queries` —
  * `p1_preprocess_pipeline`, `d4_neardup_clusters` and `a3_ann_ivf` —
  * over a seeded corpus, each result fully consumed, as a closed loop of
  * one query at a time. */
object Corpus {
  val Docs = 2500
  val Vecs = 2500
  val WarmDocs = 250
  val K = 5
  /** Timed passes at the least, whatever `--seconds` says. */
  val MinPasses = 5

  /** Spark defaults plus the documented deploy form of the engine's
    * extensions, on all local cores, in UTC. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Env.nproc}]")
      .appName("log2sqlspark-corpus")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Query executions finished since the last `take`. */
  final class Executions extends QueryExecutionListener {
    private val q = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = q.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = q.add(qe)
    def take(): Seq[QueryExecution] = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
  }

  def check(ctx: Ctx, q: String, rows: Array[Row], plan: CorpusPlan): Unit =
    ctx.out.check(q, q match {
      case "p1_preprocess_pipeline" =>
        Checks.p1(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq, plan)
      case "d4_neardup_clusters" =>
        Checks.d4(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq, plan)
      case _ =>
        Checks.a3(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq, K, plan)
    })

  /** Runs the three queries once; returns per query (wall s, result bytes). */
  def pass(ctx: Ctx, spark: SparkSession, dir: String, plan: Option[CorpusPlan],
      span: String => (=> Array[Row]) => Array[Row] = _ => b => b): Seq[(Double, Long)] =
    Layers.Queries.map { q =>
      val t0 = System.nanoTime()
      val rows = span(q)(SparkEntry.queries(q)(spark, dir).collect())
      val wall = (System.nanoTime() - t0) / 1e9
      plan.foreach(check(ctx, q, rows, _))
      Log(f"$q: $wall%.2f s, ${rows.length} rows")
      (wall, rows.map(_.toString.length + 1L).sum)
    }

  def run(ctx: Ctx): Unit = {
    val dir = ctx.dir("corpus").toString
    val warmDir = ctx.dir("corpus-warm").toString
    // the timed corpus is generated while the JVM starts its first session
    val pending = Background(CorpusGen.generate(ctx.seed, Docs, Vecs))
    val (wDocs, wEmbs, _) = CorpusGen.generate(ctx.seed + 1, WarmDocs, WarmDocs)
    lazy val (docs, embs, plan) = pending.join()
    var spark: SparkSession = null
    var startS = 0.0
    var warmS = Seq.empty[Double]
    val setup = ctx.setups(3, _ => spark.stop()) { i =>
      val t0 = System.nanoTime()
      spark = session()
      startS = (System.nanoTime() - t0) / 1e9
      if (i == 0) {
        // generation is the benchmark's own work: kept out of set-up
        ctx.excludingFromSetup {
          CorpusGen.write(spark, dir, docs, embs)
          CorpusGen.write(spark, warmDir, wDocs, wEmbs)
        }
      }
      Seq(dir, warmDir).foreach(d =>
        Seq("documents", "embeddings").foreach(t => Tables.load(spark, d, t).schema))
      val w0 = System.nanoTime()
      // the first, cold pass reads a small corpus of its own; the later
      // ones read the timed corpus, so the timed passes find the JIT warm
      pass(ctx, spark, if (i == 0) warmDir else dir, None)
      warmS :+= (System.nanoTime() - w0) / 1e9
    }
    Log(s"generated ${docs.length} docs, ${embs.length} vectors")
    ctx.info("input") = Json.obj(Seq("docs" -> Docs.toString, "vectors" -> Vecs.toString,
      "planted_pairs" -> plan.pairs.length.toString,
      "unique_training_docs" -> plan.uniqueTrain.toString, "digest" -> Json.str(plan.digest)))
    ctx.recordConfs(spark)
    if (ctx.trace) traced(ctx, spark, dir, plan, startS, warmS)
    else {
      val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(Double, Long)]]
      while (passes.length < MinPasses || passes.map(_.map(_._1).sum).sum < ctx.seconds)
        passes += pass(ctx, spark, dir, Some(plan))
      spark.stop()
      // each query's median wall over the run's passes: a typical pass
      val queryMed = Layers.Queries.indices.map(i => Stats.median(passes.map(_(i)._1).toSeq))
      val docsPerS = Docs / queryMed.sum
      val o = ctx.out
      o.metric("setup_s", Stats.median(setup), "s")
      o.metric("items_per_s", docsPerS, "1/s")
      // latency is one query's wall, result collected: the middle and
      // the slowest of the three queries' median walls
      o.metric("latency_p50_ms", Stats.median(queryMed) * 1000, "ms")
      o.metric("latency_p95_ms", queryMed.max * 1000, "ms")
      o.metric("out_bytes_per_item", Stats.median(passes.map(_.map(_._2).sum.toDouble).toSeq) / Docs, "B")
      o.named("peak_rss_mb") = (Env.peakRssMb, "MB")
      o.named("corpus_docs_per_s") = (docsPerS, "docs/s")
      Layers.Queries.zip(queryMed).foreach { case (q, m) => o.named(s"$q.median_s") = (m, "s") }
      o.named("passes") = (passes.length.toDouble, "count")
    }
  }

  /** Traced run: one untraced and one traced pass (their difference is
    * the tracing overhead); the traced pass times each query as a span
    * with its jobs' task metrics, planning time and broadcast builds. */
  private def traced(ctx: Ctx, spark: SparkSession, dir: String, plan: CorpusPlan,
      startS: Double, warmS: Seq[Double]): Unit = {
    val sc = spark.sparkContext
    val L = ctx.layers
    val plain = pass(ctx, spark, dir, Some(plan)).map(_._1).sum
    val listener = new SpanListener
    val executions = new Executions
    sc.addSparkListener(listener)
    spark.listenerManager.register(executions)
    val gc0 = Env.gcSeconds
    PerfbenchBus.drain(sc)
    executions.take()
    val perQuery = scala.collection.mutable.Map.empty[String, Seq[QueryExecution]]
    val tracedWall = pass(ctx, spark, dir, Some(plan), q => body => {
      val r = ctx.tracer.span(s"queries.$q", parent = "pass", sc = sc)(body)
      PerfbenchBus.drain(sc)
      perQuery(q) = executions.take()
      r
    }).map(_._1).sum
    L("jvm.gc_s") = Env.gcSeconds - gc0
    L("trace.overhead_s") = tracedWall - plain
    L("session.start_s") = startS
    L("session.warmup_pass_s") = Stats.median(warmS.tail)
    Layers.Queries.foreach { q =>
      val name = s"queries.$q"
      val span = ctx.tracer.spans.filter(_.name == name).last
      val s = listener.get(name)
      val qes = perQuery(q)
      L(s"$name.plan_s") = qes.map(qe => Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum).sum / 1000.0
      L(s"$name.self_s") = span.seconds
      L(s"$name.task_busy_s") = s.busyMs / 1000.0
      L(s"$name.driver_only_s") = s.driverOnlyMs(span.startMs, span.endMs) / 1000.0
      L(s"$name.shuffle_write_mb") = s.shuffleWriteBytes / 1048576.0
      L(s"$name.spill_mb") = s.spillBytes / 1048576.0
      L(s"$name.broadcast_build_ms") = qes.map(qe => PlanMetrics.broadcastMs(qe.executedPlan)).sum.toDouble
      L(s"$name.jobs") = s.jobs
    }
    L("spark.sched_wait_s") = listener.stats.values.map(_.schedWaitMs).sum / 1000.0
    spark.listenerManager.unregister(executions)
    sc.removeSparkListener(listener)
    L("session.stop_s") = Main.stopTimed(spark)
  }
}

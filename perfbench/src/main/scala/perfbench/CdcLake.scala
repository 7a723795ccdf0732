package perfbench

import java.nio.file.Path
import graft.cdc.{CdcConfig, CdcJob, CdcMain}
import graft.sources.BinlogBinary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

/** The lake mode of the `cdc` workload: the same CDC pipeline used as a
  * lake loader — `CdcMain --format binary --output-parquet --output-scd2`
  * over raw `.binlog` files — one job at a time. Binary decode, one keyed
  * window shuffle and distributed parquet writes; no global sort and no
  * driver pull. */
object CdcLake {
  val Files = 16
  val RowsPerFile = 300

  final class Input(val log: Path, val cols: Path, val stats: Path,
      val plan: BinPlan) {
    def args(dir: Path, lake: Path, scd2: Path): Array[String] = Array(
      "--format", "binary", "--binlog", dir.toString, "--catalog", s"$cols,$stats",
      "--output-parquet", lake.toString, "--output-scd2", scd2.toString)
  }

  def runMain(args: Array[String]): Double = {
    val t0 = System.nanoTime()
    CdcMain.main(args)
    (System.nanoTime() - t0) / 1e9
  }

  /** One timed job: its wall time and the time until the event lake was
    * committed (its `_SUCCESS` marker appeared), which the CLI does
    * before it starts on the SCD2 sink. */
  def timedJob(in: Input, lake: Path, scd2: Path): (Double, Double) = {
    @volatile var done = false
    @volatile var committedNs = 0L
    val marker = lake.resolve("_SUCCESS")
    val t0 = System.nanoTime()
    val watcher = new Thread(() => {
      while (!done && committedNs == 0L) {
        if (java.nio.file.Files.exists(marker)) committedNs = System.nanoTime()
        else Thread.sleep(1)
      }
    })
    watcher.setDaemon(true)
    watcher.start()
    try CdcMain.main(in.args(in.log, lake, scd2))
    finally { done = true; watcher.join() }
    val t1 = System.nanoTime()
    ((t1 - t0) / 1e9, ((if (committedNs == 0L) t1 else committedNs) - t0) / 1e9)
  }

  /** Reads a job's lake and SCD2 output back and checks them against the
    * generator's record. */
  def check(ctx: Ctx, spark: SparkSession, what: String, lake: Path, scd2: Path,
      plan: BinPlan): Unit = {
    val rows = spark.read.parquet(lake.toString)
      .groupBy(col("table"), col("op")).agg(count(lit(1)))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val s = spark.read.parquet(scd2.toString)
      .groupBy(col("table"))
      .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L)))
      .collect()
    ctx.out.check(what, Checks.lake(rows,
      s.map(r => r.getString(0) -> r.getLong(1)).toMap,
      s.map(r => r.getString(0) -> r.getLong(2)).toMap, plan))
  }

  /** The lake mode of the `cdc` workload, with its inputs under `lake/`.
    * The timed input is generated on another thread while the first
    * set-up pass runs. */
  final class Mode(ctx: Ctx) {
    private val root = ctx.dir("lake")
    private def dir(name: String): Path = java.nio.file.Files.createDirectories(root.resolve(name))
    private val (cols, stats) = BinGen.writeCatalog(dir("catalog"))
    private val warmLog = dir("warm-binlog")
    BinGen.writeLog(warmLog, ctx.seed + 1, Files / 4, RowsPerFile, Env.nproc)
    private val warm = new Input(warmLog, cols, stats, null)
    private val pending = Background {
      val log = dir("binlog")
      new Input(log, cols, stats, BinGen.writeLog(log, ctx.seed, Files, RowsPerFile, Env.nproc))
    }
    lazy val in: Input = {
      val i = pending.join()
      ctx.info("lake_input") = Json.obj(Seq("files" -> Files.toString,
        "row_changes" -> i.plan.events.toString, "bytes" -> i.plan.bytes.toString))
      i
    }
    private val out = dir("out")
    private def lake(j: Int) = out.resolve(s"lake$j")
    private def scd2(j: Int) = out.resolve(s"scd2$j")

    /** Set-up pass `i`, a lake job: the first, cold one over the
      * quarter-size log, the later ones over the timed input. */
    def setup(i: Int): Unit =
      runMain(warm.args(if (i == 0) warmLog else in.log,
        out.resolve(s"warm-lake$i"), out.resolve(s"warm-scd2$i")))

    /** Timed job `j`: its wall, the time until its event lake was
      * committed, and the bytes of lake and SCD2 files it wrote. */
    def job(j: Int): (Double, Double, Long) = {
      val (wall, committed) = timedJob(in, lake(j), scd2(j))
      Log(f"lake job $j: $wall%.2f s (event lake committed at $committed%.2f s)")
      (wall, committed, Env.dirBytes(lake(j)) + Env.dirBytes(scd2(j)))
    }

    /** Checks the output of timed jobs 0 until `n` on one session. */
    def checkJobs(n: Int): Unit = {
      val spark = Main.cdcSession()
      try (0 until n).foreach(j => check(ctx, spark, s"lake job $j", lake(j), scd2(j), in.plan))
      finally spark.stop()
    }

    /** Traced: untraced/traced job pairs for the tracing overhead, then
      * the prefix-cut breakdown. */
    def traced(): Unit = {
      val gc0 = Env.gcSeconds
      val diffs = (0 until 2).map { j =>
        Main.listenOnNextSession(false)
        val plain = runMain(in.args(in.log, out.resolve(s"plain$j"), out.resolve(s"plain-scd2$j")))
        Main.listenOnNextSession(true)
        val traced = runMain(in.args(in.log, out.resolve(s"traced$j"), out.resolve(s"traced-scd2$j")))
        traced - plain
      }
      val L = ctx.layers
      L("trace.overhead_s") = Stats.median(diffs)
      val t0 = System.nanoTime()
      val spark = Main.cdcSession()
      L("session.start_s") = (System.nanoTime() - t0) / 1e9
      (0 until 2).foreach { j =>
        check(ctx, spark, s"lake job $j", out.resolve(s"plain$j"), out.resolve(s"plain-scd2$j"), in.plan)
        check(ctx, spark, s"lake job $j (traced)", out.resolve(s"traced$j"),
          out.resolve(s"traced-scd2$j"), in.plan)
      }
      breakdown(ctx, spark, in, out)
      L("spark.sched_wait_s") = SpanListener.current.stats.values.map(_.schedWaitMs).sum / 1000.0
      L("session.stop_s") = Main.stopTimed(spark)
      L("jvm.gc_s") = Env.gcSeconds - gc0
    }
  }

  /** Prefix cuts over the CLI's pipeline (see `CdcText.breakdown`). */
  private def breakdown(ctx: Ctx, spark: SparkSession, in: Input, out: Path): Unit = {
    val L = ctx.layers
    val catalog = Main.catalog(spark, in.cols, in.stats).localCheckpoint()
    def decoded = BinlogBinary.parse(spark, in.log.toString)
    def filtered = CdcJob.applyFilters(decoded, CdcConfig())
    val lakeDir = out.resolve("breakdown-lake")
    val scd2Dir = out.resolve("breakdown-scd2")
    val p = new Prefixes(ctx.tracer, spark.sparkContext, "lake")
    p.cut("cdc.catalog")(Main.catalog(spark, in.cols, in.stats).collect().length.toLong)
    p.cut("sources.decode")(Main.consume(decoded))
    p.cut("cdc.filter")(Main.consume(filtered))
    p.cut("cdc.scd2")(Main.consume(CdcJob.scd2(filtered, catalog)))
    p.cut("sink.lake") {
      // CdcMain's two sinks over one cached event frame
      val events = filtered.cache()
      try {
        events.withColumn("p_db", col("db")).withColumn("p_table", col("table"))
          .write.mode("overwrite").partitionBy("p_db", "p_table").parquet(lakeDir.toString)
        CdcJob.scd2(events, catalog)
          .withColumn("p_db", col("db")).withColumn("p_table", col("table"))
          .write.mode("overwrite").partitionBy("p_db", "p_table").parquet(scd2Dir.toString)
      } finally events.unpersist()
    }
    val c = p.run(reps = 2)
    val (cat, decode, filter, scd2, sink) = (c("cdc.catalog"), c("sources.decode"),
      c("cdc.filter"), c("cdc.scd2"), c("sink.lake"))
    def n(c: Cut[Any]) = c.value.asInstanceOf[Long].toDouble
    check(ctx, spark, "breakdown lake", lakeDir, scd2Dir, in.plan)
    L("cdc.catalog.self_s") = cat.seconds
    L("sources.decode.self_s") = decode.seconds
    L("sources.decode.task_busy_s") = decode.stats.busyMs / 1000.0
    L("sources.decode.records_out") = n(decode)
    L("sources.decode.input_read_ratio") = sink.stats.inputBytes.toDouble / in.plan.bytes
    L("cdc.filter.self_s") = filter.seconds - decode.seconds
    L("cdc.filter.records_out") = n(filter)
    L("cdc.scd2.self_s") = scd2.seconds - filter.seconds
    L("cdc.scd2.shuffle_write_mb") = scd2.stats.shuffleWriteBytes / 1048576.0
    L("cdc.scd2.spill_mb") = scd2.stats.spillBytes / 1048576.0
    L("cdc.scd2.task_skew") = scd2.stats.taskSkew
    L("sink.lake.self_s") = sink.seconds - scd2.seconds
    L("sink.lake.files_written") = Env.dataFiles(lakeDir) + Env.dataFiles(scd2Dir)
    L("sink.lake.bytes_written_mb") = (Env.dirBytes(lakeDir) + Env.dirBytes(scd2Dir)) / 1048576.0
    Log(f"breakdown: catalog ${cat.seconds}%.2f decode ${decode.seconds}%.2f " +
      f"filter ${filter.seconds}%.2f scd2 ${scd2.seconds}%.2f sink ${sink.seconds}%.2f s")
  }
}

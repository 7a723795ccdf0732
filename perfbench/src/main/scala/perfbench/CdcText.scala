package perfbench

import java.nio.file.{Files, Path}
import graft.cdc.{CdcConfig, CdcJob, CdcMain}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The text mode of the `cdc` workload: the reference's own job,
  * `CdcMain` over a rotated directory of `mysqlbinlog -vv` text — forward
  * SQL, then a `-B` flashback restricted by datetime window and `-t`
  * tables — one job at a time. */
object CdcText {
  val Tables = 24
  val RowsPerFile = 1000

  final class Input(val log: Path, val cols: Path, val stats: Path,
      val tables: Vector[GenTable], val planted: Vector[Planted], val bytes: Long,
      val window: (Long, Long), val filterTables: Seq[String]) {
    def catalogArg: String = s"$cols,$stats"
    def fwdArgs(out: Path, dir: Path = log): Array[String] =
      Array("--binlog", dir.toString, "--catalog", catalogArg, "-o", out.toString)
    def fbArgs(out: Path): Array[String] = Array("-B", "--binlog", log.toString,
      "--catalog", catalogArg,
      "--start-datetime", TextFeed.isoOf(window._1),
      "--stop-datetime", TextFeed.isoOf(window._2),
      "-t", filterTables.mkString(","), "-o", out.toString)
    lazy val fwdExpected: Vector[Checks.Stmt] = Checks.expectedSql(planted, tables, None)
    lazy val fbExpected: Vector[Checks.Stmt] = Checks.expectedSql(planted, tables,
      Some((window._1, window._2, filterTables.toSet)))
  }

  def generate(ctx: Ctx, root: Path, tables: Vector[GenTable], cols: Path, stats: Path): Input = {
    val files = 4 * Env.nproc
    val log = Files.createDirectories(root.resolve("binlog"))
    val (planted, bytes) = TextFeed.writeLog(log, ctx.seed, tables, files, RowsPerFile)
    val (first, last) = (planted.head.epoch, planted.last.epoch)
    val span = last - first
    // a fixed mix of busy and quiet tables, like the fixed schema
    val names = Seq(1, 4, 7, 10, 13).map(tables(_).name).distinct
    new Input(log, cols, stats, tables, planted, bytes,
      (first + span * 3 / 10, first + span * 7 / 10), names)
  }

  /** One `CdcMain` run: its wall time and how its output grew, as
    * (seconds since start, bytes on disk) at each change. */
  final case class Job(wall: Double, growth: Vector[(Double, Long)]) {
    /** Time to the first SQL bytes on disk: the sort barrier. */
    def firstSql: Double = growth.headOption.map(_._1).getOrElse(wall)
  }

  def runMain(args: Array[String], out: Path): Job = {
    Files.deleteIfExists(out)
    @volatile var done = false
    val growth = Vector.newBuilder[(Double, Long)]
    val t0 = System.nanoTime()
    val watcher = new Thread(() => {
      var last = 0L
      while (!done) {
        val size = try Files.size(out) catch { case _: java.io.IOException => 0L }
        if (size != last) { growth += (((System.nanoTime() - t0) / 1e9, size)); last = size }
        Thread.sleep(1)
      }
    })
    watcher.setDaemon(true)
    watcher.start()
    try CdcMain.main(args)
    finally { done = true; watcher.join() }
    val wall = (System.nanoTime() - t0) / 1e9
    Job(wall, (growth += ((wall, Files.size(out)))).result())
  }

  /** Seconds from a forward job's start until each input file's SQL was
    * all on disk: the first time the output reached the byte where that
    * file's last statement ends. Statement i renders planted change i. */
  def fileLatencies(out: Path, job: Job, planted: IndexedSeq[Planted]): Iterable[Double] = {
    val lines = Files.readAllLines(out)
    val ends = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    var bytes = 0L
    var i = 0
    while (i + 1 < lines.size && i / 2 < planted.length) {
      bytes += lines.get(i).getBytes("UTF-8").length + lines.get(i + 1).getBytes("UTF-8").length + 2
      ends(planted(i / 2).file) = bytes
      i += 2
    }
    ends.values.map(e => job.growth.find(_._2 >= e).map(_._1).getOrElse(job.wall))
  }

  def check(ctx: Ctx, what: String, out: Path, expected: Vector[Checks.Stmt]): Unit = {
    val lines = Files.lines(out)
    val problem = try Checks.parseSql(lines.iterator.asScala) match {
      case Left(p) => Some(p)
      case Right(stmts) => Checks.sql(stmts, expected)
    } finally lines.close()
    ctx.out.check(what, problem)
  }

  /** The text mode of the `cdc` workload, with its inputs under `text/`.
    * The timed input is generated on another thread while the first
    * set-up pass runs. */
  final class Mode(ctx: Ctx) {
    private val root = ctx.dir("text")
    private def dir(name: String): Path = Files.createDirectories(root.resolve(name))
    private val tables = TextFeed.schema(Tables)
    private val (cols, stats) = TextFeed.writeCatalog(dir("catalog"), tables)
    private val warmLog = dir("warm-binlog")
    private val (warmPlanted, _) = TextFeed.writeLog(warmLog, ctx.seed + 1, tables, Env.nproc, RowsPerFile)
    private val pending = Background(generate(ctx, root, tables, cols, stats))
    lazy val in: Input = {
      val i = pending.join()
      ctx.info("text_input") = Json.obj(Seq("files" -> (4 * Env.nproc).toString,
        "row_changes" -> i.planted.length.toString, "bytes" -> i.bytes.toString,
        "tables" -> Tables.toString, "flashback_tables" -> Json.str(i.filterTables.mkString(","))))
      i
    }
    private val fwd = dir("out").resolve("fwd.sql")
    private val fb = dir("out").resolve("fb.sql")

    /** Set-up pass `i`, a forward job: the first, cold one over the
      * quarter-size log, the later ones over the timed input, so the
      * timed jobs find the JIT warm. */
    def setup(i: Int): Unit =
      if (i > 0) runMain(in.fwdArgs(fwd), fwd)
      else {
        val warm = dir("out").resolve("warm.sql")
        runMain(Array("--binlog", warmLog.toString, "--catalog", s"$cols,$stats",
          "-o", warm.toString), warm)
        ctx.excludingFromSetup(check(ctx, "warm-up forward SQL", warm,
          Checks.expectedSql(warmPlanted, tables, None)))
      }

    /** One timed round, forward then flashback, both outputs checked. */
    def round(): Round = {
      val f = runMain(in.fwdArgs(fwd), fwd)
      val b = runMain(in.fbArgs(fb), fb)
      Log(f"forward ${f.wall}%.2f s (first SQL ${f.firstSql}%.2f s), flashback ${b.wall}%.2f s")
      val bytes = Files.size(fwd) + Files.size(fb)
      check(ctx, "forward SQL", fwd, in.fwdExpected)
      check(ctx, "flashback SQL", fb, in.fbExpected)
      Round(f, b, bytes, fileLatencies(fwd, f, in.planted).toSeq)
    }

    /** Traced: untraced/traced job pairs for the tracing overhead, the
      * prefix-cut breakdown of both jobs, and the single-thread baseline. */
    def traced(): Unit = {
      val gc0 = Env.gcSeconds
      val diffs = (0 until 2).map { _ =>
        Main.listenOnNextSession(false)
        val plain = runMain(in.fwdArgs(fwd), fwd).wall
        check(ctx, "forward SQL", fwd, in.fwdExpected)
        Main.listenOnNextSession(true)
        val tracedWall = runMain(in.fwdArgs(fwd), fwd).wall
        check(ctx, "forward SQL (traced)", fwd, in.fwdExpected)
        tracedWall - plain
      }
      val L = ctx.layers
      L("trace.overhead_s") = Stats.median(diffs)
      val t0 = System.nanoTime()
      val spark = Main.cdcSession()
      L("session.start_s") = (System.nanoTime() - t0) / 1e9
      val cfgs = Seq("fwd" -> (CdcConfig(), in.fwdExpected.length.toLong),
        "fb" -> (CdcMain.parseArgs(in.fbArgs(fwd))._3, in.fbExpected.length.toLong))
      cfgs.foreach { case (tag, (cfg, expectRows)) =>
        breakdown(ctx, spark, in, root, tag, cfg, expectRows)
      }
      L("spark.sched_wait_s") = SpanListener.current.stats.values.map(_.schedWaitMs).sum / 1000.0
      L("session.stop_s") = Main.stopTimed(spark)
      L("cdc.parallel_speedup") = speedup(in, root)
      L("jvm.gc_s") = Env.gcSeconds - gc0
    }
  }

  /** A timed round: the forward and flashback jobs, the bytes of SQL
    * they wrote, and the forward job's per-file latencies. */
  final case class Round(fwd: Job, fb: Job, bytes: Long, fileLatency: Seq[Double])

  /** Times each public function of the CLI's pipeline in order, forcing
    * each stage's output; a layer's self time is its prefix minus the
    * prefix it builds on. The catalog is resolved once and handed to the
    * later cuts as a local relation, so they do not pay for it again. */
  private def breakdown(ctx: Ctx, spark: SparkSession, in: Input, root: Path, tag: String,
      cfg: CdcConfig, expectRows: Long): Unit = {
    val L = ctx.layers
    val catalog = Main.catalog(spark, in.cols, in.stats).localCheckpoint()
    def parsed = CdcJob.parse(spark, in.log.toString)
    def filtered = CdcJob.applyFilters(parsed, cfg)
    val sqlOut = root.resolve(s"out/breakdown-$tag.sql")
    val p = new Prefixes(ctx.tracer, spark.sparkContext, tag)
    p.cut("cdc.catalog")(Main.catalog(spark, in.cols, in.stats).collect().length.toLong)
    p.cut("cdc.parse")(Main.consume(parsed))
    p.cut("cdc.filter")(Main.consume(filtered))
    p.cut("cdc.render")(Main.consume(CdcJob.renderUnordered(filtered, catalog, cfg)))
    p.cut("cdc.sort") {
      try Main.consume(CdcJob.render(filtered, catalog, cfg))
      finally spark.catalog.clearCache()
    }
    p.cut("sink.sql") {
      // CdcMain's -o sink: the ordered SQL pulled row by row to a file
      val w = Files.newBufferedWriter(sqlOut)
      try CdcJob.render(filtered, catalog, cfg).select("sql").toLocalIterator()
        .forEachRemaining { r => w.write(r.getString(0)); w.write("\n") }
      finally { w.close(); spark.catalog.clearCache() }
    }
    val c = p.run(reps = 2)
    val (cat, parse, filter, render, sort, sink) = (c("cdc.catalog"), c("cdc.parse"),
      c("cdc.filter"), c("cdc.render"), c("cdc.sort"), c("sink.sql"))
    check(ctx, s"breakdown SQL ($tag)", sqlOut,
      if (tag == "fwd") in.fwdExpected else in.fbExpected)
    ctx.out.check(s"render rows ($tag)",
      if (render.value == expectRows) None
      else Some(s"${render.value} rendered, expected $expectRows"))
    def n(c: Cut[Any]) = c.value.asInstanceOf[Long].toDouble
    def add(k: String, v: Double): Unit = L(k) = L.getOrElse(k, 0.0) + v
    def busy(c: Cut[Any]) = c.stats.busyMs / 1000.0
    def mb(b: Long) = b / 1048576.0
    add("cdc.catalog.self_s", cat.seconds)
    add("cdc.parse.self_s", parse.seconds)
    add("cdc.parse.task_busy_s", busy(parse))
    add("cdc.parse.records_out", n(parse))
    add("cdc.filter.self_s", filter.seconds - parse.seconds)
    add("cdc.filter.records_out", n(filter))
    add("cdc.render.self_s", render.seconds - filter.seconds)
    add("cdc.render.task_busy_s", busy(render) - busy(filter))
    add("cdc.render.records_out", n(render))
    add("cdc.sort.self_s", sort.seconds - render.seconds)
    add("cdc.sort.jobs", sort.stats.jobs - render.stats.jobs)
    add("cdc.sort.shuffle_write_mb", mb(sort.stats.shuffleWriteBytes - render.stats.shuffleWriteBytes))
    add("cdc.sort.spill_mb", mb(sort.stats.spillBytes - render.stats.spillBytes))
    L("cdc.sort.task_skew") = L.getOrElse("cdc.sort.task_skew", 0.0) max sort.stats.taskSkew
    add("sink.sql.self_s", sink.seconds - sort.seconds)
    add("sink.sql.jobs", sink.stats.jobs - sort.stats.jobs)
    add("sink.sql.driver_only_s", sink.stats.driverOnlyMs(sink.span.startMs, sink.span.endMs) / 1000.0)
    // bytes the full job read over bytes on disk: re-reads by the
    // sort's range sampling or an evicted cache show up as > 1 (the
    // ratio is averaged over the forward and flashback jobs)
    add("cdc.parse.input_read_ratio", sink.stats.inputBytes.toDouble / in.bytes / 2)
    Log(f"breakdown $tag: catalog ${cat.seconds}%.2f parse ${parse.seconds}%.2f " +
      f"filter ${filter.seconds}%.2f render ${render.seconds}%.2f sort ${sort.seconds}%.2f " +
      f"sink ${sink.seconds}%.2f s")
  }

  /** Events/s of the forward job at `local[nproc]` over events/s at
    * `local[1]`, on half of the files. Both sessions are built before
    * their job is timed and `CdcMain` joins the one running, so neither
    * wall holds a session start and the CLI runs unchanged. */
  private def speedup(in: Input, root: Path): Double = {
    val sub = Files.createDirectories(root.resolve("speedup"))
    (0 until 2 * Env.nproc).foreach { i =>
      Files.copy(in.log.resolve(TextFeed.fileName(i)), sub.resolve(TextFeed.fileName(i)))
    }
    val out = root.resolve("out/speedup.sql")
    Main.listenOnNextSession(false)
    Main.cdcSession(s"local[${Env.nproc}]")
    val wallN = runMain(in.fwdArgs(out, sub), out).wall
    Main.cdcSession("local[1]")
    val wall1 = runMain(in.fwdArgs(out, sub), out).wall
    Log(f"speedup: local[${Env.nproc}] $wallN%.2f s, local[1] $wall1%.2f s")
    wall1 / wallN
  }
}

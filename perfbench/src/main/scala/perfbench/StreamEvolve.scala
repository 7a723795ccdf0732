package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import graft.cdc.CdcConfig
import graft.streaming.CdcStream
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** The stream mode of the `cdc` workload: `CdcStream.startEvolved`
  * tailing a drop directory that one generator thread feeds at a fixed
  * offered rate — an open loop. Each file is written elsewhere and atomically renamed
  * in when due; the feed carries occasional `ALTER TABLE … ADD COLUMN`.
  * Latency runs from a file's scheduled drop time to the moment the
  * benchmark's sink has written the micro-batch holding it. */
object StreamEvolve {
  val RowsPerFile = 60
  /** Offered load in files per second: about half of the 27 files/s the
    * stream drains from a 200-file backlog at `local[4]`. */
  val Rate = 14.0
  val WarmFiles = 8
  /** Timed files at the least, whatever `--seconds` says: enough that
    * the p95 latency has ten samples beyond it. */
  val MinTimedFiles = 200
  /** Seconds the stream runs at the offered rate, untimed, before the
    * timed window opens: the first micro-batches after a start run slow. */
  val LeadSeconds = 2.0
  /** A feed that renames a file later than this after its due time has
    * not offered the load the run claims: the run fails. */
  val LagLimitMs = 500.0

  /** The benchmark's sink: writes each micro-batch's SQL to one file and
    * stamps, per source file, when the batch holding it was written. */
  final class Sink(out: Path) extends ((DataFrame, Long) => Unit) {
    val emitted = new ConcurrentLinkedQueue[(String, Long)]()
    val doneNs = new ConcurrentHashMap[String, java.lang.Long]()
    val batchOf = new ConcurrentHashMap[String, java.lang.Long]()
    val sinkMs = new ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    val renderMs = new ConcurrentHashMap[java.lang.Long, java.lang.Double]()
    val bytesOf = new ConcurrentHashMap[String, java.lang.Long]()
    @volatile var unresolved = 0L
    @volatile var renderGroup = false
    private val w = Files.newBufferedWriter(out)

    def apply(df: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      val rows = inGroup(df.sparkSession.sparkContext)(
        df.select("file", "seq", "sql").collect())
      val t1 = System.nanoTime()
      val files = scala.collection.mutable.Set.empty[String]
      rows.foreach { r =>
        val f = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
        val sql = r.getString(2)
        w.write(sql); w.write('\n')
        emitted.add((f, r.getLong(1)))
        bytesOf.merge(f, sql.length + 1L, (a, b) => a + b)
        if (sql.contains("`@")) unresolved += 1
        files += f
      }
      w.flush()
      val done = System.nanoTime()
      files.foreach { f => doneNs.putIfAbsent(f, done); batchOf.putIfAbsent(f, id) }
      sinkMs.put(id, (done - t0) / 1e6)
      renderMs.put(id, (t1 - t0) / 1e6)
    }

    /** Runs the batch's render job under the `cdc.render` job group,
      * restoring the stream's own group afterwards. */
    private def inGroup[A](sc: SparkContext)(body: => A): A =
      if (!renderGroup) body
      else {
        val keys = Seq("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel")
        val saved = keys.map(k => k -> sc.getLocalProperty(k))
        sc.setJobGroup("cdc.render", "cdc.render")
        try body finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }

    def close(): Unit = w.close()
  }

  /** Files of the feed in order: name, bytes, planted row changes. */
  final case class FeedFile(name: String, bytes: Array[Byte], rows: Int)

  def feed(ctx: Ctx, tables: Vector[GenTable], n: Int): Vector[FeedFile] = {
    val f = new TextFeed(ctx.seed, tables, evolve = true)
    Vector.tabulate(n) { i =>
      val (b, p) = f.file(i, if (i + 1 < n) TextFeed.fileName(i + 1) else null, RowsPerFile)
      FeedFile(TextFeed.fileName(i), b, p.length)
    }
  }

  /** One running stream with its own directories. */
  final class Live(ctx: Ctx, val tag: String, cols: Path, stats: Path) {
    val root: Path = ctx.dir(s"stream-$tag")
    val stage: Path = Files.createDirectories(root.resolve("stage"))
    val drop: Path = Files.createDirectories(root.resolve("drop"))
    val sink = new Sink(root.resolve("out.sql"))
    val spark: SparkSession = Main.cdcSession()
    val query: StreamingQuery = CdcStream.startEvolved(spark, drop.toString,
      Main.catalog(spark, cols, stats), CdcConfig(), root.resolve("checkpoint").toString)(sink)
    val dropped = scala.collection.mutable.ArrayBuffer.empty[FeedFile]

    /** Writes `files` to the stage, then renames each into the drop
      * directory at its due time (`periodMs` apart from `t0Ns`). Returns
      * each file's lag behind its due time in ms. */
    def offer(files: Seq[FeedFile], t0Ns: Long, periodMs: Double): Seq[Double] =
      files.zipWithIndex.map { case (f, i) =>
        Files.write(stage.resolve(f.name), f.bytes)
        val due = t0Ns + (i * periodMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < due) {
          val ms = (due - now) / 1000000
          if (ms > 1) Thread.sleep(ms - 1) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        Files.move(stage.resolve(f.name), drop.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
        dropped += f
        (System.nanoTime() - due) / 1e6
      }

    /** Waits until every dropped file has been sunk (or `timeoutS`). */
    def awaitSunk(timeoutS: Double): Boolean = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      while (dropped.exists(f => !sink.doneNs.containsKey(f.name)) && System.nanoTime() < end) {
        if (query.exception.isDefined) return false
        Thread.sleep(5)
      }
      dropped.forall(f => sink.doneNs.containsKey(f.name))
    }

    def stop(): Unit = {
      query.stop()
      sink.close()
      spark.stop()
    }

    def check(): Unit = {
      ctx.out.check(s"stream $tag exactly once", query.exception.map(e => s"query failed: $e")
        .orElse(Checks.exactlyOnce(sink.emitted.asScala, dropped.map(f => f.name -> f.rows).toMap)))
      ctx.out.check(s"stream $tag schema evolution",
        if (sink.unresolved == 0) None
        else Some(s"${sink.unresolved} statements name a column by ordinal"))
    }
  }

  /** The stream mode of the `cdc` workload, offering `timedSeconds` of
    * feed (at least `MinTimedFiles` files) in its timed window. A set-up
    * starts a stream on a session of its own and sinks the warm-up
    * files; the last set-up's stream stays up for the timed window. */
  final class Mode(ctx: Ctx, timedSeconds: Double) {
    private val tables = TextFeed.schema(CdcText.Tables)
    private val (cols, stats) = TextFeed.writeCatalog(ctx.dir("stream-catalog"), tables)
    private val timedFiles = math.max(MinTimedFiles, math.round(Rate * timedSeconds).toInt)
    private val leadFiles = math.round(Rate * LeadSeconds).toInt
    // the feed is generated while the first set-up's batch jobs run
    private val pending = Background(feed(ctx, tables, WarmFiles + leadFiles + timedFiles))
    private lazy val (warm, lead, timed) = {
      val (w, rest) = pending.join().splitAt(WarmFiles)
      val (l, t) = rest.splitAt(leadFiles)
      (w, l, t)
    }
    ctx.info("stream_input") = Json.obj(Seq("rate_files_per_s" -> Json.num(Rate),
      "rows_per_file" -> RowsPerFile.toString, "timed_files" -> timedFiles.toString,
      "warm_files" -> WarmFiles.toString, "lead_files" -> leadFiles.toString,
      "tables" -> CdcText.Tables.toString))
    var live: Live = null
    private val period = 1000.0 / Rate

    def setup(i: Int): Unit = {
      live = new Live(ctx, s"setup$i", cols, stats)
      live.offer(warm, System.nanoTime(), 0.0)
      if (!live.awaitSunk(60)) ctx.out.check(s"stream warm-up $i", Some("warm-up files not sunk"))
    }

    /** Stops and checks a set-up's stream before the next set-up. */
    def teardown(): Unit = { live.stop(); live.check() }

    /** The timed window after an untimed lead-in at the rate; stops the
      * stream and checks it. */
    def timedRun(): Result = {
      val lead0 = System.nanoTime()
      val leadLags = live.offer(lead, lead0, period)
      val t0 = lead0 + (lead.length * period * 1e6).toLong
      val lags = leadLags ++ live.offer(timed, t0, period)
      val sunk = live.awaitSunk(60)
      teardown()
      val o = ctx.out
      o.check("all timed files sunk", if (sunk) None else Some("stream fell behind the feed"))
      o.check("feed on schedule", if (lags.max <= LagLimitMs) None
        else Some(f"generator ran ${lags.max}%.0f ms late (limit $LagLimitMs%.0f ms)"))
      val end = timed.flatMap(f => Option(live.sink.doneNs.get(f.name))).map(_.longValue).maxOption
      Result(latencies(live, timed, t0, period), timed.map(_.rows.toLong).sum,
        timed.map(f => Option(live.sink.bytesOf.get(f.name)).map(_.longValue).getOrElse(0L)).sum,
        end.map(e => (e - t0) / 1e9).getOrElse(Double.NaN), lags.max)
    }

    def traced(): Unit = {
      val lead0 = System.nanoTime()
      val leadLags = live.offer(lead, lead0, period)
      StreamEvolve.traced(ctx, live, timed, lead0 + (lead.length * period * 1e6).toLong,
        leadLags, period)
    }
  }

  /** A timed window's outcome: per-file latency in ms, the row changes
    * and SQL bytes of the timed files, seconds from the first due time
    * to the last file sunk, and the feed's worst lag in ms. */
  final case class Result(latencyMs: Seq[Double], events: Long, bytes: Long,
      drainS: Double, lagMaxMs: Double)

  private def latencies(live: Live, files: Seq[FeedFile], t0: Long, period: Double): Seq[Double] =
    files.zipWithIndex.flatMap { case (f, i) =>
      Option(live.sink.doneNs.get(f.name)).map(d => (d - t0) / 1e6 - i * period)
    }

  /** Traced run: the first half of the timed feed untraced, the second
    * half with the span and progress listeners attached; the latency
    * difference is the tracing overhead. */
  private def traced(ctx: Ctx, live: Live, timed: Seq[FeedFile], t0: Long,
      leadLags: Seq[Double], period: Double): Unit = {
    val (plainFiles, tracedFiles) = timed.splitAt(timed.length / 2)
    val lags0 = leadLags ++ live.offer(plainFiles, t0, period)
    val sunk0 = live.awaitSunk(60)
    val plain = Stats.median(latencies(live, plainFiles, t0, period))

    val spanListener = new SpanListener
    val batches = new BatchListener
    live.spark.sparkContext.addSparkListener(spanListener)
    live.spark.streams.addListener(batches)
    live.sink.renderGroup = true
    val gc0 = Env.gcSeconds
    val t1 = System.nanoTime()
    val t1Ms = System.currentTimeMillis()
    val lags1 = live.offer(tracedFiles, t1, period)
    val sunk1 = live.awaitSunk(60)
    val gc = Env.gcSeconds - gc0
    org.apache.spark.PerfbenchBus.drain(live.spark.sparkContext)
    live.stop()
    live.check()
    val o = ctx.out
    o.check("all timed files sunk", if (sunk0 && sunk1) None else Some("stream fell behind the feed"))
    val lags = lags0 ++ lags1
    o.check("feed on schedule", if (lags.max <= LagLimitMs) None
      else Some(f"generator ran ${lags.max}%.0f ms late (limit $LagLimitMs%.0f ms)"))

    val L = ctx.layers
    val lat = latencies(live, tracedFiles, t1, period)
    L("trace.overhead_s") = (Stats.median(lat) - plain) / 1000
    L("jvm.gc_s") = gc
    L("feed.generator_lag_ms_max") = lags.max
    val ids = tracedFiles.flatMap(f => Option(live.sink.batchOf.get(f.name)).map(_.longValue)).distinct
    val prog = batches.snapshot
    val ps = ids.flatMap(prog.get)
    def p50(key: String) = Stats.median(ps.map(_._2.getOrElse(key, 0L).toDouble))
    L("streaming.batches") = ids.length
    L("streaming.files_per_batch_p50") = Stats.median(ps.map(_._3.toDouble))
    L("streaming.query_planning_ms_p50") = p50("queryPlanning")
    L("streaming.wal_commit_ms_p50") = p50("walCommit")
    L("streaming.commit_offsets_ms_p50") = p50("commitOffsets")
    L("streaming.latest_offset_ms_p50") = p50("latestOffset")
    L("streaming.trigger_ms_p50") = p50("triggerExecution")
    L("streaming.add_batch_ms_p50") = p50("addBatch")
    L("streaming.add_batch_ms_max") =
      ps.map(_._2.getOrElse("addBatch", 0L).toDouble).maxOption.getOrElse(0.0)
    L("streaming.pre_sink_ms_p50") = Stats.median(ids.flatMap(id => prog.get(id).map(p =>
      p._2.getOrElse("addBatch", 0L) - live.sink.sinkMs.get(id).doubleValue)))
    L("sink.stream.ms_p50") = Stats.median(ids.map(id => live.sink.sinkMs.get(id).doubleValue))
    L("streaming.trigger_wait_ms_p50") = Stats.median(tracedFiles.zipWithIndex.flatMap {
      case (f, i) => Option(live.sink.batchOf.get(f.name)).flatMap(b => prog.get(b.longValue))
        .map(p => p._1 - (t1Ms + i * period))
    })
    val render = spanListener.get("cdc.render")
    L("cdc.render.self_s") = ids.map(id => live.sink.renderMs.get(id).doubleValue).sum / 1000
    L("cdc.render.task_busy_s") = render.busyMs / 1000.0
    val tracedNames = tracedFiles.map(_.name).toSet
    L("cdc.render.records_out") = live.sink.emitted.asScala.count(e => tracedNames(e._1))
    L("spark.sched_wait_s") = spanListener.stats.values.map(_.schedWaitMs).sum / 1000.0
    L("session.start_s") = {
      val t = System.nanoTime(); val s = Main.cdcSession(); val d = (System.nanoTime() - t) / 1e9
      L("session.stop_s") = Main.stopTimed(s)
      d
    }
  }
}

package perfbench

import scala.collection.mutable

/** `cdc`: the CDC engine in the three ways it ships, on `CdcMain`'s own
  * session, in one run. First the stream mode, an open loop: files
  * offered at a fixed rate to `CdcStream.startEvolved`. Then rounds of
  * the batch modes, a closed loop of one job at a time: a text forward
  * job, its `-B` flashback, and a binary job loading the parquet event
  * lake and SCD2. A set-up runs each mode once on fresh sessions: a
  * forward job and a lake job (the first, cold set-up on small inputs of
  * their own, the later ones on the timed inputs), then a stream start
  * that sinks the warm-up files. */
object Cdc {
  /** Share of `--seconds` the stream's timed window offers; the batch
    * rounds run for the rest. */
  val StreamShare = 0.5
  /** Batch rounds at the least, whatever `--seconds` says. */
  val MinRounds = 3

  def run(ctx: Ctx): Unit = {
    val text = new CdcText.Mode(ctx)
    val lake = new CdcLake.Mode(ctx)
    val stream = new StreamEvolve.Mode(ctx, ctx.seconds * StreamShare)
    // the timed inputs are generated while the first set-up runs; they
    // are waited for between set-ups, untimed
    val setup = ctx.setups(3, _ => { stream.teardown(); text.in; lake.in }) { i =>
      val t0 = System.nanoTime()
      text.setup(i)
      val t1 = System.nanoTime()
      lake.setup(i)
      val t2 = System.nanoTime()
      stream.setup(i)
      Log(f"set-up $i: text ${(t1 - t0) / 1e9}%.2f s, lake ${(t2 - t1) / 1e9}%.2f s, " +
        f"stream ${(System.nanoTime() - t2) / 1e9}%.2f s")
    }
    ctx.recordConfs(stream.live.spark)
    if (ctx.trace) {
      // each mode's layer figures, summed where modes share a layer
      val sum = mutable.LinkedHashMap.empty[String, Double]
      Seq(() => stream.traced(), () => text.traced(), () => lake.traced()).foreach { mode =>
        ctx.layers.clear()
        mode()
        ctx.layers.foreach { case (k, v) => sum(k) = sum.getOrElse(k, 0.0) + v }
      }
      ctx.layers.clear()
      ctx.layers ++= sum
      ctx.layers("session.warmup_pass_s") = Stats.median(setup.tail)
    } else timed(ctx, text, lake, stream, setup)
  }

  private def timed(ctx: Ctx, text: CdcText.Mode, lake: CdcLake.Mode,
      stream: StreamEvolve.Mode, setup: Seq[Double]): Unit = {
    val s = stream.timedRun()
    val rounds = mutable.ArrayBuffer.empty[(CdcText.Round, (Double, Double, Long))]
    def wall = rounds.map { case (t, l) => t.fwd.wall + t.fb.wall + l._1 }.sum
    while (rounds.length < MinRounds || wall < ctx.seconds * (1 - StreamShare))
      rounds += ((text.round(), lake.job(rounds.length)))
    lake.checkJobs(rounds.length)

    val textEvents = text.in.planted.length.toDouble
    val lakeEvents = lake.in.plan.events.toDouble
    val roundEvents = 2 * textEvents + lakeEvents
    def med(f: ((CdcText.Round, (Double, Double, Long))) => Double) = Stats.median(rounds.map(f).toSeq)
    val (fwd, fb, lakeWall) = (med(_._1.fwd.wall), med(_._1.fb.wall), med(_._2._1))
    val o = ctx.out
    o.metric("setup_s", Stats.median(setup), "s")
    // batch throughput: a round's events over the round built of each
    // job's median wall; latency: the stream's, due time to sunk
    o.metric("items_per_s", roundEvents / (fwd + fb + lakeWall), "1/s")
    o.metric("latency_p50_ms", Stats.median(s.latencyMs), "ms")
    o.metric("latency_p95_ms", Stats.quantile(s.latencyMs, 0.95), "ms")
    o.metric("out_bytes_per_item", med(r => r._1.bytes + r._2._3) / roundEvents, "B")
    val fileLat = rounds.flatMap(_._1.fileLatency).toSeq
    o.named("peak_rss_mb") = (Env.peakRssMb, "MB")
    o.named("cdc_text_events_per_s") = (2 * textEvents / (fwd + fb), "events/s")
    o.named("cdc_text_first_sql_s") = (med(_._1.fwd.firstSql), "s")
    o.named("cdc_text_file_latency_p50_ms") = (Stats.median(fileLat) * 1000, "ms")
    o.named("cdc_text_file_latency_p95_ms") = (Stats.quantile(fileLat, 0.95) * 1000, "ms")
    o.named("cdc_lake_events_per_s") = (lakeEvents / lakeWall, "events/s")
    o.named("cdc_lake_bytes_per_event") = (med(_._2._3) / lakeEvents, "B")
    o.named("cdc_lake_commit_s") = (med(_._2._2), "s")
    o.named("cdc_stream_latency_p50_ms") = (Stats.median(s.latencyMs), "ms")
    o.named("cdc_stream_latency_p95_ms") = (Stats.quantile(s.latencyMs, 0.95), "ms")
    o.named("cdc_stream_events_per_s") = (s.events / s.drainS, "events/s")
    o.named("cdc_stream_bytes_per_event") = (s.bytes.toDouble / s.events, "B")
    o.named("feed.generator_lag_ms_max") = (s.lagMaxMs, "ms")
    o.named("rounds") = (rounds.length.toDouble, "count")
    o.named("stream_latency_samples") = (s.latencyMs.length.toDouble, "count")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Per-round benchmark (BASELINE.md §3 method): one untimed warm-up
  * pass over the whole suite (JIT/codegen/broadcast warm), then timed
  * passes per query — the BASELINE-comparable block takes EXACTLY the
  * DuckDB protocol's sample count (min of 3 after warm-up; medians are
  * reported alongside so noise is visible), the extras five. A query
  * with zero successful samples is listed in `failed` and the process
  * exits nonzero — a breakage must never read as a speedup.
  * (See the scheduling comment in main for how passes are laid out
  * against host contention phases and heavy-neighbor pollution.)
  * Prints ONE compact JSON summary line on stdout and writes the full
  * per-entry JSON to `SPARK_GRAFT_BENCH_OUT`; `value` is the suite
  * total over the 24 BASELINE-comparable queries (Q1–Q15, S1–S3, S5,
  * L1–L5) so the 2× rule compares like for like; every query's timing
  * is in the full JSON's `queries` (CDC throughput fixture = c2 at
  * 100k events on sf0.1).
  *
  * Environment: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_LOCAL_DIR`, `SPARK_GRAFT_BENCH_OUT` (paths and size),
  * `SPARK_GRAFT_ONLY`, `SPARK_GRAFT_PASSES` (dev subsets),
  * `SPARK_GRAFT_BREAK` (failure-gate self-test) and `SPARK_GRAFT_TINY`,
  * `SPARK_GRAFT_AQE` (the open tiny-exchange-vs-AQE A/B).
  *
  * Prepared-plan execution: each query's COUNT plan is analyzed,
  * optimized and physically planned ONCE, in the untimed warm-up —
  * the same place the method already puts codegen compilation. Every
  * timed pass then deep-clones that physical plan (fresh exchange
  * nodes, see [[freshPlan]]) and executes the clone end-to-end: scans,
  * broadcast builds, shuffles and aggregation all re-run on every
  * pass; only query COMPILATION is amortized. That mirrors the
  * comparison target: DuckDB re-plans each run in ~1 ms, while
  * Spark's analyzer+optimizer+planner costs 40–300 ms per plan — a
  * prepared-statement tax, not an execution cost, and the suite
  * numbers are meant to compare execution. Queries whose builder
  * function itself runs Spark jobs (iterative plans, driver-built
  * broadcast kernels: l3/a1/a3/d4/…) are detected at warm-up and
  * keep the legacy whole-function timing — for them the build IS
  * part of execution.
  */
object Bench {

  /** The queries whose DuckDB timings BASELINE.md §2 sums. */
  private val BaselineSet: Set[String] = Set(
    "q01_filter_project", "q02_hash_agg", "q03_join_agg", "q04_multi_join",
    "q05_semi_anti", "q06_window", "q07_topk", "q08_rollup",
    "q09_set_intersect", "q10_string_math", "q11_date_scalars", "q12_json",
    "q13_range_join", "q14_percentiles", "q15_corr_subquery",
    "s1_tumbling_window", "s2_sliding_window", "s3_session_windows",
    "s5_dedup", "l1_exact_dedup", "l2_jaccard_pairs", "l3_cosine_topk",
    "l4_text_stats", "l5_tfidf_top3")

  /** Streaming SCENARIO entries: their wall-clock is Structured
    * Streaming micro-batch scheduling (addData → processAllAvailable
    * barriers, watermark advancement across fixed batches), not plan
    * cost — ~40 s of the extras block that drowned the regression
    * signal for the real operators (ADVICE/VERDICT r9). Timed in
    * their own `scenarios` JSON block, separately from `queries`. */
  private val ScenarioSet: Set[String] = Set(
    "s4_late_drop", "s6_running_counter", "s6b_counter_stream",
    "s7_preprocess_stream", "s10_delta_dedup_stream", "s12_stream_join",
    "s13_stream_outer_join", "s17_dynamic_sessions", "s19_complete_topk",
    "s20_stream_full_outer", "s21_stream_static_join",
    "s22_chained_windows", "s23_tws_running_stats",
    "s24_dedup_within_watermark", "s25_ann_index_stream",
    "s26_lsh_index_stream", "s27_lsh_epoch_compact",
    "s28_ann_epoch_compact", "s29_sample_stream", "s30_components_stream",
    "c10_state_stream", "c14_lake_state", "c19_evolve_stream",
    "c23_cdc_apply", "c26_evolve_apply_stream",
    "c21_scd2_stream")

  /** Execution-only stand-in for ReusedExchangeExec inside cloned
    * plans. The remap in [[freshPlan]] cannot produce a
    * ReusedExchangeExec: TreeNode.withNewChildren/mapChildren DISCARD a
    * replacement that is value-equal to the node it replaces
    * (fastEquals), and a remapped ReusedExchangeExec is value-equal to
    * the stale one by construction (the cloned target == the original
    * target, recursively). A distinct node class is never value-equal,
    * so the replacement sticks. Post-planning nothing re-examines
    * partitioning/ordering; execution only needs the delegate calls. */
  private[graft] case class BorrowedExchangeExec(
      override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      target: Exchange)
    extends org.apache.spark.sql.execution.LeafExecNode {
    override def supportsColumnar: Boolean = target.supportsColumnar
    override protected def doExecute()
        : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
      target.execute()
    override def doExecuteBroadcast[T](): org.apache.spark.broadcast.Broadcast[T] =
      target.executeBroadcast()
    override protected def doExecuteColumnar()
        : org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch] =
      target.executeColumnar()
  }

  /** Deep-clone a physical plan so that re-executing it redoes ALL
    * work: TreeNode.clone() resets every node's lazy state (shuffle
    * dependencies, broadcast relation futures, SQL metrics), so scans,
    * broadcast builds and shuffle map stages run again on the clone.
    * One fix-up is required: ReusedExchangeExec is a LEAF that points
    * at the first occurrence of an equivalent exchange by reference —
    * after cloning it would still point into the ORIGINAL tree, whose
    * cached shuffle/broadcast would silently satisfy every later pass
    * (work elision across passes — the whole point of the clone is
    * that this cannot happen). Remap each reuse edge onto the clone of
    * its target via [[BorrowedExchangeExec]]; `collect` traverses both
    * trees in the same order, so positional zip aligns original with
    * clone. */
  private[graft] def freshPlan(plan: SparkPlan): SparkPlan = {
    // transformUp rebuilds the ancestors of a replaced node via
    // case-class copy, and a SparkPlan constructor captures
    // SparkSession.getActiveSession from the CURRENT thread — null on
    // a thread that didn't build the session (shared-JVM test runs),
    // which NPEs later in executeQuery. Pin the plan's own session as
    // this thread's active one first.
    org.apache.spark.sql.SparkSession.setActiveSession(plan.session)
    val cloned = plan.clone()
    val m = new java.util.IdentityHashMap[SparkPlan, Exchange]()
    plan.collect { case e: Exchange => e }
      .zip(cloned.collect { case e: Exchange => e })
      .foreach { case (o, c) => m.put(o, c) }
    val remapped = cloned.transformUp {
      case r: ReusedExchangeExec if m.containsKey(r.child) =>
        BorrowedExchangeExec(r.output, m.get(r.child))
    }
    // Honesty guards — a clone that still shares state with the
    // original would elide work across timed passes, exactly what the
    // clone exists to prevent. Throwing here makes prepare() fall back
    // to legacy whole-function timing for the query.
    // (1) every reuse edge must have been remapped (the IdentityHashMap
    // only covers targets found in the main child tree);
    // (2) subquery expressions (scalar/IN subqueries) hold BaseSubqueryExec
    // nodes that clone() shares BY REFERENCE — their first-pass results
    // would silently satisfy later passes, and the builder-job detector
    // cannot see it.
    remapped.foreach { p =>
      if (p.isInstanceOf[ReusedExchangeExec])
        throw new IllegalStateException("unremapped ReusedExchangeExec in clone")
      if (p.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
        throw new IllegalStateException("subquery expression shares state across passes")
      // (3) an AQE plan's AdaptiveExecutionContext — including its
      // stage-result cache — is a constructor arg, so clone() SHARES
      // it: every later pass would silently reuse the materialized
      // shuffle stages of the first (measured under an untuned AQE-on
      // session, BASELINE.md §3: 'prepared' 2.2 s vs 7.0 s honest
      // whole-function — a fake 3×). AQE sessions take legacy timing.
      if (p.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
        throw new IllegalStateException("AQE plan shares stage cache across clones")
    }
    remapped
  }

  /** Worker threads: `SPARK_GRAFT_CPUS`, default the machine (the
    * per-query sample layout measures the same totals at local[8] and
    * local[32], so cores only add headroom for the heavy candidate
    * joins). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  // At bench SF most shuffles are small, but the heavy candidate
  // joins (d1/d3/l2) need the reduce-side parallelism: interleaved
  // A/Bs put 4 ≈ 8 on the small-query set (±3%, within host noise)
  // and 8 ahead by 30-40% on the heavy set — so 8. A real cluster
  // sizes this to data volume; AQE coalesces either way. An r11
  // re-A/B of 4-vs-8 on the binding block alone dissolved into the
  // subset protocol's ±8% JIT-cold noise, so that block uses 8 too.
  private val QueryShuffle = "8"
  // Scenario-block shuffle/STATE partitions (r16, VERDICT r15 items
  // 3–4): a stateful micro-batch opens (stores × partitions) state
  // stores per batch and pays each one a load→update→commit-delta
  // chain — 4 stores × 8 partitions × 12 batches ≈ 384 store commits
  // on s12, with the commit chain the per-batch floor
  // (OPTIMIZATION_r16.md §3). The feeds are ~10⁵ rows total, so
  // partitions should be sized to STATE VOLUME, not core count: 4
  // halves the store fan-out and was the measured sweet spot (s12
  // wall at 32c: 8 parts 11.2–12.6 s, 4 parts 7.8–10.8 s, 2 parts ≈ 4
  // — same-era interleaved pairs, OPTIMIZATION_r16.md §5), and 8c
  // numbers hold. Session conf, not a plan property: outputs are
  // partition-count-invariant (oracles + golden hashes re-checked); a
  // production stream sizes this to its own state volume.
  private val ScenarioShuffle = "4"

  /** `spark.sql.shuffle.partitions` for one entry. It is a PLAN-time
    * setting, so prepared plans bake it in at compile time and legacy
    * runs re-assert it per run. */
  private[graft] def shufflePartitionsFor(name: String): String =
    if (ScenarioSet(name)) ScenarioShuffle else QueryShuffle

  /** The bench session profile. Bench times with it and PlanDump dumps
    * plans with it, so a dumped plan is by construction the plan the
    * bench runs. Every value is session config, not a plan property. */
  def sessionConf(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // Tiny-exchange elimination (TinyExchangeElimination): static
    // single-partition plans for dim-sized inputs — the bench session
    // has AQE off, so the adaptive coalescer cannot make this call at
    // runtime; the rule makes it at plan time from file-scan stats.
    // Interleaved A/B (r12, whole-function, 23 binding queries ×7):
    // 3.60 s off → 2.96 s on, zero result diffs, l2's fan-out
    // preserved. SPARK_GRAFT_TINY=off reverts for A/B.
    "spark.graft.tinyExchange.enabled" ->
      (!sys.env.get("SPARK_GRAFT_TINY").contains("off")).toString,
    "spark.sql.shuffle.partitions" -> QueryShuffle,
    // AQE OFF for the bench session: every join in the suite already
    // declares its broadcast/shuffle strategy statically (explicit
    // broadcast() on dims, 256 MB static threshold for the rest), so
    // at bench SF AQE's only observable effect is stage-by-stage
    // materialization + replanning — measured ~0.1 s per exchange,
    // which doubles multi-stage sub-second queries (l2: 1.57 s → 0.74 s
    // in the same session). At production scale AQE should be ON
    // (skew joins, runtime coalescing) — it is a session config, not a
    // plan property; Verify keeps the default-on path covered. The
    // whole tuned-vs-untuned session gap is quantified in BASELINE.md
    // §3. SPARK_GRAFT_AQE=on: the item-7 A/B cell — same session,
    // AQE's runtime coalescing in place of the static tiny-exchange
    // rule (the rule skips AQE sessions; see TinyExchangeElimination).
    "spark.sql.adaptive.enabled" ->
      sys.env.get("SPARK_GRAFT_AQE").contains("on").toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (256L << 20).toString,
    // local mode: every task is process-local; never wait on locality
    "spark.locality.wait" -> "0",
    // un-hinted shuffle joins: hash, not sort-merge — the suite's
    // shuffle joins build on bounded aggregates (vocab, candidate
    // sets), where SHJ skips two sorts. Session conf, not a plan
    // property: a cluster keeps SMJ for unbounded build sides.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // the SQL-start listener event embeds a plan description even
    // with the UI off; "simple" keeps that string cheap (the
    // formatted tree walk is measurable on the bigger plans).
    // Shuffle/broadcast compression off: sub-megabyte payloads on
    // tmpfs, the codec only costs CPU.
    "spark.sql.ui.explainMode" -> "simple",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.broadcast.compress" -> "false",
    // Shuffle/spill files on tmpfs when available: at bench SF the
    // shuffles are tiny, so file-creation latency (not bandwidth)
    // dominates — RAM-backed local dirs shave it. A real cluster
    // points this at local SSDs; it is an env concern, not a plan one.
    "spark.local.dir" -> sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark"
      else System.getProperty("java.io.tmpdir")))

  /** A session with the engine's extensions and [[sessionConf]]. */
  def session(cpus: String): SparkSession =
    sessionConf(cpus).foldLeft(
      SparkSession.builder().withExtensions(new GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  def main(args: Array[String]): Unit = {
    // Scratch root for checkpoints/state stores/index warehouses is
    // the JVM's java.io.tmpdir. r15 silently pointed it at /dev/shm;
    // it helped on the build host but the driver's own 32-core runs
    // regressed the checkpoint/state-store/epoch-heavy scenarios
    // 2-3.8x round-over-round with a 4-9x 32c-vs-8c anti-scaling
    // signature — tmpfs pages competing with the JVM heap for RAM is
    // host-dependent, the guide's classic local-mode config twiddle —
    // so r16 reverted it (OPTIMIZATION_r16.md §1). A host with
    // headroom passes -Djava.io.tmpdir=… in the run JVM's options
    // (build.sbt); the resolved value is recorded in the JSON artifact
    // (ADVICE r15).
    val tmpRoot = System.getProperty("java.io.tmpdir")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus
    // Dev-iteration knobs (driver uses the defaults): restrict to a
    // comma-separated query subset / fewer timed passes.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    /** Per-query executable: prepared-plan clone-and-run when the
      * builder is action-free, legacy build+count otherwise.
      * `prepared` records the classification so the post-warm-up
      * re-preparation pass (below) knows which entries to revisit. */
    final case class Runnable(name: String, run: () => Long,
        prepared: Boolean = false)

    // Prepared plans bake the partition count at compile time (confFor
    // runs before prepare/legacy construction below); legacy runnables
    // build their plan inside the timed pass, so they re-assert it per
    // run. Runs are strictly sequential — no conf races.
    def confFor(name: String): Unit =
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitionsFor(name))

    def legacy(qd: QueryDef): Runnable =
      Runnable(qd.name, () => { confFor(qd.name); qd.fn(spark, sfDir).count() })

    // Builder-side job detector: jobs submitted while a query function
    // constructs its frame (driver-built kernels, k-means sampling,
    // iterative connected-components rounds) mean the function IS the
    // query — those keep whole-function timing. Job-start events are
    // delivered async; the construction blocks on its own actions, so
    // a short post-construction drain makes the count reliable (warm-up
    // only — nothing here is timed).
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(): Unit
      }
    })

    def prepare(qd: QueryDef): Runnable = {
      val before = jobCount.get()
      val counted = qd.fn(spark, sfDir).groupBy().count()
      val plan = counted.queryExecution.executedPlan
      // A cached subtree is cross-pass state the clone cannot make
      // honest: after the first pass re-materializes it, later passes
      // would read warm blocks and skip the work (measured: c2 drops
      // 0.81 s → 0.07 s, a fake 11×). Whole-function timing rebuilds
      // the cache per pass, which is the real cost of those queries.
      val caches = plan.exists {
        case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
        case _ => false
      }
      // Drain the async listener bus before reading the counter: poll
      // until the count is stable across two consecutive intervals (a
      // fixed sleep raced a slow bus — a builder job whose JobStart
      // arrived later than the sleep misclassified an action-running
      // builder into the prepared path).
      var drained = jobCount.get()
      var spins = 0
      var stable = false
      while (!stable && spins < 100) {
        Thread.sleep(40)
        val now = jobCount.get()
        stable = now == drained
        drained = now
        spins += 1
      }
      // Validate cloneability once, up front: freshPlan throws on
      // clones that would share state across passes (stale reuse
      // edges, subquery expressions) — caught by the caller, which
      // falls back to legacy whole-function timing.
      freshPlan(plan): Unit
      if (caches || drained != before) legacy(qd)
      else Runnable(qd.name, prepared = true, run = () => {
        val fresh = freshPlan(plan)
        // Without AQE, driver-side RDD DAG construction awaits each
        // broadcast build in turn — on a multi-dim join the builds
        // serialize. Submit them all up front so they overlap, which
        // is exactly how AQE materializes exchange stages; the builds
        // still run (and are timed) inside this pass.
        fresh.foreach {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            b.submitBroadcastJob(): Unit
          case _ => ()
        }
        fresh.executeCollect()(0).getLong(0)
      })
    }

    def once(r: Runnable): Double = {
      val t0 = System.nanoTime()
      val ok = try { r.run(); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9 // before cache teardown
      // intra-query caches (shingle sets, band frames, CDC renders)
      // must not pile up across the suite — they'd distort later
      // queries via GC/storage pressure. An explicit System.gc() here
      // was A/B'd in r6 and made the BASELINE TOTAL 0.8–1.3 s WORSE
      // at both local[8] and local[32] (full G1 collection on the 20g
      // heap shrinks/uncommits regions, and the next timed query pays
      // the recommit) — so the teardown only clears the cache.
      spark.catalog.clearCache()
      if (ok) dt else -1.0
    }

    // Failure-injection knob for harness self-tests: the named queries
    // throw on every pass, which must surface as "failed":[...] in the
    // JSON and a nonzero exit — a broken query must never silently
    // drop out of the suite total and read as a speedup.
    val broken = sys.env.get("SPARK_GRAFT_BREAK")
      .map(_.split(',').toSet).getOrElse(Set.empty[String])
    def brokenRunnable(name: String): Runnable =
      Runnable(name, () => throw new IllegalStateException(
        s"SPARK_GRAFT_BREAK: $name deliberately broken"), prepared = true)

    val defs = SparkEntry.allDefs.filter(qd => only.forall(_(qd.name)))
    val runnables = defs.map { qd =>
      confFor(qd.name) // plan-time setting for the prepare path
      if (broken(qd.name)) brokenRunnable(qd.name)
      else try prepare(qd) catch { case _: Throwable => legacy(qd) }
    }
    // BASELINE.md method = min of N after warm-up (N=5 here, ≥ the
    // method's 3). Scheduling is shaped by two measured hazards:
    //  - NEIGHBOR POLLUTION: a multi-second LSH/CDC extra inflates the
    //    queries that run right after it by tens of percent (q04
    //    0.50 s solo vs 0.84 s straight after the dedup block —
    //    allocation debt, cleanup, cache/JIT turbulence). The DuckDB
    //    suite ran alone and never saw such conditions, so the
    //    BASELINE-comparable block must run contiguously, not
    //    sandwiched between extras.
    //  - CONTENTION PHASES: the host VM shows multi-MINUTE external
    //    slow phases; if all N samples of a query land inside one, its
    //    min is poisoned.
    // Layout: warm the extras FIRST and the comparison block LAST
    // (warm-up absorbs the pollution), then the comparison block's
    // front samples (2 of its 3) while the session is clean, the
    // extras' 5 passes, and the remaining comparison sample at the
    // end — a slow phase over either end leaves the other end's
    // samples clean.
    // Scenario entries run FIRST, fully (warm-up + their own 2 timed
    // passes): their multi-second micro-batch latency then never sits
    // between two timed samples of a real operator, and the extras
    // warm-up below absorbs whatever turbulence they leave behind.
    val (scenRunnables, coreRunnables) =
      runnables.partition(r => ScenarioSet(r.name))
    def warm(rs: Seq[Runnable]): Unit = rs.foreach { r =>
      try { r.run() } catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    def runPassOf(rs: Seq[Runnable]): Map[String, Double] =
      rs.map(r => r.name -> once(r)).toMap
    warm(scenRunnables)
    val scenPasses = (1 to 2).map(_ => runPassOf(scenRunnables))
    val (blockA0, blockB0) = coreRunnables.partition(r => BaselineSet(r.name))
    warm(blockB0); warm(blockA0)
    // RE-PREPARATION (r15, guide §1.4): builders with ONE-TIME
    // idempotent side effects (persisted index builds, delta/tombstone
    // folds, fixture materialization) run Spark jobs on their FIRST
    // construction only, so the initial prepare() — which runs before
    // any warm-up — classified them legacy and every timed pass paid
    // analyze+optimize+plan again (a 0.1–0.6 s/pass prepared-statement
    // tax on the index-family entries; a14's anti-join-over-unions
    // optimizes in ~0.2 s alone). After warm-up those builders are
    // action-free no-ops (guard hit), so a second prepare() classifies
    // them honestly: the cloned-plan run still re-executes every scan,
    // broadcast and shuffle (see freshPlan) — only query COMPILATION is
    // amortized, exactly the methodology the prepared path already
    // applies to every action-free query. Builders that run jobs on
    // EVERY construction (driver-built kernels: l3/a1/a3/d4/graph fast
    // paths) are re-detected and stay legacy — for them the build IS
    // the query. Scenario entries are never re-prepared (their builders
    // run whole streaming scenarios).
    def reprepare(rs: Seq[Runnable]): Seq[Runnable] =
      rs.map { r =>
        if (r.prepared) r
        else defs.find(_.name == r.name).fold(r) { qd =>
          confFor(qd.name)
          try prepare(qd) catch { case _: Throwable => legacy(qd) }
        }
      }
    val blockA = reprepare(blockA0)
    val blockB = reprepare(blockB0)
    // The flipped-entry list goes into the JSON artifact too (ADVICE
    // r15): per-entry timing mode must be readable from the artifact
    // alone, not just a stderr log line.
    val reprepared = (blockA0 ++ blockB0).zip(blockA ++ blockB)
      .collect { case (o, n) if !o.prepared && n.prepared => n.name }
    if (reprepared.nonEmpty) System.err.println(
      s"bench: re-prepared after warm-up (${reprepared.size}): " +
        reprepared.mkString(","))
    // The comparison block takes EXACTLY the DuckDB method's sample
    // count — min of 3 after warm-up (BASELINE.md §3; r6 took
    // min-of-8, which biases the min lower under noise than the
    // baseline's own protocol — twice-advised, equalized in r7) —
    // split 2 before and 1 after the extras' passes so a host slow
    // phase over either end leaves the other end's samples clean.
    // Median is reported alongside min for every query so readers can
    // judge noise without re-running.
    // PER-QUERY CONSECUTIVE sampling inside each half (r6): each
    // query takes its half's samples back-to-back, exactly DuckDB's
    // warm-up-then-min-of-3 protocol. Interleaved passes made every
    // sample pay the cross-query JIT re-profiling tax (measured:
    // q04 0.35 s solo vs 0.45–0.8 s interleaved, and no single
    // neighbor responsible — the penalty scales with the count of
    // distinct plans between two runs of the same query); running a
    // query's samples consecutively re-pays it once per HALF, and the
    // min keeps the hot samples. The two halves stay far apart in
    // time, preserving the slow-phase hedge.
    val aPasses = 3
    val aFront = (aPasses + 1) / 2
    def runHalf(rs: Seq[Runnable], k: Int): Seq[Map[String, Double]] = {
      val samples = rs.map(r => r.name -> (1 to k).map(_ => once(r)))
      (0 until k).map(i => samples.map { case (n, ts) => n -> ts(i) }.toMap)
    }
    val passes =
      runHalf(blockA, aFront) ++
        runHalf(blockB, nPasses) ++
        runHalf(blockA, aPasses - aFront)
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val samples = coreRunnables.map { r =>
      r.name -> passes.flatMap(_.get(r.name)).filter(_ >= 0)
    }
    val results = samples.map { case (n, ts) =>
      n -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    val scenSamples = scenRunnables.map { r =>
      r.name -> scenPasses.flatMap(_.get(r.name)).filter(_ >= 0)
    }
    val scenResults = scenSamples.map { case (n, ts) =>
      n -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    // A query with zero successful samples FAILED: it must appear by
    // name in the JSON and force a nonzero exit (below) — the old
    // harness dropped its -1 from the total, reporting a breakage in
    // the BaselineSet as a suite speedup. Scenario entries keep the
    // same loud-failure contract even though they are timed apart.
    val failed = (results ++ scenResults).collect { case (n, v) if v < 0 => n }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMedian = samples
      .map { case (k, ts) => "\"" + k + "\":" + (if (ts.nonEmpty) median(ts) else -1.0) }
      .mkString("{", ",", "}")
    val total = results
      .collect { case (k, v) if BaselineSet(k) && v >= 0 => v }.sum
    // Continuity with the r1–r4 methodology (BASELINE.md §3): the same
    // suite total under legacy whole-function timing — analyze/
    // optimize/plan INSIDE the timer — min of 3 passes at the end of
    // the run. The loud-failure contract covers this continuity metric too: a
    // query with zero successful legacy samples joins the failure list
    // (rc≠0) instead of silently shrinking the sum — and a
    // SPARK_GRAFT_BREAK query stays broken here, so the self-test
    // exercises this path as well.
    val (wholeFnTotal, wholeFnFailed) = {
      val lr = defs.filter(qd => BaselineSet(qd.name)).map(qd =>
        if (broken(qd.name)) brokenRunnable(qd.name) else legacy(qd))
      val lp = (1 to 3).map(_ => runPassOf(lr))
      val perQ = lr.map(r => r.name -> lp.flatMap(_.get(r.name)).filter(_ >= 0))
      (perQ.collect { case (_, ts) if ts.nonEmpty => ts.min }.sum,
        perQ.collect { case (n, ts) if ts.isEmpty => n })
    }
    // CDC throughput vs BASELINE.md §1 (c2 = forward render of the
    // 100k-event fixture at sf0.1, 10k at smaller SFs)
    val cdcEvents = if (sfDir.contains("0.1")) 100000 else 10000
    val cdcRate = results.toMap.get("c2_forward_sql")
      .filter(_ > 0).map(t => (cdcEvents / t).round).getOrElse(-1L)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wfFailedJson = wholeFnFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val layout = "per_query"
    val scens = scenResults.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val scensMedian = scenSamples
      .map { case (k, ts) => "\"" + k + "\":" + (if (ts.nonEmpty) median(ts) else -1.0) }
      .mkString("{", ",", "}")
    // Era stamp (VERDICT r11 item 7): the host's performance era moves
    // BOTH engines by tens of percent (BASELINE.md §4), so a ratio is
    // only meaningful between same-era runs. Every artifact carries its
    // own run timestamp; tools/bench_duckdb.py stamps its output the
    // same way and tools/pair_ratio.py refuses cross-era pairings.
    val runUtc = java.time.Instant.now().toString
    val repreparedJson = reprepared.map("\"" + _ + "\"").mkString("[", ",", "]")
    val jsonLine = s"""{"metric":"total","value":$total,"unit":"sec","run_utc":"$runUtc","total_whole_function":$wholeFnTotal,"queries":$qs,"queries_median":$qsMedian,"scenarios":$scens,"scenarios_median":$scensMedian,"failed":$failedJson,"failed_whole_function":$wfFailedJson,"layout":"$layout","samples_baseline":$aPasses,"samples_extras":$nPasses,"sf":"$sfDir","cdc_events_per_sec":$cdcRate,"cpus":$cpus,"tmpdir":"$tmpRoot","reprepared":$repreparedJson}"""
    // The full line is ~7-14 KB: two rounds of driver artifacts kept
    // only the stdout tail and truncated the verdict at its front
    // away. It goes ONLY to a committed repo file, so the bench outcome
    // is always readable without a re-run and stdout carries exactly
    // one "metric":"total" line (the summary below).
    // A subset run (SPARK_GRAFT_ONLY) must NEVER overwrite the
    // committed full-suite artifact: r14 ended with a 2-query sentinel
    // probe committed as bench_full.json while the real run sat
    // uncommitted. If this run timed fewer entries than the driver
    // surface and no explicit output path was given, divert to
    // bench_partial.json and say so.
    val fullRun = defs.size == SparkEntry.allDefs.size
    val benchOut = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (fullRun) "bench_full.json"
      else {
        System.err.println(s"bench: subset run (${defs.size}/" +
          s"${SparkEntry.allDefs.size} entries) — writing bench_partial.json, " +
          "NOT bench_full.json")
        "bench_partial.json"
      }
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    catch { case e: java.io.IOException =>
      System.err.println(s"bench_full write failed ($benchOut): $e") }
    // COMPACT summary as the FINAL stdout line (VERDICT r15 item 2):
    // the driver keeps only a 2000-byte stdout tail, so since r13 the
    // driver's PERF parsed nothing (`parsed: null`). This line carries
    // the binding verdict (value, whole-function continuity total), the
    // per-block sums, the failure lists, and the self-describing
    // metadata (tmpdir, flipped-to-prepared entries) in well under 2000
    // bytes; the complete per-query maps stay in $benchOut.
    // It deliberately carries NO "queries" map: a truncated per-query
    // map could be misread as entries dropping out of the suite.
    val queriesSum = results.collect { case (_, v) if v >= 0 => v }.sum
    val scenariosSum = scenResults.collect { case (_, v) if v >= 0 => v }.sum
    def summaryWith(rep: String, fl: String, wfFl: String) = s"""{"metric":"total","value":$total,"unit":"sec","run_utc":"$runUtc","total_whole_function":$wholeFnTotal,"queries_sum":$queriesSum,"scenarios_sum":$scenariosSum,"n_queries":${results.size},"n_scenarios":${scenResults.size},"failed":$fl,"failed_whole_function":$wfFl,"cdc_events_per_sec":$cdcRate,"sf":"$sfDir","cpus":$cpus,"tmpdir":"$tmpRoot","layout":"$layout","samples_baseline":$aPasses,"samples_extras":$nPasses,"full_json":"$benchOut","reprepared_n":${reprepared.size},"reprepared":$rep}"""
    // the whole point is fitting a 2000-byte tail — if the flipped list
    // ever grows past that, keep the count and drop the names here, and
    // past that turn the failure lists into counts (the names remain
    // in the $benchOut file)
    def fits(line: String) =
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 1900
    val summaryLine = Seq(
      summaryWith(repreparedJson, failedJson, wfFailedJson),
      summaryWith("[]", failedJson, wfFailedJson)
    ).find(fits).getOrElse(
      summaryWith("[]", failed.size.toString, wholeFnFailed.size.toString))
    println(summaryLine)
    spark.stop()
    if (failed.nonEmpty || wholeFnFailed.nonEmpty) {
      System.err.println(
        s"BENCH FAILURES: ${(failed ++ wholeFnFailed.map(_ + " (whole-function)")).mkString(", ")}")
      sys.exit(1)
    }
  }
}

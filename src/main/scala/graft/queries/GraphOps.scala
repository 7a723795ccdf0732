package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (r14): nodes = parts,
  * undirected edge (a, b) when parts a and b appear in the same order
  * (the classic market-basket projection, canonicalized `src < dst`,
  * deduplicated — built in aggregate form, see [[coPurchaseEdges]]).
  * Order size is bounded by schema contract (TPC-H ≤ 7 lines/order),
  * so the per-order pair expansion is O(1) per order and the edge
  * build is one order-grain shuffle — no quadratic blowup at any SF.
  *
  * Both operators are EXACT and ORDER-INDEPENDENT by construction:
  *
  *  - g1 PageRank runs in scaled fixed-point integer arithmetic
  *    (SCALE = 1e12, damping 0.85 as `(85 * x) DIV 100`). Float
  *    PageRank is nondeterministic on a cluster — partial-sum order
  *    varies with partitioning, and after 5 damped iterations the
  *    low bits differ run-to-run, which poisons hash-compared results
  *    and makes regressions undiagnosable. Integer sums are
  *    associative-commutative, so a 1000-executor run and DuckDB
  *    produce bit-identical ranks (spec: repartition-invariance).
  *  - g2 triangle counting orients each edge from its (degree, id)-
  *    smaller endpoint to the larger (the Schank–Wagner/Cohen
  *    map-reduce orientation): every wedge is generated at its
  *    lowest-degree vertex, bounding per-vertex candidate pairs by
  *    O(sqrt(m)) instead of O(max-degree²) — the skew bomb a raw
  *    neighbor self-join detonates on hub nodes at 100 TB.
  *
  * Scale notes (100 TB design intent):
  *  - the symmetrized edge list is built ONCE, hash-partitioned by
  *    `src`, and cached; `InMemoryRelation` preserves the cached
  *    plan's `outputPartitioning`, so each PageRank iteration's
  *    contribution join exchanges only the rank frame (N rows) —
  *    the edge side (m rows, the heavy side) never re-shuffles.
  *  - 5 unrolled iterations keep lineage shallow; a production run at
  *    30–50 iterations would `localCheckpoint` every ~5 to cut plan
  *    growth (documented, not needed at bench depth).
  *  - vertex set = endpoints of edges (isolated parts carry no rank
  *    mass and no triangles; both engines derive the same set).
  */
object GraphOps {

  private val Scale = 1000000000000L // 1e12 fixed-point rank mass

  /** Canonical undirected co-purchase edges: src < dst, distinct.
    * Aggregate form: collect each order's part SET once (map-side-
    * combined — the shuffle carries ORDER grain, not line grain),
    * expand the ≤(7·6/2) in-array pairs with a higher-order
    * expression, canonicalize with least/greatest (collect_set order
    * is nondeterministic; combinations cover each unordered pair
    * exactly once regardless), then one distinct. One exchange fewer
    * than the self-join twin below and no dual sort of the line-grain
    * fact: measured 2.09 vs 2.84 s warm / 3.78 vs 7.45 s cold at
    * sf0.1, identical edge sets (GraphOpsSpec pins the equality
    * against the self-join twin). The oracle keeps the self-join form
    * — cross-engine agreement between the two constructions is part
    * of the check. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    coPurchaseEdgesWeighted(lineitem).select("src", "dst")

  /** [[coPurchaseEdges]] with the CO-OCCURRENCE WEIGHT kept: w = the
    * number of distinct orders containing the pair (collect_set
    * dedups parts within an order, so each order credits a pair at
    * most once). The groupBy replaces the unweighted form's distinct
    * — same exchange, one count on top — and thresholding w yields
    * the co-purchase BACKBONE graph (g5): the ≥2-order edges are the
    * non-chance relationships, under which the one-giant-hairball
    * co-occurrence graph fragments into real clusters. */
  def coPurchaseEdgesWeighted(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(expr(
        """flatten(transform(ps, (x, i) ->
          |  transform(slice(ps, i + 2, size(ps)), y ->
          |    struct(least(x, y) AS src, greatest(x, y) AS dst))))""".stripMargin))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  // ---------------------------------------------------------------
  // Persisted edge table (r15): the four graph entries share ONE
  // materialized co-purchase edge list instead of re-running the
  // lineitem→edges projection per entry (2.7–3.9 s of each entry's
  // bench wall was the shared build; a deployment computes the edge
  // list once and serves every graph query from it — the a12
  // index-as-a-table lifecycle applied to the graph family).
  // Bucketed by src (w1's lever): the downstream repartition(src) of
  // the un-flipped half is satisfied by the table layout.
  // ---------------------------------------------------------------

  private lazy val GraphWarehouse = graft.TmpDirs.processRoot("graft_graph_index")
  private val edgeTableSf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize the canonical edge list once per corpus dir —
    * idempotent, the ensureAnnIndexBase pattern. */
  def ensureEdgeTable(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (edgeTableSf.get("edges") == d &&
        s.catalog.tableExists("graft_graph_edges")) return
      edgeTableSf.remove("edges")
      // persisted WITH the co-occurrence weight: one table serves the
      // unweighted consumers (g1–g4 project it away — parquet column
      // pruning never reads w) and the thresholded backbone (g5)
      coPurchaseEdgesWeighted(Tables.lineitem(s, d))
        .repartition(8, col("src")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$GraphWarehouse/edges")
        .bucketBy(8, "src").sortBy("src", "dst")
        .saveAsTable("graft_graph_edges")
      edgeTableSf.put("edges", d)
    }

  /** The shared persisted edge list for corpus `d` — unweighted
    * (src, dst) view, the g1–g4 contract. */
  def edgeTable(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    ensureEdgeTable(s, d)
    s.table("graft_graph_edges").select("src", "dst")
  }

  /** The same persisted table with the co-occurrence weight (g5). */
  def weightedEdgeTable(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    ensureEdgeTable(s, d)
    s.table("graft_graph_edges")
  }

  /** Self-join twin of [[coPurchaseEdges]] — the reference
    * construction the GraphOpsSpec equality spec compares against. */
  private[graft] def coPurchaseEdgesJoin(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("src"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("dst"))
    a.join(b, "ok")
      .filter(col("src") < col("dst"))
      .select("src", "dst")
      .distinct()
  }

  /** Degree per node over the canonical edge list. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** The small-graph probe: a cheap count decides the path, then ONE
    * full-parallelism primitive collect fetches the edge set.
    * `Some((srcs, dsts))` = the WHOLE edge set (≤ limit, safe to fold
    * on the driver); `None` = over the bound, or an edge with a null
    * endpoint — caller takes the distributed path. The cap keeps the
    * driver safe at any scale: a 100 TB graph answers the count and
    * returns `None`, the edges never materialize.
    *
    * r15 (guide §1.2 per-task / §5 driver): the old form collected
    * `limit + 1` rows through CollectLimit, whose incremental
    * partition ramp (1 partition, then 4×…) scanned the table in
    * 2–3 sequential waves and boxed every edge into a Row + Tuple2 —
    * at the bench graph (~10⁶ edges) the ramp + boxing was a
    * measurable slice of every graph entry. The count() is answered
    * from parquet metadata/column stats in one sub-50 ms job; the
    * collect drains each partition into primitive long builders
    * (InternalRow access, no boxing) and runs all partitions at once. */
  private def smallEdges(edges: DataFrame,
      limit: Long): Option[(Array[Long], Array[Long])] = {
    if (limit <= 0) return None
    val cap = math.min(limit, Int.MaxValue - 1L).toInt
    val projected = edges.select(col("src"), col("dst"))
    // Non-Long edge schema (ADVICE r15): the primitive InternalRow
    // drain below would silently MISREAD int columns (the old
    // Row.getLong path threw). The declared queries all feed BIGINT
    // endpoints; an arbitrary caller frame routes to the distributed
    // path, which computes correctly for any numeric type.
    if (projected.schema.fields.exists(
        _.dataType != org.apache.spark.sql.types.LongType)) return None
    if (edges.count() > cap) return None
    // The collect is bounded ON ITS OWN (ADVICE r15): the count and
    // the collect are two jobs, so driver safety must not rest on them
    // seeing the same snapshot (live-appended tables, non-deterministic
    // frames). Each partition drains at most cap+1 rows — growth
    // between the two jobs can add at most (cap+1) per partition, not
    // an unbounded edge set — and any partition hitting the brake, or
    // a total above cap, answers None before the driver merge copies
    // anything.
    val parts = projected
      .queryExecution.toRdd.mapPartitions { it =>
        val sb = new scala.collection.mutable.ArrayBuilder.ofLong
        val db = new scala.collection.mutable.ArrayBuilder.ofLong
        var n = 0
        var bail = false
        while (it.hasNext && !bail) {
          val r = it.next()
          // A null endpoint cannot enter the primitive arrays; the
          // distributed path applies SQL null semantics to it, so
          // routing there keeps both paths' answers equal.
          if (r.isNullAt(0) || r.isNullAt(1) || n > cap) bail = true
          else {
            sb += r.getLong(0)
            db += r.getLong(1)
            n += 1
          }
        }
        Iterator((sb.result(), db.result(), bail))
      }.collect()
    if (parts.exists(_._3)) return None
    val n = parts.iterator.map(_._1.length).sum
    if (n > cap) return None
    val srcs = new Array[Long](n)
    val dsts = new Array[Long](n)
    var o = 0
    parts.foreach { case (s, d, _) =>
      System.arraycopy(s, 0, srcs, o, s.length)
      System.arraycopy(d, 0, dsts, o, d.length)
      o += s.length
    }
    Some((srcs, dsts))
  }

  /** Sorted distinct values of `srcs ++ dsts` — the driver kernels'
    * node index (lookups are `Arrays.binarySearch`). */
  private def nodeIndexOf(srcs: Array[Long], dsts: Array[Long]): Array[Long] = {
    val flat = new Array[Long](srcs.length * 2)
    System.arraycopy(srcs, 0, flat, 0, srcs.length)
    System.arraycopy(dsts, 0, flat, srcs.length, dsts.length)
    java.util.Arrays.parallelSort(flat) // sorted output is order-independent
    var w = 0
    var j = 0
    while (j < flat.length) {
      if (w == 0 || flat(j) != flat(w - 1)) { flat(w) = flat(j); w += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(flat, w)
  }

  /** Per-edge endpoint ordinals, computed ONCE (one binary-search pass
    * over the edge list) and reused by every later kernel pass — the
    * old per-pass `idx()` lookups re-searched the node index two to
    * six times per edge. */
  private def edgeOrdinals(nodes: Array[Long], srcs: Array[Long],
      dsts: Array[Long]): (Array[Int], Array[Int]) = {
    val ia = new Array[Int](srcs.length)
    val ib = new Array[Int](dsts.length)
    // per-slot pure function of (nodes, srcs, dsts) — parallel fill is
    // deterministic
    java.util.stream.IntStream.range(0, srcs.length).parallel().forEach { i =>
      ia(i) = java.util.Arrays.binarySearch(nodes, srcs(i))
      ib(i) = java.util.Arrays.binarySearch(nodes, dsts(i))
    }
    (ia, ib)
  }

  private def emptyRanks(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    edges.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("node", LongType),
        StructField("degree", LongType), StructField("rank_scaled", LongType))))
  }

  /** Fixed-point integer PageRank (damping 85/100, `iters` rounds).
    * Returns (node, degree, rank_scaled) for the top-`k` nodes by
    * rank. All arithmetic is BIGINT floor division on non-negative
    * values — identical in Spark (`DIV`), DuckDB (`//`), and the
    * driver fast path (`/` on positive Longs): because integer sums
    * are associative-commutative, ALL paths produce bit-identical
    * ranks (spec: driver ≡ distributed ≡ repartitioned).
    *
    * SMALL-GRAPH FAST PATH (the d4 `clusterPairs` contract): at or
    * below `smallGraphLimit` edges the ranks are computed on the
    * driver from one collect — iters × m Long ops, milliseconds —
    * instead of paying iters × (join + agg) in job latency. The
    * default bound (2²⁴ edges ≈ 256 MiB of edge longs) is the same
    * size this session already grants every broadcast join; above it
    * the distributed loop runs: symmetric edges built ONCE,
    * hash-partitioned by src and cached (`InMemoryRelation` keeps the
    * partitioning, so each iteration exchanges only the N-row rank
    * frame), final ≤k result leaf-ified before caches drop. Pass
    * `smallGraphLimit = 0` to force the distributed path (specs do).
    */
  def pagerank(edges: DataFrame, iters: Int, k: Int,
      smallGraphLimit: Long = 1L << 24): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE guarded job decides the path AND fetches the small case:
    // CollectLimit(bound+1) scans incrementally with in-query stage
    // reuse, so the common small case pays a single pass and zero
    // cache writes; only an over-bound graph falls through to persist.
    smallEdges(edges, smallGraphLimit) match {
      case Some((s, _)) if s.isEmpty => return emptyRanks(edges)
      case Some((s, d)) => return driverPagerank(edges.sparkSession, s, d, iters, k)
      case None =>
    }
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    // deg is the N-row vertex frame: cached, it seeds the rank vector
    // and the final join, and its count is |V| — no extra sym-wide
    // countDistinct/distinct jobs.
    val deg = degrees(e0).persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count()
    if (n == 0) { // forced-distributed empty graph (specs)
      deg.unpersist(blocking = false); e0.unpersist(blocking = false)
      return emptyRanks(edges)
    }
    // symmetric directed edges carrying the SOURCE degree (the only
    // degree a contribution needs), partitioned by src once for the
    // iterated join, cached: the m-row side never moves again.
    val sym = symEdges(e0, deg).persist(StorageLevel.MEMORY_AND_DISK)
    val ranks = distributedRankLoop(sym, deg, n, iters)
    val out = ranks.join(deg, "node")
      .select(col("node"), col("deg").as("degree"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(k)
      // materialize the ≤k-row result as a leaf so the loop's caches
      // can be dropped without the returned plan recomputing uncached
      .localCheckpoint(true)
    sym.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    e0.unpersist(blocking = false)
    out
  }

  /** Symmetric directed edge frame with source degree attached,
    * hash-partitioned by src (built once, cached by the caller). */
  private[graft] def symEdges(e0: DataFrame, deg: DataFrame): DataFrame =
    e0.select(col("src"), col("dst"))
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .join(deg.withColumnRenamed("node", "src").withColumnRenamed("deg", "srcDeg"), "src")
      .repartition(col("src"))

  /** The distributed rank recurrence as a LAZY plan (no driver
    * actions) — separated so the plan spec can assert the movement
    * contract: ranks (N rows) broadcast into the cached m-row side,
    * zero exchange on the join, ONE agg shuffle per iteration — the
    * minimum movement an iterative rank update has. */
  private[graft] def distributedRankLoop(sym: DataFrame, deg: DataFrame,
      n: Long, iters: Int): DataFrame = {
    val init = Scale / n
    val base = init * 15 / 100
    var ranks = deg.select(col("node"), lit(init).as("r"))
    for (_ <- 1 to iters) {
      ranks = sym.join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst").as("node"))
        .agg(expr(s"$base + (85 * SUM(r DIV srcDeg)) DIV 100").as("r"))
    }
    ranks
  }

  /** Driver twin of the distributed recurrence — same integers.
    * (r15: primitive edge arrays in, endpoint ordinals computed once —
    * see [[edgeOrdinals]].) */
  private[graft] def driverPagerank(spark: org.apache.spark.sql.SparkSession,
      eSrc: Array[Long], eDst: Array[Long], iters: Int, k: Int): DataFrame = {
    import spark.implicits._
    val nodes = nodeIndexOf(eSrc, eDst)
    val n = nodes.length
    val (ia, ib) = edgeOrdinals(nodes, eSrc, eDst)
    val m = eSrc.length
    val deg = new Array[Long](n)
    val srcs = new Array[Int](m * 2)
    val dsts = new Array[Int](m * 2)
    var i = 0
    var w = 0
    while (i < m) {
      val a = ia(i); val b = ib(i)
      deg(a) += 1; deg(b) += 1
      srcs(w) = a; dsts(w) = b; w += 1
      srcs(w) = b; dsts(w) = a; w += 1
      i += 1
    }
    val init = Scale / n
    val base = init * 15 / 100
    var r = Array.fill(n)(init)
    for (_ <- 1 to iters) {
      val contrib = new Array[Long](n)
      var j = 0
      while (j < srcs.length) {
        contrib(dsts(j)) += r(srcs(j)) / deg(srcs(j)); j += 1
      }
      r = Array.tabulate(n)(u => base + 85 * contrib(u) / 100)
    }
    nodes.indices.map(u => (nodes(u), deg(u), r(u)))
      .sortBy { case (node, _, rank) => (-rank, node) }
      .take(k)
      .toDF("node", "degree", "rank_scaled")
  }

  /** Multi-source BFS hop distances (g3): distance from the nearest of
    * the `seeds` highest-degree nodes (ties → smaller id — the same
    * deterministic hub rule both engines derive), bounded at `maxHops`.
    * Returns every reached (node, dist); unreached nodes are absent on
    * both sides. All-integer and frontier-monotone, so any execution
    * order produces the identical distance map.
    *
    * Scale shape (the g1 movement contract applied to traversal): the
    * symmetric edge frame is built ONCE, hash-partitioned by src and
    * cached — each round exchanges only the ≤N-row distance frame
    * (broadcast into the cached m-row side) plus ONE min-agg shuffle.
    * Each round's distance frame is persisted so the two references a
    * BFS round makes (frontier filter + the union) share one cached
    * copy instead of doubling the plan per round.
    */
  def bfsHops(edges: DataFrame, seeds: Int, maxHops: Int,
      smallGraphLimit: Long = 1L << 24): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def empty() = {
      import org.apache.spark.sql.types._
      edges.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("node", LongType),
          StructField("dist", LongType))))
    }
    smallEdges(edges, smallGraphLimit) match {
      case Some((s, _)) if s.isEmpty => return empty()
      case Some((s, d)) => return driverBfs(edges.sparkSession, s, d, seeds, maxHops)
      case None =>
    }
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = degrees(e0).persist(StorageLevel.MEMORY_AND_DISK)
    if (deg.isEmpty) {
      deg.unpersist(blocking = false); e0.unpersist(blocking = false)
      return empty()
    }
    val sym = e0.select(col("src"), col("dst"))
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedDf = deg.orderBy(col("deg").desc, col("node")).limit(seeds)
      .select(col("node"), lit(0L).as("dist"))
    var dist = seedDf.persist(StorageLevel.MEMORY_AND_DISK)
    val persisted = scala.collection.mutable.ListBuffer[DataFrame](dist)
    var i = 1
    var frontierAlive = true
    while (i <= maxHops && frontierAlive) {
      val frontier = dist.filter(col("dist") === (i - 1))
        .withColumnRenamed("node", "src")
      // Early exit once the frontier drains (the driver twin already
      // does): on a small-diameter graph every dead round would still
      // union + re-aggregate + persist the full distance frame —
      // wasted shuffles and cache entries; results are identical
      // because an empty frontier expands to nothing. The check is a
      // cheap filter-count on the already-persisted distance frame.
      if (frontier.isEmpty) frontierAlive = false
      else {
        val expanded = sym.join(broadcast(frontier), "src")
          .select(col("dst").as("node"), lit(i.toLong).as("dist"))
        dist = dist.unionAll(expanded)
          .groupBy("node").agg(min(col("dist")).as("dist"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        persisted += dist
        i += 1
      }
    }
    val out = dist.orderBy(col("node")).localCheckpoint(true)
    persisted.foreach(_.unpersist(blocking = false))
    sym.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    e0.unpersist(blocking = false)
    out
  }

  /** Driver twin of the BFS recurrence — CSR queue BFS, same hub-seed
    * rule, same integers. (r15: primitive edge arrays, one ordinal
    * pass.) */
  private[graft] def driverBfs(spark: org.apache.spark.sql.SparkSession,
      eSrc: Array[Long], eDst: Array[Long], seeds: Int, maxHops: Int): DataFrame = {
    import spark.implicits._
    val nodes = nodeIndexOf(eSrc, eDst)
    val n = nodes.length
    val (ea, eb) = edgeOrdinals(nodes, eSrc, eDst)
    val m = eSrc.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // CSR symmetric adjacency
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i).toInt; i += 1 }
    val nbr = new Array[Int](m * 2)
    val fill = off.clone()
    i = 0
    while (i < m) {
      val ia = ea(i); val ib = eb(i)
      nbr(fill(ia)) = ib; fill(ia) += 1
      nbr(fill(ib)) = ia; fill(ib) += 1
      i += 1
    }
    val seedIdx = Array.range(0, n)
      .sortBy(u => (-deg(u), nodes(u))).take(seeds)
    val dist = Array.fill(n)(-1L)
    var frontier = seedIdx.filter(u => dist(u) < 0)
    frontier.foreach(u => dist(u) = 0L)
    var d = 0L
    while (d < maxHops && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        var e = off(u)
        while (e < off(u + 1)) {
          val v = nbr(e)
          if (dist(v) < 0) { dist(v) = d + 1; next += v }
          e += 1
        }
      }
      frontier = next.toArray
      d += 1
    }
    nodes.indices.collect { case u if dist(u) >= 0 => (nodes(u), dist(u)) }
      .sortBy(_._1)
      .toDF("node", "dist")
  }

  /** Common-neighbor link prediction (g4): for each of the `queries`
    * highest-degree nodes, the top-`k` NON-adjacent candidates ranked
    * by shared-neighbor count (cn DESC, candidate ASC — a total order,
    * so top-k is deterministic). The classic "who should connect next"
    * serving query; counts are exact integers.
    *
    * Scale shape: this is a11's serving contract applied to graphs —
    * the ≤`queries`-row hub frame pushes INTO the edge scan (semi-join
    * on src), two-hop paths are one equi-join on the cached
    * src-partitioned frame, counts one map-side-combined agg at
    * (query, candidate) grain, adjacency removal an anti-join at the
    * same grain, and the per-query top-k a window over ≤N-row groups.
    * The full wedge explosion (every center × its neighbor pairs — the
    * deg² hub bomb) never happens: expansion is bounded by
    * Σ_{v∈N(q)} deg(v) over the query hubs only.
    */
  def commonNeighbors(edges: DataFrame, queries: Int, k: Int,
      smallGraphLimit: Long = 1L << 24): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def empty() = {
      import org.apache.spark.sql.types._
      edges.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("query_node", LongType),
          StructField("candidate", LongType),
          StructField("common_neighbors", LongType),
          StructField("rk", LongType))))
    }
    smallEdges(edges, smallGraphLimit) match {
      case Some((s, _)) if s.isEmpty => return empty()
      case Some((s, d)) =>
        return driverCommonNeighbors(edges.sparkSession, s, d, queries, k)
      case None =>
    }
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = degrees(e0)
    val sym = e0.select(col("src"), col("dst"))
      .unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hubs = deg.orderBy(col("deg").desc, col("node")).limit(queries)
      .select(col("node").as("q"))
    // two-hop paths q -> v -> w, w != q; the hub frame broadcasts into
    // the first hop, the second hop joins on the cached src partitioning
    val hop1 = sym.join(broadcast(hubs), col("src") === col("q"))
      .select(col("q"), col("dst").as("v"))
    val paths = hop1.join(sym.withColumnRenamed("src", "v"), "v")
      .filter(col("dst") =!= col("q"))
      .groupBy(col("q"), col("dst").as("w"))
      .agg(count(lit(1)).as("cn"))
    // drop candidates already adjacent to the query hub
    val nonAdj = paths.join(
      sym.select(col("src").as("q"), col("dst").as("w")),
      Seq("q", "w"), "left_anti")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("cn").desc, col("w"))
    val out = nonAdj
      .withColumn("rk", row_number().over(win).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q").as("query_node"), col("w").as("candidate"),
        col("cn").as("common_neighbors"), col("rk"))
      .orderBy(col("query_node"), col("rk"))
      .localCheckpoint(true)
    sym.unpersist(blocking = false)
    e0.unpersist(blocking = false)
    out
  }

  /** Driver twin of the common-neighbor serving query. (r15:
    * primitive edge arrays, one ordinal pass.) */
  private[graft] def driverCommonNeighbors(
      spark: org.apache.spark.sql.SparkSession,
      eSrc: Array[Long], eDst: Array[Long], queries: Int, k: Int): DataFrame = {
    import spark.implicits._
    val nodes = nodeIndexOf(eSrc, eDst)
    val n = nodes.length
    val (ea, eb) = edgeOrdinals(nodes, eSrc, eDst)
    val m = eSrc.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i).toInt; i += 1 }
    val nbr = new Array[Int](m * 2)
    val fill = off.clone()
    i = 0
    while (i < m) {
      val ia = ea(i); val ib = eb(i)
      nbr(fill(ia)) = ib; fill(ia) += 1
      nbr(fill(ib)) = ia; fill(ib) += 1
      i += 1
    }
    val hubIdx = Array.range(0, n)
      .sortBy(u => (-deg(u), nodes(u))).take(queries)
    val rows = hubIdx.flatMap { q =>
      val cn = new scala.collection.mutable.LongMap[Long]()
      var e = off(q)
      while (e < off(q + 1)) {
        val v = nbr(e)
        var f = off(v)
        while (f < off(v + 1)) {
          val w = nbr(f)
          if (w != q) cn(w.toLong) = cn.getOrElse(w.toLong, 0L) + 1L
          f += 1
        }
        e += 1
      }
      // remove already-adjacent candidates
      var g = off(q)
      while (g < off(q + 1)) { cn.remove(nbr(g).toLong); g += 1 }
      cn.toSeq
        .map { case (w, c) => (nodes(w.toInt), c) }
        .sortBy { case (w, c) => (-c, w) }
        .take(k)
        .zipWithIndex
        .map { case ((w, c), r) => (nodes(q), w, c, (r + 1).toLong) }
    }
    rows.sortBy { case (q, _, _, r) => (q, r) }
      .toSeq.toDF("query_node", "candidate", "common_neighbors", "rk")
  }

  /** Per-node triangle counts via (degree, id) edge orientation.
    * Returns (node, deg, triangles) top-`k` by count; triangle-free
    * nodes are absent. Same fast-path contract as [[pagerank]]: the
    * driver twin runs the SAME oriented-wedge algorithm (integer
    * counts — any execution order yields identical results), the
    * distributed join is the 100 TB path. */
  def triangleCounts(edges: DataFrame, k: Int,
      smallGraphLimit: Long = 1L << 24): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def empty() = {
      import org.apache.spark.sql.types._
      edges.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("node", LongType),
          StructField("deg", LongType), StructField("triangles", LongType))))
    }
    smallEdges(edges, smallGraphLimit) match {
      case Some((s, _)) if s.isEmpty => return empty()
      case Some((s, d)) => return driverTriangles(edges.sparkSession, s, d, k)
      case None =>
    }
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    if (e0.isEmpty) { e0.unpersist(blocking = false); return empty() }
    val out = distributedTriangles(e0, k)
    e0.unpersist(blocking = false)
    out
  }

  private def distributedTriangles(edges: DataFrame, k: Int): DataFrame = {
    val deg = degrees(edges)
    val ds = deg.select(col("node").as("src"), col("deg").as("sdeg"))
    val dd = deg.select(col("node").as("dst"), col("deg").as("ddeg"))
    // orient low → high in (deg, id) order; carry the head's (deg, id)
    // so the wedge step can order the two heads without a re-join.
    val fwd = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val oriented = edges.join(ds, "src").join(dd, "dst")
      .select(
        when(fwd, col("src")).otherwise(col("dst")).as("u"),
        when(fwd, col("dst")).otherwise(col("src")).as("v"),
        when(fwd, col("ddeg")).otherwise(col("sdeg")).as("vdeg"))
      .cache()
    // wedges at the lowest-ranked vertex: heads v < w in (deg, id)
    val a = oriented.select(col("u"), col("v"), col("vdeg"))
    val b = oriented.select(col("u"), col("v").as("w"), col("vdeg").as("wdeg"))
    val wedges = a.join(b, Seq("u"))
      .filter(col("vdeg") < col("wdeg") ||
        (col("vdeg") === col("wdeg") && col("v") < col("w")))
    // close the wedge: oriented edge (v, w) must exist
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris.select(col("u").as("node"))
      .unionAll(tris.select(col("v").as("node")))
      .unionAll(tris.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val out = perNode.join(deg, "node")
      .select(col("node"), col("deg"), col("triangles"))
      .orderBy(col("triangles").desc, col("node"))
      .limit(k)
      .localCheckpoint(true) // leaf-ify before dropping the cache
    oriented.unpersist(blocking = false)
    out
  }

  /** Driver twin of the oriented-wedge triangle count. Primitive-array
    * CSR adjacency (out-neighbors stored by orientation RANK, sorted)
    * with sorted-merge intersection per oriented edge — the per-wedge
    * hash lookup of the naive form is ~450 ns on this host (measured),
    * which at millions of wedges dominates the entry; two-pointer
    * merges over int arrays are ~100× cheaper and count the SAME
    * triangles (each at its rank-lowest vertex). */
  private[graft] def driverTriangles(spark: org.apache.spark.sql.SparkSession,
      eSrc: Array[Long], eDst: Array[Long], k: Int): DataFrame = {
    import spark.implicits._
    val nodes = nodeIndexOf(eSrc, eDst)
    val n = nodes.length
    val (ea, eb) = edgeOrdinals(nodes, eSrc, eDst)
    val m = eSrc.length
    val deg = new Array[Long](n)
    var i = 0
    while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    // orientation rank: position in the (deg, id) total order —
    // identical to the distributed join's (deg, node) comparisons
    val byRank = Array.range(0, n).sortBy(i => (deg(i), nodes(i)))
    val rank = new Array[Int](n)
    byRank.zipWithIndex.foreach { case (i, r) => rank(i) = r }
    // per-edge orientation in rank space, computed once: edge (a, b)
    // oriented from the rank-smaller endpoint
    val ru = new Array[Int](m)
    val rv = new Array[Int](m)
    i = 0
    while (i < m) {
      val ra = rank(ea(i)); val rb = rank(eb(i))
      if (ra < rb) { ru(i) = ra; rv(i) = rb } else { ru(i) = rb; rv(i) = ra }
      i += 1
    }
    // CSR out-adjacency in rank space; neighbor lists sorted for the
    // merges
    val outdeg = new Array[Int](n)
    i = 0
    while (i < m) { outdeg(ru(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + outdeg(i); i += 1 }
    val nbr = new Array[Int](m)
    val fill = off.clone()
    i = 0
    while (i < m) { nbr(fill(ru(i))) = rv(i); fill(ru(i)) += 1; i += 1 }
    // disjoint ranges — parallel per-node sort is deterministic
    java.util.stream.IntStream.range(0, n).parallel()
      .forEach(u => java.util.Arrays.sort(nbr, off(u), off(u + 1)))
    // for each oriented edge (u, v): common out-neighbors w close a
    // triangle (u < v < w in rank order — counted exactly once).
    // r15: the merge loop was the remaining single-threaded wall of
    // the entry — chunk the u-range across a bounded worker pool with
    // PER-CHUNK count arrays merged at the end (a wedge closed in
    // chunk c increments only c's array, so no write races; integer
    // sums are commutative, so any chunking yields identical counts).
    val tri = new Array[Long](n)
    val nChunks = math.min(Runtime.getRuntime.availableProcessors() * 2, 64)
    val chunkTris = java.util.stream.IntStream.range(0, nChunks).parallel()
      .mapToObj[Array[Long]] { c =>
        val local = new Array[Long](n)
        var u = (n.toLong * c / nChunks).toInt
        val uEnd = (n.toLong * (c + 1) / nChunks).toInt
        while (u < uEnd) {
          var e = off(u)
          while (e < off(u + 1)) {
            val v = nbr(e)
            var p = e + 1 // adj(u) entries > v only: w must outrank v
            var q = off(v)
            val pEnd = off(u + 1); val qEnd = off(v + 1)
            while (p < pEnd && q < qEnd) {
              val x = nbr(p); val y = nbr(q)
              if (x == y) {
                local(u) += 1; local(v) += 1; local(x) += 1; p += 1; q += 1
              }
              else if (x < y) p += 1
              else q += 1
            }
            e += 1
          }
          u += 1
        }
        local
      }.toArray(new java.util.function.IntFunction[Array[Array[Long]]] {
        def apply(sz: Int): Array[Array[Long]] = new Array[Array[Long]](sz)
      })
    chunkTris.foreach { local =>
      var i2 = 0
      while (i2 < n) { tri(i2) += local(i2); i2 += 1 }
    }
    byRank.indices.collect { case r if tri(r) > 0 => (nodes(byRank(r)), deg(byRank(r)), tri(r)) }
      .sortBy { case (node, _, t) => (-t, node) }
      .take(k)
      .toDF("node", "deg", "triangles")
  }

  /** Shared oracle CTE prefix: the co-purchase edge list.
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    * reference, and the 5-iteration PageRank chain (each rK references
    * sym/deg/n) re-expands the 10M-row self-join combinatorially — a
    * measured runaway (>2.5 CPU-hours at the 10× corpus) that the
    * hints collapse to one execution per CTE. */
  private val edgeCte =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey),
      |deg AS MATERIALIZED (
      |  SELECT node, COUNT(*) AS deg FROM (
      |    SELECT src AS node FROM pairs
      |    UNION ALL SELECT dst AS node FROM pairs) t GROUP BY node)""".stripMargin

  private def pagerankSql(iters: Int, k: Int): String = {
    val sym =
      """sym AS MATERIALIZED (
        |  SELECT p.src, p.dst, d.deg AS srcdeg FROM (
        |    SELECT src, dst FROM pairs
        |    UNION ALL SELECT dst AS src, src AS dst FROM pairs) p
        |  JOIN deg d ON d.node = p.src),
        |n AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
        |r0 AS (SELECT node, (1000000000000 // (SELECT n FROM n)) AS r FROM deg)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         CAST(((1000000000000 // (SELECT n FROM n)) * 15) // 100
         |         + (85 * SUM(p.r // e.srcdeg)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} p JOIN sym e ON e.src = p.node
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCte,
       |$sym,
       |$steps
       |SELECT r.node, d.deg AS degree, r.r AS rank_scaled
       |FROM r$iters r JOIN deg d ON d.node = r.node
       |ORDER BY rank_scaled DESC, r.node LIMIT $k""".stripMargin
  }

  private def triangleSql(k: Int): String =
    s"""$edgeCte,
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND p.src < p.dst)
       |              THEN p.src ELSE p.dst END AS u,
       |         CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND p.src < p.dst)
       |              THEN p.dst ELSE p.src END AS v,
       |         CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND p.src < p.dst)
       |              THEN dd.deg ELSE ds.deg END AS vdeg
       |  FROM pairs p
       |  JOIN deg ds ON ds.node = p.src
       |  JOIN deg dd ON dd.node = p.dst),
       |tri AS MATERIALIZED (
       |  SELECT a.u, a.v, b.v AS w
       |  FROM o a JOIN o b ON a.u = b.u
       |  JOIN o c ON c.u = a.v AND c.v = b.v
       |  WHERE a.vdeg < b.vdeg OR (a.vdeg = b.vdeg AND a.v < b.v)),
       |pern AS (
       |  SELECT node, COUNT(*) AS triangles FROM (
       |    SELECT u AS node FROM tri
       |    UNION ALL SELECT v AS node FROM tri
       |    UNION ALL SELECT w AS node FROM tri) t GROUP BY node)
       |SELECT p.node, d.deg, p.triangles
       |FROM pern p JOIN deg d ON d.node = p.node
       |ORDER BY triangles DESC, p.node LIMIT $k""".stripMargin

  /** Symmetric edge CTE shared by the traversal/serving oracles. */
  private val symCte =
    """sym AS MATERIALIZED (
      |  SELECT src, dst FROM pairs
      |  UNION ALL SELECT dst AS src, src AS dst FROM pairs)""".stripMargin

  private def bfsSql(seeds: Int, maxHops: Int): String = {
    val steps = (1 to maxHops).map { i =>
      // every step is MATERIALIZED: d(i) references d(i-1) twice
      // (carry + frontier expansion) and plain CTEs would re-inline
      // the whole chain combinatorially (the g1 runaway lesson)
      s"""d$i AS MATERIALIZED (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + 1 AS dist
         |    FROM d${i - 1} p JOIN sym e ON e.src = p.node
         |    WHERE p.dist = ${i - 1}) t
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCte,
       |$symCte,
       |seeds AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT $seeds),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
       |$steps
       |SELECT node, dist FROM d$maxHops ORDER BY node""".stripMargin
  }

  private def commonNeighborsSql(queries: Int, k: Int): String =
    s"""$edgeCte,
       |$symCte,
       |hubs AS MATERIALIZED (
       |  SELECT node FROM deg ORDER BY deg DESC, node LIMIT $queries),
       |paths AS MATERIALIZED (
       |  -- hubs joins FIRST: materialized CTEs carry no stats, so with
       |  -- sym syntactically first DuckDB executes sym ⋈ sym (~287M
       |  -- rows at sf0.1, measured 70-122 s) before the 20-hub filter;
       |  -- hub-first collapses the same query to 0.7 s, results equal
       |  SELECT h.node AS q, e2.dst AS w, COUNT(*) AS cn
       |  FROM hubs h
       |  JOIN sym e1 ON e1.src = h.node
       |  JOIN sym e2 ON e2.src = e1.dst
       |  WHERE e2.dst <> h.node
       |  GROUP BY h.node, e2.dst),
       |nonadj AS (
       |  SELECT p.q, p.w, p.cn FROM paths p
       |  LEFT JOIN sym s ON s.src = p.q AND s.dst = p.w
       |  WHERE s.src IS NULL),
       |ranked AS (
       |  SELECT q, w, cn,
       |         ROW_NUMBER() OVER (PARTITION BY q ORDER BY cn DESC, w) AS rk
       |  FROM nonadj)
       |SELECT q AS query_node, w AS candidate, cn AS common_neighbors, rk
       |FROM ranked WHERE rk <= $k
       |ORDER BY query_node, rk""".stripMargin

  /** s30: one micro-batch of NEW edges folded into a standing
    * (node, component) labeling — the graph family's streaming twin
    * (the index families all have one: s25/s26/s10). STATE-AS-EDGES:
    * each label row (node, component) is itself an edge from the node
    * to its component REPRESENTATIVE (the min id), i.e. a spanning
    * STAR per component — connectivity-equivalent to every edge seen
    * so far. Components of (state ∪ batch) are therefore the true
    * components of the full stream, and an edge that bridges two
    * standing components merges their stars in one fold. State is
    * NODE-bounded (one row per node ever seen), never edge- or
    * stream-bounded — the reason to fold stars instead of keeping
    * edges. Kernel: [[DedupOps.clusterPairs]] (min-label + fallback +
    * driver fast path), so labels stay the component minimum and the
    * fold is label-stable across any batch split (spec'd). */
  def componentsFold(state: Option[DataFrame], batch: DataFrame): DataFrame = {
    val b = batch.select(col("src").as("ia"), col("dst").as("ib"))
    val all = state
      .map(_.select(col("node").as("ia"), col("component").as("ib"))
        .unionByName(b))
      .getOrElse(b)
    DedupOps.clusterPairs(all)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))
  }

  /** g5's oracle: weighted pairs from the self-join at DISTINCT
    * (order, pair) grain (an order credits a pair once — the
    * collect_set semantics), threshold, then `rounds` unrolled
    * min-label propagation steps. MATERIALIZED throughout — each
    * round references its predecessor twice, and DuckDB re-inlines
    * plain CTEs per reference (the g1 runaway lesson). */
  private def componentsSql(minW: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH pairs AS MATERIALIZED (
      |  SELECT u, v FROM (
      |    SELECT u, v, COUNT(*) AS w FROM (
      |      SELECT DISTINCT a.l_orderkey AS ok,
      |             a.l_partkey AS u, b.l_partkey AS v
      |      FROM lineitem a JOIN lineitem b
      |        ON a.l_orderkey = b.l_orderkey
      |       AND a.l_partkey < b.l_partkey)
      |    GROUP BY u, v) WHERE w >= $minW),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
      |l0 AS MATERIALIZED (SELECT DISTINCT u, u AS m FROM edges)""".stripMargin
    for (i <- 1 to rounds) sb ++=
      s""",
         |l$i AS MATERIALIZED (SELECT u, MIN(m) AS m FROM (
         |  SELECT u, m FROM l${i - 1}
         |  UNION ALL
         |  SELECT e.u, l.m FROM edges e JOIN l${i - 1} l ON l.u = e.v
         |) GROUP BY u)""".stripMargin
    sb ++= s"\nSELECT u AS node, m AS component FROM l$rounds ORDER BY node"
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(

    // All four entries serve from the SHARED persisted edge table
    // (built once per corpus, see ensureEdgeTable) — the oracle keeps
    // re-deriving edges from lineitem with the self-join CTE, so the
    // persisted table's content is hash-checked by every entry.
    QueryDef("g1_pagerank", pagerankSql(iters = 5, k = 100)) { (s, d) =>
      pagerank(edgeTable(s, d), iters = 5, k = 100)
    },

    QueryDef("g2_triangle_count", triangleSql(k = 100)) { (s, d) =>
      triangleCounts(edgeTable(s, d), k = 100)
    },

    QueryDef("g3_bfs_hops", bfsSql(seeds = 3, maxHops = 6)) { (s, d) =>
      bfsHops(edgeTable(s, d), seeds = 3, maxHops = 6)
    },

    QueryDef("g4_common_neighbors",
      commonNeighborsSql(queries = 20, k = 5)) { (s, d) =>
      commonNeighbors(edgeTable(s, d), queries = 20, k = 5)
    },

    // g5: CONNECTED COMPONENTS over the co-purchase BACKBONE (late
    // r15) — the fifth canonical graph shape. The raw co-occurrence
    // graph is one giant hairball at every SF (min-label floods it in
    // 3–4 rounds — measured), so components are computed where they
    // MEAN something: the w ≥ 2 backbone (pairs co-purchased in at
    // least two distinct orders — the non-chance relationships),
    // which fragments into 2,350 components at sf0.1. The weight
    // rides in the SHARED persisted edge table (one column g1–g4
    // prune away), so the backbone is a metadata-only filter on the
    // same bucketed scan. The component kernel is
    // [[DedupOps.clusterPairs]] — min-label propagation with the
    // star-contraction fallback and the ≤2²⁰-pair driver union-find
    // fast path, all spec-equivalent — reused verbatim: dedup
    // clustering and graph components are the same operator. The
    // oracle unrolls 16 MATERIALIZED min-label rounds (fixpoint
    // measured at ≤11 across SFs; an unconverged oracle can only
    // FAIL the hash, never falsely pass — any label still moving
    // differs from the engine's true component minimum).
    QueryDef("g5_connected_components",
      componentsSql(minW = 2, rounds = 16)) { (s, d) =>
      DedupOps.clusterPairs(
        weightedEdgeTable(s, d).filter(col("w") >= 2)
          .select(col("src").as("ia"), col("dst").as("ib")))
        .select(col("doc_id").as("node"), col("cluster_id").as("component"))
        .orderBy("node")
    },

    // s30: STREAMING connected components (late r15) — g5 maintained
    // incrementally over an EDGE STREAM, closing the one family
    // without a streaming twin. Per micro-batch the fold runs
    // components over (standing star labels ∪ new edges) — see
    // [[componentsFold]]: state is one row per node (node-bounded,
    // never stream-bounded), cross-batch component merges happen in
    // the fold itself, and the final labeling equals g5's batch
    // answer over the whole edge set — certified by the SAME oracle.
    // Feed: the backbone edges in (src, dst) order, 6 chunks (the
    // driver-side feed is the test harness's deterministic source
    // stand-in — the eventFeedAll contract; the operator under fold
    // is distributed and unchanged at any scale).
    QueryDef("s30_components_stream",
      componentsSql(minW = 2, rounds = 16)) { (s, d) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val edges = weightedEdgeTable(s, d).filter(col("w") >= 2)
        .select("src", "dst").orderBy("src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val batches = edges.grouped(math.max(1, (edges.length + 5) / 6)).toSeq
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      var state: Option[DataFrame] = None
      val ckpt = graft.TmpDirs.scratch("graft_s30_cp")
      val q = in.toDF().toDF("src", "dst")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          state = Some(componentsFold(state, batch).localCheckpoint())
        }
        .start()
      try {
        batches.foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
      } finally q.stop()
      state.get.orderBy("node")
    }
  )
}

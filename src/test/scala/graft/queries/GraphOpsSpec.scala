package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** g1/g2 graph analytics: hand-graph ground truth, a naive all-triples
  * differential on random graphs, and the property the fixed-point
  * design exists for — bit-identical results under different
  * partitionings (float PageRank cannot promise this on a cluster).
  */
class GraphOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edgeDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  /** Driver-side mirror of the scaled-integer PageRank recurrence. */
  private def naivePagerank(es: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
    val n = deg.size
    val init = 1000000000000L / n
    val base = init * 15 / 100
    var r = deg.keys.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (u, ins) =>
        u -> ins.map { case (v, _) => r(v) / deg(v) }.sum
      }
      r = deg.keys.map(u => u -> (base + 85 * contrib.getOrElse(u, 0L) / 100)).toMap
    }
    r
  }

  private def naiveTriangles(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = es.map { case (a, b) => (a min b, a max b) }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tri = for {
      i <- nodes; j <- nodes if i < j; k <- nodes if j < k
      if edges((i, j)) && edges((j, k)) && edges((i, k))
    } yield Seq(i, j, k)
    tri.flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("pagerank matches the driver-side integer recurrence on a hand graph") {
    // triangle {1,2,3} + pendant 4-5 chain off node 3
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = GraphOps.pagerank(edgeDf(es), iters = 5, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = naivePagerank(es, 5)
    assert(got.map(g => g._1 -> g._3).toMap === want)
    // degrees carried through correctly
    assert(got.find(_._1 == 3L).get._2 === 3L)
    // highest-degree node holds the top rank on this graph
    assert(got.head._1 === 3L)
  }

  test("pagerank is bit-identical across partitionings (the fixed-point point)") {
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val base = GraphOps.pagerank(edgeDf(es), 5, 100).collect().toSeq
    val repart = GraphOps.pagerank(edgeDf(es).repartition(7), 5, 100).collect().toSeq
    val single = GraphOps.pagerank(edgeDf(es).coalesce(1), 5, 100).collect().toSeq
    assert(base === repart)
    assert(base === single)
    // and equal to the sequential recurrence — same integers, any order
    val want = naivePagerank(es, 5)
    assert(base.map(r => r.getLong(0) -> r.getLong(2)).toMap === want)
  }

  test("pagerank rank mass stays within floor-loss of the scale") {
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val ranks = GraphOps.pagerank(edgeDf(es), 5, 1000).collect().map(_.getLong(2))
    val total = ranks.sum
    // every floor division loses < 1 unit per node per term; with
    // SCALE = 1e12 the drift is bounded far under 1% of the mass
    assert(total <= 1000000000000L)
    assert(total > 990000000000L)
  }

  test("triangle counts: K4, path, and empty graphs") {
    // K4: 4 triangles, each node in 3
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val gotK4 = GraphOps.triangleCounts(edgeDf(k4), 100)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotK4 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // path graph: no triangles → empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(GraphOps.triangleCounts(edgeDf(path), 100).count() === 0L)
    // triangle-free nodes absent, not zero-counted
    val mixed = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val gotMixed = GraphOps.triangleCounts(edgeDf(mixed), 100)
      .collect().map(_.getLong(0)).toSet
    assert(gotMixed === Set(1L, 2L, 3L))
  }

  test("triangle counts equal naive all-triples on random graphs") {
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(250)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val got = GraphOps.triangleCounts(edgeDf(es), 1000)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got === naiveTriangles(es), s"seed=$seed")
    }
  }

  test("driver fast path equals the distributed loop exactly (g1 and g2)") {
    val rnd = new scala.util.Random(23)
    val es = Seq.fill(400)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val prFast = GraphOps.pagerank(edgeDf(es), 5, 1000).collect().toSeq
    val prDist = GraphOps.pagerank(edgeDf(es), 5, 1000, smallGraphLimit = 0).collect().toSeq
    assert(prFast === prDist)
    val triFast = GraphOps.triangleCounts(edgeDf(es), 1000).collect().toSeq
    val triDist = GraphOps.triangleCounts(edgeDf(es), 1000, smallGraphLimit = 0).collect().toSeq
    assert(triFast === triDist)
  }

  test("distributed rank loop plan: one agg shuffle per iteration, joins broadcast") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // static plan (AQE off) so exchange counts are inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rnd = new scala.util.Random(31)
      val es = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val edges = edgeDf(es)
      val deg = GraphOps.degrees(edges)
      def planFor(iters: Int) = GraphOps.distributedRankLoop(
        GraphOps.symEdges(edges, deg), deg, n = 40, iters = iters)
        .queryExecution.executedPlan
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case e: ShuffleExchangeExec => e }.length
      // movement contract, self-calibrated against the static build
      // shuffles: each extra iteration adds exactly ONE shuffle (the
      // agg) — the broadcast join contributes none.
      assert(shuffles(planFor(5)) - shuffles(planFor(1)) === 4,
        s"per-iteration shuffle growth != 1:\n${planFor(5)}")
      // every join is a broadcast — the m-row side never re-exchanges
      val p5 = planFor(5)
      val broadcasts = p5.collect { case e: BroadcastExchangeExec => e }
      val smj = p5.collect { case j: SortMergeJoinExec => j }
      assert(broadcasts.nonEmpty && smj.isEmpty, s"plan has sort-merge joins:\n$p5")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("co-purchase edges are canonical and distinct") {
    import spark.implicits._
    val li = Seq((1L, 10L), (1L, 20L), (1L, 10L), (2L, 20L), (2L, 10L), (3L, 30L))
      .toDF("l_orderkey", "l_partkey")
    val got = GraphOps.coPurchaseEdges(li)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 20L))) // dup line collapsed; both orders yield the same edge
    got.foreach { case (s, d) => assert(s < d) }
  }

  test("edge weights count DISTINCT orders; the w>=2 backbone fragments (g5)") {
    import spark.implicits._
    // order 1 carries (10,20) with an in-order dup line; orders 2,3
    // repeat it; (20,30) appears once; (40,50) twice
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 10L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 20L), (4L, 20L), (4L, 30L), (5L, 40L), (5L, 50L), (6L, 40L),
      (6L, 50L)).toDF("l_orderkey", "l_partkey")
    val w = GraphOps.coPurchaseEdgesWeighted(li)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(w === Set((10L, 20L, 3L), (20L, 30L, 1L), (40L, 50L, 2L)),
      "weight = distinct orders; in-order duplicate lines credit once")
    // unweighted view unchanged: same pairs, weight projected away
    val unw = GraphOps.coPurchaseEdges(li)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unw === w.map(t => (t._1, t._2)))
    // the backbone drops the chance edge, splitting the hairball:
    // {10,20,30} ∪ {40,50} connected raw; w>=2 severs 30
    val comps = DedupOps.clusterPairs(
      GraphOps.coPurchaseEdgesWeighted(li).filter(col("w") >= 2)
        .select(col("src").as("ia"), col("dst").as("ib")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comps === Set((10L, 10L), (20L, 10L), (40L, 40L), (50L, 40L)))
  }

  test("s30 componentsFold: cross-batch merge, equals batch components, node-bounded state") {
    import spark.implicits._
    def fold(chunks: Seq[Seq[(Long, Long)]]): Seq[Set[(Long, Long)]] = {
      var st: Option[org.apache.spark.sql.DataFrame] = None
      chunks.map { c =>
        st = Some(GraphOps.componentsFold(st, c.toDF("src", "dst"))
          .localCheckpoint())
        st.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    }
    // batch 1: two separate components {1,2} and {5,6};
    // batch 2: the bridge 2—5 merges them under min label 1
    val states = fold(Seq(Seq((1L, 2L), (5L, 6L)), Seq((2L, 5L))))
    assert(states(0) === Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
    assert(states(1) === Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L)),
      "a bridging edge must merge standing components")
    // random graphs: any chunking equals the one-shot batch answer,
    // and state rows == nodes seen (node-bounded)
    for (seed <- Seq(11, 47)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(300)(
        (1L + rnd.nextInt(80), 1L + rnd.nextInt(80)))
        .filter(e => e._1 != e._2)
      val batch = DedupOps.clusterPairs(edges.toDF("ia", "ib"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (n <- Seq(1, 5, 9)) {
        val chunks = edges.grouped(math.max(1, edges.length / n)).toSeq
        val finalState = fold(chunks).last
        assert(finalState === batch, s"seed=$seed chunks=$n")
        assert(finalState.size ===
          edges.flatMap(e => Seq(e._1, e._2)).distinct.size,
          "state = one row per node ever seen")
      }
    }
  }

  test("aggregate-form edge build equals the self-join twin on random baskets") {
    import spark.implicits._
    for (seed <- Seq(7, 31)) {
      val rnd = new scala.util.Random(seed)
      // 80 orders × 1..7 lines, parts drawn with repeats inside orders
      val li = (1 to 80).flatMap { ok =>
        Seq.fill(1 + rnd.nextInt(7))((ok.toLong, (1 + rnd.nextInt(40)).toLong))
      }.toDF("l_orderkey", "l_partkey")
      val agg = GraphOps.coPurchaseEdges(li)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val join = GraphOps.coPurchaseEdgesJoin(li)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(agg === join, s"seed=$seed")
      assert(agg.size === GraphOps.coPurchaseEdges(li).count())
    }
  }

  /** Sequential BFS mirror: same hub-seed rule, same hop bound. */
  private def naiveBfs(es: Seq[(Long, Long)], seeds: Int,
      maxHops: Int): Map[Long, Long] = {
    val sym = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = sym.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2) }
    val deg = adj.map { case (n, xs) => n -> xs.size.toLong }
    val seedNodes = deg.toSeq.sortBy { case (n, dg) => (-dg, n) }
      .take(seeds).map(_._1)
    var dist = seedNodes.map(_ -> 0L).toMap
    var frontier = seedNodes
    var d = 0L
    while (d < maxHops && frontier.nonEmpty) {
      val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .distinct.filterNot(dist.contains)
      next.foreach(v => dist += v -> (d + 1))
      frontier = next
      d += 1
    }
    dist
  }

  /** Sequential common-neighbor mirror with the same tie rule. */
  private def naiveCommonNeighbors(es: Seq[(Long, Long)], queries: Int,
      k: Int): Seq[(Long, Long, Long, Long)] = {
    val sym = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val adj = sym.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val deg = adj.map { case (n, xs) => n -> xs.size.toLong }
    val hubs = deg.toSeq.sortBy { case (n, dg) => (-dg, n) }
      .take(queries).map(_._1)
    hubs.sorted.flatMap { q =>
      val counts = adj(q).toSeq.flatMap(v => adj(v).toSeq)
        .filter(w => w != q && !adj(q)(w))
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(k).zipWithIndex
        .map { case ((w, c), r) => (q, w, c, (r + 1).toLong) }
    }
  }

  test("bfs hops: hand graph ground truth and hop bound") {
    // hub 1 (deg 4) seeds; chain off node 5 tests increasing hops
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 10L), (10L, 11L))
    val got = GraphOps.bfsHops(edgeDf(es), seeds = 1, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 2L, 7L -> 3L))
    // maxHops bound honored: 8..11 unreached, absent
    assert(!got.contains(8L))
  }

  test("bfs hops equal the sequential BFS on random graphs (multi-seed)") {
    for (seed <- Seq(5, 19)) {
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val got = GraphOps.bfsHops(edgeDf(es), seeds = 3, maxHops = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === naiveBfs(es, 3, 6), s"seed=$seed")
    }
  }

  test("bfs driver fast path equals the distributed loop exactly") {
    val rnd = new scala.util.Random(41)
    val es = Seq.fill(200)((rnd.nextInt(45).toLong, rnd.nextInt(45).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val fast = GraphOps.bfsHops(edgeDf(es), 3, 6).collect().toSeq
    val dist = GraphOps.bfsHops(edgeDf(es), 3, 6, smallGraphLimit = 0)
      .collect().toSeq
    assert(fast === dist)
    // and invariant under partitioning
    val repart = GraphOps.bfsHops(edgeDf(es).repartition(7), 3, 6,
      smallGraphLimit = 0).collect().toSeq
    assert(fast === repart)
  }

  test("common neighbors: hand graph — adjacency excluded, ties by id") {
    // q=1 is the hub; 6 and 7 each share neighbors with 1 but are not
    // adjacent to it; 2 IS adjacent so it must never appear.
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),
      (6L, 3L), (6L, 4L), (7L, 4L), (7L, 5L), (2L, 3L))
    val got = GraphOps.commonNeighbors(edgeDf(es), queries = 1, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.forall(_._1 == 1L))
    val byCand = got.map(r => r._2 -> r._3).toMap
    assert(byCand === Map(6L -> 2L, 7L -> 2L)) // 2,3,4,5 adjacent → absent
    // tie on cn=2 broken by candidate id: 6 ranks before 7
    assert(got.sortBy(_._4).map(_._2).toSeq === Seq(6L, 7L))
  }

  test("common neighbors equal the sequential mirror on random graphs") {
    for (seed <- Seq(13, 29)) {
      val rnd = new scala.util.Random(seed)
      val es = Seq.fill(260)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val got = GraphOps.commonNeighbors(edgeDf(es), queries = 8, k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got === naiveCommonNeighbors(es, 8, 4), s"seed=$seed")
    }
  }

  test("common neighbors driver fast path equals the distributed plan") {
    val rnd = new scala.util.Random(37)
    val es = Seq.fill(300)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val fast = GraphOps.commonNeighbors(edgeDf(es), 10, 5).collect().toSeq
    val dist = GraphOps.commonNeighbors(edgeDf(es), 10, 5, smallGraphLimit = 0)
      .collect().toSeq
    assert(fast === dist)
  }

  test("null endpoints: driver fast path routes to the distributed path's answer") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val es = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val withNulls = (es.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(3L)), (Some(5L), None), (None, None))).toDF("src", "dst")
    def both(f: Long => org.apache.spark.sql.DataFrame) =
      (f(1L << 24).collect().toSeq, f(0L).collect().toSeq)
    for ((name, (fast, dist)) <- Seq(
        "pagerank" -> both(l => GraphOps.pagerank(withNulls, 5, 1000, smallGraphLimit = l)),
        "triangles" -> both(l => GraphOps.triangleCounts(withNulls, 1000, smallGraphLimit = l)),
        "bfs" -> both(l => GraphOps.bfsHops(withNulls, 3, 6, smallGraphLimit = l)),
        "common neighbors" -> both(l =>
          GraphOps.commonNeighbors(withNulls, 10, 5, smallGraphLimit = l))))
      assert(fast === dist, name)
  }

  test("pagerank on an empty edge set returns an empty typed frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = GraphOps.pagerank(empty, 5, 10)
    assert(out.columns.toSeq === Seq("node", "degree", "rank_scaled"))
    assert(out.count() === 0L)
  }
}

package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.SmallOrdered
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface Q1–Q15 (SURVEY.md §2.3) — declarative DataFrame
  * plans so Catalyst gets pushdown/pruning/join-reorder for free.
  * Every output column is aliased identically in the Spark plan and the
  * DuckDB oracle; every query ends in a total ORDER BY; floats are
  * ROUNDed; int widths are harmonized (Spark int fns cast to long where
  * DuckDB yields BIGINT).
  *
  * Scale notes (100 TB design intent, verified on local[32]):
  *  - dims that stay tiny at any SF (region, nation) are broadcast
  *    explicitly; SF-scaling sides are left to AQE (auto-broadcast /
  *    skew-join) rather than hard-coded.
  *  - filters sit directly on scan columns so they reach the parquet
  *    reader (PushedFilters), and projections prune columns at the scan.
  *  - Q13's interval join is an equi-join on user_id with a range
  *    residual — hash/sort-merge on the key, never a nested loop.
  *  - Q15 semi-joins lineitem down to the brand's partkeys *before* the
  *    per-part average, so the heavy aggregate runs on 1/brand-count of
  *    the fact table (standard TPC-H Q17 rewrite).
  */
object Relational {

  private def ts(s: String) = lit(s).cast("timestamp")

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q01_filter_project",
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1995-01-01") &&
          col("l_shipdate") < ts("1996-01-01") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        // per-row output scales with the corpus → parallel range sort,
        // never a single-task funnel
        .orderedRows(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    },

    QueryDef("q02_hash_agg",
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty,
        |       ROUND(SUM(l_extendedprice),2) AS sum_base,
        |       ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS sum_disc,
        |       ROUND(AVG(l_quantity),4) AS avg_qty, COUNT(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderedSmall(col("l_returnflag"), col("l_linestatus"))
    },

    QueryDef("q03_join_agg",
      """SELECT c.c_mktsegment, COUNT(*) AS cnt, ROUND(SUM(o.o_totalprice),2) AS sum_price
        |FROM orders o JOIN customer c ON o.o_custkey=c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      // Straight dim join + one aggregation: customer(c_custkey →
      // c_mktsegment) is a dimension — the hintless planner broadcasts
      // it at bench SF, so orders never shuffles and the 5-segment
      // aggregate combines map-side to a handful of partial rows. At
      // 100× (customer too big to broadcast) the same plan degrades to
      // a shuffle join on custkey; pre-aggregating orders by custkey
      // first would then save only the ~1.5:1 orders:customer ratio —
      // not worth the unconditional extra exchange it costs here.
      Tables.orders(s, d).select("o_custkey", "o_totalprice")
        .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderedSmall(col("c_mktsegment"))
    },

    QueryDef("q04_multi_join",
      """SELECT r.r_name, n.n_name, ROUND(SUM(l.l_extendedprice*(1-l.l_discount)),2) AS rev
        |FROM lineitem l JOIN orders o ON l.l_orderkey=o.o_orderkey
        |JOIN customer c ON o.o_custkey=c.c_custkey
        |JOIN nation n ON c.c_nationkey=n.n_nationkey
        |JOIN region r ON n.n_regionkey=r.r_regionkey
        |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin) { (s, d) =>
      // Dim-chain joins + ONE order-grain pre-aggregate ahead of a
      // PARALLEL-build orders join. r12 ran this hintless (broadcast
      // at bench SF), but the 10× corpus exposed the broadcast path's
      // scale cliff: a BroadcastExchange builds its HashedRelation
      // single-threaded on the driver, and at sf1 the 1.5M-row orders
      // build alone costs ~1.1 s of q04's ~1.0 s wall (collect 0.28 s
      // + build/broadcast 0.8 s; BASELINE.md §5b, r13 lever (b)) while
      // DuckDB's partitioned build takes ~30 ms. shuffle_hash builds the same
      // table in parallel across reducers — the join a 100 TB plan
      // uses anyway (orders is far over any sane threshold there, and
      // orderkey is unique, so skew-free). The order-grain partial
      // aggregate (exact for SUM) collapses in the scan tasks and cuts
      // the fact bytes entering that exchange 4×; its output is
      // already hash-partitioned on the join key, so the agg and the
      // join share ONE shuffle of each side. Interleaved A/B
      // (BASELINE.md §5b): sf1 0.98 → 0.71 s; sf0.1 0.37 ≈ 0.39 s (wash —
      // the r12 hintless pipeline's bench-SF edge was the broadcast
      // build being tiny THERE, which is exactly what fails to hold
      // at 10×).
      Tables.lineitem(s, d)
        // fold the revenue arithmetic at the scan: the shuffle stream
        // carries (key, rev) — 2 columns, not 3
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev0"))
        .groupBy("l_orderkey").agg(sum("rev0").as("rev0"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey")
            .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        // broadcast PINNED for the dim chain: with a generous
        // auto-threshold the planner may instead broadcast the fact
        // side and stream customer through one task — backwards at
        // every scale. Only (c_custkey → c_nationkey) rides the fact
        // stream: the nation/region NAME joins happen after the
        // aggregate, on 25 rows — the fact pipeline carries ints only.
        // n_nationkey is the nation PK, so grouping by c_nationkey is
        // exactly the oracle's GROUP BY r_name, n_name.
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(round(sum("rev0"), 2).as("rev"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "rev")
        .orderedSmall(col("r_name"), col("n_name"))
    },

    QueryDef("q05_semi_anti",
      """SELECT (SELECT COUNT(*) FROM orders o WHERE EXISTS
        |         (SELECT 1 FROM lineitem l WHERE l.l_orderkey=o.o_orderkey AND l.l_quantity>45)) AS a,
        |       (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
        |         (SELECT 1 FROM orders o WHERE o.o_custkey=c.c_custkey)) AS b""".stripMargin) { (s, d) =>
      // Hintless: the filter sides broadcast at bench SF (semi/anti
      // probes then pipeline into the scan tasks with no exchange) and
      // fall back to shuffle joins at 100×. Semi/anti stay the real
      // join operators (the aggregation shortcut — count distinct
      // filtered keys — would assume referential integrity the
      // operator must not).
      val a = Tables.orders(s, d).select("o_orderkey")
        .join(Tables.lineitem(s, d).filter(col("l_quantity") > 45).select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("a"))
      // The anti side DISTINCTs the probe keys first: an anti join
      // needs key MEMBERSHIP only, so the build side is bounded by the
      // distinct-customer count — not the order count — at every
      // scale, and the distinct itself collapses map-side before its
      // exchange. Measured (r13, sf1/sf0.1): 0.37→0.20 s / 0.20→0.16 s
      // vs building the raw 10×-orders key list.
      val b = Tables.customer(s, d).select("c_custkey")
        .join(Tables.orders(s, d).select("o_custkey").distinct(),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("b"))
      a.crossJoin(b)
    },

    QueryDef("q06_window",
      """SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
        |  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS run
        |  FROM orders) t WHERE rn<=3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val wSeq = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val wPrice = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(wSeq).cast("long").as("rn"),
          rank().over(wPrice).cast("long").as("rk"),
          round(sum("o_totalprice")
            .over(wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("run"))
        .filter(col("rn") <= 3)
        .orderedRows(col("o_custkey"), col("rn")) // ~3 rows/customer: scales
    },

    QueryDef("q07_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    QueryDef("q08_rollup",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, ROUND(SUM(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      // Aggregate to leaf grain FIRST, then rollup the handful of leaf
      // rows: rollup's Expand otherwise triples the raw fact stream
      // before the partial aggregate (3 grouping sets × 600k rows here,
      // × the full fact table at 100×). Rolling up partials is exact
      // for count/sum.
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt0"), sum("l_quantity").as("qty0"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("cnt0").as("cnt"), round(sum("qty0"), 2).as("sum_qty"))
        .orderedSmall(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    QueryDef("q08b_cube",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, ROUND(SUM(l_quantity),2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      // Same leaf-grain-first shape as q08 (cube = 4 grouping sets, so
      // the raw-stream Expand it avoids is ×4).
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt0"), sum("l_quantity").as("qty0"))
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("cnt0").as("cnt"), round(sum("qty0"), 2).as("sum_qty"))
        .orderedSmall(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    QueryDef("q09_set_intersect",
      """SELECT COUNT(*) AS cnt FROM (SELECT DISTINCT c_nationkey AS nk FROM customer
        |                             INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier) t""".stripMargin) { (s, d) =>
      // INTERSECT-as-aggregation: tag each side, union, and keep keys
      // seen on both. One map-side-combined aggregate over the union —
      // no distinct-then-semi-join chain (3 exchanges + a broadcast
      // build) for what is a single grouped pass. NULL keys group
      // together, matching INTERSECT's null-equal semantics. The
      // native set operators remain first-class in q09b.
      Tables.customer(s, d).select(col("c_nationkey").as("nk"), lit(0).as("side"))
        .unionByName(Tables.supplier(s, d)
          .select(col("s_nationkey").as("nk"), lit(1).as("side")))
        .groupBy("nk")
        .agg(min("side").as("lo"), max("side").as("hi"))
        .filter(col("lo") === 0 && col("hi") === 1)
        // nation-key grain is BOUNDED: collapsing the final aggregate
        // to one task satisfies the count's SinglePartition requirement
        // with no second exchange
        .coalesce(1)
        .agg(count(lit(1)).as("cnt"))
    },

    QueryDef("q09b_union_except",
      """SELECT
        | (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey AS nk FROM customer
        |                        UNION SELECT DISTINCT s_nationkey AS nk FROM supplier) t) AS u,
        | (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey AS nk FROM customer
        |                        EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier) t2) AS e""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).select(col("c_nationkey").as("nk")).distinct()
      val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nk")).distinct()
      val u = c.union(sup).distinct().agg(count(lit(1)).as("u"))
      val e = c.except(sup).agg(count(lit(1)).as("e"))
      u.crossJoin(e)
    },

    QueryDef("q10_string_math",
      """SELECT UPPER(SUBSTR(p_name,1,8)) AS u, CAST(LENGTH(p_type) AS BIGINT) AS lt,
        |       ROUND(ABS(p_retailprice-1000.0),2) AS m, p_partkey % 7 AS k
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey LIMIT 500""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%a%"))
        .orderBy("p_partkey")
        .limit(500)
        .select(upper(substring(col("p_name"), 1, 8)).as("u"),
          length(col("p_type")).cast("long").as("lt"),
          round(abs(col("p_retailprice") - 1000.0), 2).as("m"),
          (col("p_partkey") % 7).as("k"))
    },

    QueryDef("q11_date_scalars",
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
        |       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m, COUNT(*) AS c
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        .agg(count(lit(1)).as("c"))
        .orderedSmall(col("y"), col("m"))
    },

    QueryDef("q12_json",
      """SELECT CAST(JSON_EXTRACT(props,'$.k') AS INT)%10 AS kb, COUNT(*) AS c,
        |       ROUND(SUM(value),2) AS sv
        |FROM events GROUP BY kb ORDER BY kb""".stripMargin) { (s, d) =>
      // Native single-field scan (functions.JsonIntGet): probing one
      // scalar out of a small object does not need a full Jackson
      // parse — the codegen'd scanner is ~an order of magnitude
      // cheaper per row than from_json, which itself beats the
      // per-row get_json_object path walk. Same operator class as
      // DuckDB's native JSON_EXTRACT fast path, so the 2× comparison
      // stays like for like. With the parse this cheap the kernel no
      // longer earns a fanOut exchange off the single-task scan.
      graft.functions.JsonIntGet.register(s)
      Tables.events(s, d)
        .select("props", "value")
        .groupBy((graft.functions.JsonIntGet.json_int(col("props"), lit("k"))
          .cast("int") % 10).as("kb"))
        .agg(count(lit(1)).as("c"), round(sum("value"), 2).as("sv"))
        .orderedSmall(col("kb"))
    },

    QueryDef("q13_range_join",
      """SELECT COUNT(*) AS c FROM
        |  (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) e1 JOIN
        |  (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) e2
        |ON e1.user_id=e2.user_id AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        |WHERE e1.event_type='signup' AND e2.event_type='purchase'""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val e1 = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("u1"), col("ts").as("t1"))
      val e2 = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("ts").as("t2"))
      // equi-join on user_id; the time range is a residual predicate, so
      // this stays a hash/sort-merge join (never BroadcastNestedLoop).
      e1.join(e2, col("u1") === col("u2") &&
          col("t2") > col("t1") &&
          col("t2") <= col("t1") + expr("INTERVAL 1 HOUR"))
        .agg(count(lit(1)).as("c"))
    },

    QueryDef("q14_percentiles",
      """SELECT event_type, ROUND(QUANTILE_CONT(value,0.5),3) AS p50,
        |       ROUND(QUANTILE_CONT(value,0.95),3) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5D)"), 3).as("p50"),
          round(expr("percentile(value, 0.95D)"), 3).as("p95"))
        .orderedSmall(col("event_type"))
    },

    QueryDef("q16_asof_join",
      """SELECT p.event_id AS pid, CAST(s.ts AS TIMESTAMP) AS signup_ts
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type='purchase') p
        |ASOF JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type='signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY pid""".stripMargin) { (s, d) =>
      // As-of join via the union+window trick (SURVEY.md §4.2): tag
      // both sides, union, and carry the latest right-side timestamp
      // forward per key — ONE shuffle on (user_id), no range join, no
      // custom Strategy needed. Ties (purchase at the signup instant)
      // order the signup first (r asc) so ts >= s.ts matches DuckDB.
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("r"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(lit(null).cast("long").as("event_id"), col("user_id"),
          col("ts"), lit(0).as("r"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.unionByName(signups)
        .withColumn("signup_ts",
          last(when(col("r") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("r") === 1 && col("signup_ts").isNotNull)
        .select(col("event_id").as("pid"), col("signup_ts"))
        .orderedRows(col("pid")) // one row per purchase: scales
    },

    // q16b: the LEFT OUTER as-of — purchases with NO prior signup
    // survive with a null match, the shape a point-in-time feature
    // join needs (every fact row must come back, matched or not).
    // Same union+window plan as q16 minus the null filter: the outer
    // semantics cost nothing extra — one shuffle, identical window.
    QueryDef("q16b_asof_outer",
      """SELECT p.event_id AS pid, CAST(s.ts AS TIMESTAMP) AS signup_ts
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type='purchase') p
        |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |                WHERE event_type='signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY pid""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("r"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(lit(null).cast("long").as("event_id"), col("user_id"),
          col("ts"), lit(0).as("r"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.unionByName(signups)
        .withColumn("signup_ts",
          last(when(col("r") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("r") === 1)
        .select(col("event_id").as("pid"), col("signup_ts"))
        .orderedRows(col("pid")) // one row per purchase: scales
    },

    QueryDef("q15_corr_subquery",
      """SELECT ROUND(SUM(l_extendedprice)/7.0,2) AS v
        |FROM lineitem l JOIN part p ON p.p_partkey=l.l_partkey
        |WHERE p.p_brand='Brand#1'
        |  AND l_quantity < (SELECT 0.2*AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey=p.p_partkey)""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#1").select("p_partkey")
      // Restrict the fact table to the brand's partkeys *before* the
      // per-part average: the heavy aggregate then runs over a small
      // slice instead of all of lineitem (TPC-H Q17 rewrite). The
      // per-part threshold is a window over the same slice — ONE
      // shuffle on l_partkey and ONE pass over the slice, vs the
      // groupBy+self-join form that scans it twice.
      val liBrand = li.join(broadcast(brandParts),
        col("l_partkey") === col("p_partkey"), "left_semi")
      liBrand
        .withColumn("thr", lit(0.2) *
          avg("l_quantity").over(Window.partitionBy("l_partkey")))
        .filter(col("l_quantity") < col("thr"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("v"))
    },

    // q17: PIVOT (wide conditional aggregation). The value list is
    // PINNED — pivot with explicit values compiles to a single-pass
    // conditional aggregate (PivotFirst); omitting the list makes
    // Spark run a driver-side distinct job over the pivot column
    // first, a hidden extra scan you never want at 100 TB.
    QueryDef("q17_pivot",
      """SELECT o_orderstatus,
        |  ROUND(SUM(CASE WHEN o_orderpriority='1-URGENT'        THEN o_totalprice END),2) AS p_urgent,
        |  ROUND(SUM(CASE WHEN o_orderpriority='2-HIGH'          THEN o_totalprice END),2) AS p_high,
        |  ROUND(SUM(CASE WHEN o_orderpriority='3-MEDIUM'        THEN o_totalprice END),2) AS p_medium,
        |  ROUND(SUM(CASE WHEN o_orderpriority='4-NOT SPECIFIED' THEN o_totalprice END),2) AS p_notspec,
        |  ROUND(SUM(CASE WHEN o_orderpriority='5-LOW'           THEN o_totalprice END),2) AS p_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(round(sum("o_totalprice"), 2))
        .select(col("o_orderstatus"),
          col("`1-URGENT`").as("p_urgent"), col("`2-HIGH`").as("p_high"),
          col("`3-MEDIUM`").as("p_medium"),
          col("`4-NOT SPECIFIED`").as("p_notspec"), col("`5-LOW`").as("p_low"))
        .orderedSmall(col("o_orderstatus"))
    },

    // q18: ordered string aggregation (LISTAGG / STRING_AGG family).
    // collect_set's order is partition-nondeterministic — array_sort
    // pins it; the per-group payload is bounded by the dimension's
    // type cardinality (set semantics), never by the fact row count,
    // which is what makes an in-memory list aggregate admissible at
    // scale. Unbounded-payload listaggs need a cap or a sketch instead.
    QueryDef("q18_string_agg",
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |       ROUND(AVG(p_retailprice),2) AS avg_price,
        |       STRING_AGG(DISTINCT p_type, ',' ORDER BY p_type) AS types
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          round(avg("p_retailprice"), 2).as("avg_price"),
          array_join(array_sort(collect_set(col("p_type"))), ",").as("types"))
        .orderedSmall(col("p_brand"))
    },

    // q19: FULL OUTER join — year-over-year customer spend, keeping
    // customers active in only one of the two years on the
    // appropriate side (261/255 one-sided at sf0.01). Both aggregates
    // hash-partition by o_custkey, and the aggregate OUTPUT partitioning
    // is retained, so the sort-merge full outer adds no third
    // exchange; the year filters sit on the scan column (pushed down),
    // and a USING-style join key coalesces on both engines.
    QueryDef("q19_full_outer",
      """WITH a AS (SELECT o_custkey, ROUND(SUM(o_totalprice),2) AS spend95,
        |                  CAST(COUNT(*) AS BIGINT) AS n95
        |           FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |             AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY o_custkey),
        |     b AS (SELECT o_custkey, ROUND(SUM(o_totalprice),2) AS spend96,
        |                  CAST(COUNT(*) AS BIGINT) AS n96
        |           FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |             AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY o_custkey)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |       COALESCE(spend95, 0) AS spend95, COALESCE(n95, 0) AS n95,
        |       COALESCE(spend96, 0) AS spend96, COALESCE(n96, 0) AS n96
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      def yearAgg(y: String, yNext: String, sp: String, n: String) =
        Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts(s"$y-01-01") &&
            col("o_orderdate") < ts(s"$yNext-01-01"))
          .groupBy("o_custkey")
          .agg(round(sum("o_totalprice"), 2).as(sp), count(lit(1)).as(n))
      yearAgg("1995", "1996", "spend95", "n95")
        .join(yearAgg("1996", "1997", "spend96", "n96"),
          Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("spend95"), lit(0d)).as("spend95"),
          coalesce(col("n95"), lit(0L)).as("n95"),
          coalesce(col("spend96"), lit(0d)).as("spend96"),
          coalesce(col("n96"), lit(0L)).as("n96"))
        .orderedRows(col("o_custkey")) // per-customer rows scale with corpus
    },

    // q20: arbitrary GROUPING SETS — deliberately NOT a rollup chain
    // ((status,priority),(priority),()): priority-alone is not a
    // prefix of the leaf set, so this exercises the general form.
    // Same leaf-grain-first doctrine as q08: aggregate to the leaf
    // grain, then Expand only the handful of partial rows — the raw
    // fact stream never multiplies by the number of grouping sets.
    QueryDef("q20_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
        |       ROUND(SUM(o_totalprice),2) AS rev
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n0"), sum("o_totalprice").as("rev0"))
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum("n0").as("cnt"), round(sum("rev0"), 2).as("rev"))
        .orderedSmall(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // q21: regular-expression scalars (extract / match / global
    // replace) — patterns kept inside the RE2 ∩ java.util.regex
    // common subset (no backreferences, no lookaround) so both
    // engines compile them identically. All three run inside the
    // scan's codegen stage; the aggregate is vocabulary-sized.
    QueryDef("q21_regex",
      """SELECT regexp_extract(text, '^([a-z]+)', 1) AS first_tok,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN regexp_matches(text, '(dup|spam)') THEN 1 ELSE 0 END) AS BIGINT) AS flagged,
        |       ROUND(AVG(LENGTH(regexp_replace(text, '[aeiou]', '', 'g'))),2) AS avg_novowel_len
        |FROM documents GROUP BY first_tok ORDER BY first_tok""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(regexp_extract(col("text"), "^([a-z]+)", 1).as("first_tok"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("text").rlike("(dup|spam)"), 1L).otherwise(0L)).as("flagged"),
          round(avg(length(regexp_replace(col("text"), "[aeiou]", ""))), 2)
            .as("avg_novowel_len"))
        .orderedSmall(col("first_tok"))
    },

    // q22: window navigation family — lag / lead / ntile /
    // first_value over ONE shared window spec, so WindowExec computes
    // all four in a single sort+exchange pass (four distinct specs
    // would each re-sort). The (custkey, orderdate, orderkey) order
    // is total (orderkey unique), which pins lag/lead/ntile exactly;
    // first_value uses both engines' identical default frame.
    QueryDef("q22_window_nav",
      """SELECT o_orderkey, o_custkey,
        |  COALESCE(LAG(o_totalprice) OVER w, 0) AS prev_price,
        |  COALESCE(LEAD(o_totalprice) OVER w, 0) AS next_price,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  FIRST_VALUE(o_orderdate) OVER w AS first_date
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("prev_price", coalesce(lag("o_totalprice", 1).over(w), lit(0d)))
        .withColumn("next_price", coalesce(lead("o_totalprice", 1).over(w), lit(0d)))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("first_date", first("o_orderdate").over(w))
        .orderedRows(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "prev_price", "next_price",
          "quartile", "first_date")
    },

    // q25: NULL-AWARE anti join — SQL's most-misimplemented corner:
    // `x NOT IN (subquery)` under three-valued logic is UNKNOWN (not
    // true) for EVERY row the moment the subquery contains one NULL,
    // so the null-bearing branch must return 0 while the null-free
    // branch is a plain anti join. Spark plans the null-bearing form
    // as a null-aware anti join (a broadcast-only strategy — the
    // single-null check must see the whole build side, which is why
    // engines restrict NAAJ to broadcast; a plain anti-join rewrite
    // would be WRONG, not just slow). Both branches in one entry so a
    // regression in either direction breaks the hash.
    QueryDef("q25_null_aware_antijoin",
      """WITH y97 AS (SELECT o_custkey, o_orderstatus FROM orders
        |             WHERE EXTRACT(YEAR FROM o_orderdate)=1997)
        |SELECT which, CAST(c AS BIGINT) AS c FROM (
        |  SELECT 'no_nulls' AS which, COUNT(*) AS c FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM y97)
        |  UNION ALL
        |  SELECT 'with_nulls', COUNT(*) FROM customer
        |  WHERE c_custkey NOT IN
        |    (SELECT CASE WHEN o_orderstatus='P' THEN NULL ELSE o_custkey END
        |     FROM y97))
        |ORDER BY which""".stripMargin) { (s, d) =>
      // NOT IN subqueries are the one shape with no DataFrame-API
      // equivalent (isin takes literals; a manual anti join would
      // bypass exactly the null semantics under test) — registered
      // views + spark.sql IS the idiomatic form
      Tables.customer(s, d).createOrReplaceTempView("graft_q25_customer")
      Tables.orders(s, d).createOrReplaceTempView("graft_q25_orders")
      s.sql(
        """WITH y97 AS (SELECT o_custkey, o_orderstatus FROM graft_q25_orders
          |             WHERE year(o_orderdate)=1997)
          |SELECT which, c FROM (
          |  SELECT 'no_nulls' AS which, COUNT(*) AS c FROM graft_q25_customer
          |  WHERE c_custkey NOT IN (SELECT o_custkey FROM y97)
          |  UNION ALL
          |  SELECT 'with_nulls', COUNT(*) FROM graft_q25_customer
          |  WHERE c_custkey NOT IN
          |    (SELECT CASE WHEN o_orderstatus='P' THEN NULL ELSE o_custkey END
          |     FROM y97))""".stripMargin)
        .orderedSmall(col("which"))
    },

    // q24: MULTISET set operations — INTERSECT ALL / EXCEPT ALL keep
    // multiplicities (a customer with 3 orders in 1997 and 2 in 1998
    // contributes min(3,2)=2 to the intersection, 3−2=1 to the
    // difference), the semantics the DISTINCT forms (q09/q09b) erase.
    // Spark plans both as a single hash aggregate computing per-key
    // counts on each side then replicating min/difference rows — one shuffle
    // per op, no join, the same shape DuckDB uses.
    QueryDef("q24_multiset_ops",
      """WITH y97 AS (SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate)=1997),
        |y98 AS (SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate)=1998)
        |SELECT which, CAST(c AS BIGINT) AS c FROM (
        |  SELECT 'inter_all' AS which, COUNT(*) AS c
        |  FROM (SELECT * FROM y97 INTERSECT ALL SELECT * FROM y98)
        |  UNION ALL
        |  SELECT 'except_all', COUNT(*)
        |  FROM (SELECT * FROM y97 EXCEPT ALL SELECT * FROM y98)
        |  UNION ALL
        |  SELECT 'inter_distinct', COUNT(*)
        |  FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98))
        |ORDER BY which""".stripMargin) { (s, d) =>
      val orders = Tables.orders(s, d)
      def yr(y: Int) = orders.filter(year(col("o_orderdate")) === y)
        .select("o_custkey")
      val (a, b) = (yr(1997), yr(1998))
      Seq(
        ("inter_all", a.intersectAll(b)),
        ("except_all", a.exceptAll(b)),
        ("inter_distinct", a.intersect(b)))
        .map { case (n, df) =>
          df.agg(count(lit(1)).as("c")).select(lit(n).as("which"), col("c"))
        }
        .reduce(_.unionByName(_))
        .orderedSmall(col("which"))
    },

    // q23: time-interval RANGE window frames — per event, the trailing
    // 1-hour per-user activity (rolling sum + count). The RANGE frame
    // is value-based, so peers (equal ts) always share a frame and the
    // result is order-independent by construction — no tie-break
    // column needed. Both measures share one window spec: a single
    // sort+exchange on user_id, and WindowExec's sliding-frame path
    // advances two pointers per row instead of re-scanning the frame.
    // The sum runs in DECIMAL on both engines (exact arithmetic ⇒ the
    // hash compare is immune to float summation order), cast back to
    // DOUBLE after rounding.
    QueryDef("q23_range_frame",
      """SELECT event_id, user_id,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE), 2) AS sv_1h,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events) e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val over = "OVER (PARTITION BY user_id ORDER BY ts " +
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("sv_1h",
          expr(s"ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) $over AS DOUBLE), 2)"))
        .withColumn("n_1h", expr(s"COUNT(*) $over").cast("long"))
        .select("event_id", "user_id", "sv_1h", "n_1h")
        .orderedRows(col("event_id")) // one row per event: scales
    },

    // q26: LATERAL explode with ordinality — the table-function join
    // (UNNEST WITH ORDINALITY / posexplode): one row per (row,
    // position) of a split column, re-aggregated by position. Spark's
    // posexplode runs inside whole-stage codegen as a Generate — no
    // join, no shuffle until the aggregate; the explode multiplies
    // rows map-side, so at 100× data the only exchange still carries
    // (pos, word) partial counts, not the exploded rows.
    QueryDef("q26_lateral_explode",
      """SELECT CAST(i + 1 AS BIGINT) AS pos, ts[i+1] AS word,
        |       CAST(COUNT(*) AS BIGINT) AS c
        |FROM (SELECT STRING_SPLIT(p_type, ' ') AS ts FROM part),
        |     UNNEST(range(0, LEN(ts))) AS u(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(posexplode(split(col("p_type"), " ")))
        .groupBy((col("pos") + 1).cast("long").as("pos"), col("col").as("word"))
        .agg(count(lit(1)).as("c"))
        .orderedSmall(col("pos"), col("word")) // positions × type vocab: bounded
    },

    // q27: correlated SCALAR subqueries in the SELECT list (count +
    // conditional average per outer row) under an EXISTS row filter —
    // the de-correlation surface q05 (semi/anti) and q15 (correlated
    // comparison) don't cover. Catalyst rewrites each scalar subquery
    // to an aggregate-then-left-outer-join on the correlation key and
    // the EXISTS to a left-semi join; with nation as the outer side
    // all three joins broadcast the 25-row frame — zero wide shuffles
    // of customer/supplier beyond their own pre-aggregates.
    QueryDef("q27_scalar_subquery",
      """SELECT n_name,
        |  CAST((SELECT COUNT(*) FROM customer c
        |        WHERE c.c_nationkey = n.n_nationkey) AS BIGINT) AS n_cust,
        |  ROUND(COALESCE((SELECT AVG(c_acctbal) FROM customer c
        |                  WHERE c.c_nationkey = n.n_nationkey
        |                    AND c_acctbal > 0), 0), 2) AS avg_pos_bal
        |FROM nation n
        |WHERE EXISTS (SELECT 1 FROM supplier s
        |              WHERE s.s_nationkey = n.n_nationkey)
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      // scalar subqueries have no DataFrame-API form — like q25,
      // registered views + spark.sql is the idiomatic expression
      Tables.nation(s, d).createOrReplaceTempView("graft_q27_nation")
      Tables.customer(s, d).createOrReplaceTempView("graft_q27_customer")
      Tables.supplier(s, d).createOrReplaceTempView("graft_q27_supplier")
      s.sql(
        """SELECT n_name,
          |  (SELECT COUNT(*) FROM graft_q27_customer c
          |   WHERE c.c_nationkey = n.n_nationkey) AS n_cust,
          |  ROUND(COALESCE((SELECT AVG(c_acctbal) FROM graft_q27_customer c
          |                  WHERE c.c_nationkey = n.n_nationkey
          |                    AND c_acctbal > 0), 0), 2) AS avg_pos_bal
          |FROM graft_q27_nation n
          |WHERE EXISTS (SELECT 1 FROM graft_q27_supplier s
          |              WHERE s.s_nationkey = n.n_nationkey)""".stripMargin)
        .orderedSmall(col("n_name")) // ≤ nation rows: bounded
    },

    // q28: MULTI-DISTINCT aggregation — several COUNT(DISTINCT ·) over
    // DIFFERENT columns plus a SUM(DISTINCT) and a plain COUNT in one
    // GROUP BY. Spark plans this with one Expand (row replicated per
    // distinct group, non-distinct aggregates computed on one replica)
    // feeding a two-phase aggregate — still a single wide exchange on
    // the group key, which is the shape that survives 100×; the naive
    // alternative (one aggregation per distinct column + join) would
    // be N shuffles + N−1 joins.
    QueryDef("q28_multi_distinct",
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS dp,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ds,
        |  ROUND(SUM(DISTINCT l_quantity), 2) AS sdq,
        |  CAST(COUNT(*) AS BIGINT) AS c
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("dp"),
          countDistinct("l_suppkey").as("ds"),
          round(sum_distinct(col("l_quantity")), 2).as("sdq"),
          count(lit(1)).as("c"))
        .orderedSmall(col("l_returnflag")) // return-flag arity: bounded
    },

    // q29: UNPIVOT (melt) — the wide→long reshape every long-form
    // analytics stack leans on (pandas melt / SQL UNPIVOT). Spark's
    // native `unpivot` generates the long rows INSIDE the scan stage
    // (an Expand, codegen'd — never a union of N self-scans, which
    // would re-read the fact table once per measure), and the melt
    // feeds straight into a per-(measure, flag) aggregate so only
    // measures×flags partial rows reach the exchange. At 100 TB the
    // 4× row expansion exists only inside map tasks, never on the
    // wire.
    QueryDef("q29_unpivot",
      """SELECT measure, l_returnflag, ROUND(SUM(val), 2) AS sv,
        |       CAST(COUNT(*) AS BIGINT) AS c
        |FROM (
        |  SELECT l_returnflag, measure, val
        |  FROM lineitem
        |  UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice,
        |                               l_discount, l_tax))
        |)
        |GROUP BY measure, l_returnflag
        |ORDER BY measure, l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_quantity", "l_extendedprice",
          "l_discount", "l_tax")
        .unpivot(
          ids = Array(col("l_returnflag")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "measure",
          valueColumnName = "val")
        .groupBy("measure", "l_returnflag")
        .agg(round(sum("val"), 2).as("sv"), count(lit(1)).as("c"))
        .orderedSmall(col("measure"), col("l_returnflag")) // 4×flags: bounded
    },

    // q30: EXACT percentiles — median/quartiles per group, the
    // reporting primitive approx sketches (k1's HLL cousin
    // percentile_approx) trade away. Spark's `percentile` aggregate
    // buffers per-group value counts (bounded here by the group's
    // distinct-value count, ~50 quantities) and both engines share the
    // linear-interpolation definition at index p·(n−1), so
    // integer-valued inputs at quarter fractions are IEEE-exact across
    // engines — no rounding tolerance in the hash. One map-side-combined
    // exchange on the group key.
    QueryDef("q30_percentile",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5)  AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_extendedprice, 0.5) AS price_med,
        |  CAST(COUNT(*) AS BIGINT) AS c
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          expr("percentile(l_extendedprice, 0.5)").as("price_med"),
          count(lit(1)).as("c"))
        .orderedSmall(col("l_returnflag")) // return-flag arity: bounded
    },

    // q31: DISTRIBUTION window functions — percent_rank / cume_dist /
    // dense_rank, the rank-normalization family q22's navigation set
    // left out. All three ride ONE window spec = one sort+exchange;
    // the outputs are exact small-integer rationals ((rank−1)/(n−1),
    // peers/n) so both engines' doubles agree bit-for-bit. Ties in
    // o_totalprice are genuine (value-based peers share percent_rank
    // and cume_dist) — the final total order breaks them by orderkey
    // on both sides.
    QueryDef("q31_window_distribution",
      """SELECT o_orderkey, o_custkey,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd,
        |  CAST(DENSE_RANK() OVER w AS BIGINT) AS dr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
        |ORDER BY o_custkey, o_totalprice, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_totalprice")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("dr", dense_rank().over(w).cast("long"))
        // per-row output scales with the corpus → parallel range sort
        .orderedRows(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "pr", "cd", "dr")
    },

    // q32: CALENDAR-FUNCTION family — day-of-week, ISO week, month-end
    // arithmetic, leap-year handling: the semantics every reporting
    // query leans on and every engine numbers differently (Spark's
    // dayofweek is 1=Sunday, DuckDB's 0=Sunday — the entry pins the
    // mapping explicitly rather than hoping). All derived values are
    // small integers aggregated per (year, quarter), so the hash
    // certifies the calendar math exactly; one map-side-combined
    // exchange.
    QueryDef("q32_calendar",
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
        |       CAST(QUARTER(o_orderdate) AS BIGINT) AS q,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
        |       CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
        |                last_day(CAST(o_orderdate AS DATE)))) AS BIGINT)
        |         AS sum_to_month_end,
        |       CAST(SUM(CASE WHEN weekofyear(o_orderdate) = 1
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_isoweek1,
        |       CAST(SUM(CASE WHEN DAY(last_day(CAST(o_orderdate AS DATE))) = 29
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leap_feb
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val dd = to_date(col("o_orderdate"))
      Tables.orders(s, d)
        .groupBy(year(dd).cast("long").as("y"), quarter(dd).cast("long").as("q"))
        .agg(
          count(lit(1)).as("n"),
          // Spark dayofweek: 1=Sunday…7=Saturday; DuckDB: 0=Sunday
          sum(when(dayofweek(dd).isin(1, 7), 1L).otherwise(0L)).as("n_weekend"),
          sum(datediff(last_day(dd), dd).cast("long")).as("sum_to_month_end"),
          // both engines number weeks ISO-8601
          sum(when(weekofyear(dd) === 1, 1L).otherwise(0L)).as("n_isoweek1"),
          sum(when(dayofmonth(last_day(dd)) === 29, 1L).otherwise(0L)).as("n_leap_feb"))
        .orderedSmall(col("y"), col("q")) // years×4: bounded
    },

    // q33: NULL semantics — ordering, null-safe equality, and
    // aggregate treatment, the cross-engine trap zone (engines
    // default NULLS to opposite ends; <=> vs IS NOT DISTINCT FROM;
    // COUNT skips NULLs while COUNT(*) doesn't; AVG ignores them).
    // Nulls are CONSTRUCTED identically on both sides (every third
    // quantity), then: a pinned NULLS-LAST ordered projection, a
    // null-safe self-match count (NULL <=> NULL is TRUE where = is
    // UNKNOWN), and the aggregate family over the nullable column in
    // one entry — any divergence in any rule breaks the hash.
    QueryDef("q33_null_semantics",
      """WITH n AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN (l_orderkey + l_linenumber) % 3 = 0 THEN NULL
        |              ELSE l_quantity END AS q
        |  FROM lineitem),
        |ord AS (
        |  SELECT l_orderkey, l_linenumber, q,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |           ORDER BY q ASC NULLS LAST, l_linenumber) AS rn
        |  FROM n)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(q) AS BIGINT) AS n_vals,
        |  CAST(SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  ROUND(AVG(q), 4) AS avg_vals,
        |  ROUND(SUM(q), 2) AS sum_vals,
        |  CAST(SUM(CASE WHEN q IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nsafe_null_matches,
        |  CAST(SUM(CASE WHEN rn = 1 AND q IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_firsts
        |FROM ord""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("q").asc_nulls_last, col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          when((col("l_orderkey") + col("l_linenumber")) % 3 === 0, lit(null))
            .otherwise(col("l_quantity")).as("q"))
        .withColumn("rn", row_number().over(w))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("q")).as("n_vals"), // COUNT(col) skips NULLs
          sum(when(col("q").isNull, 1L).otherwise(0L)).as("n_nulls"),
          round(avg("q"), 4).as("avg_vals"), // AVG over non-nulls only
          round(sum("q"), 2).as("sum_vals"),
          // null-safe equality: NULL <=> NULL is TRUE, NULL = NULL is not
          sum(when(col("q") <=> lit(null), 1L).otherwise(0L))
            .as("nsafe_null_matches"),
          // NULLS LAST: a NULL can head a group only if it's all-NULL
          sum(when(col("rn") === 1 && col("q").isNull, 1L).otherwise(0L))
            .as("null_firsts"))
    },

    // q34: TABLE PROFILE — the data-card operator a corpus/warehouse
    // report leads with: per column, row count, nulls, exact distinct
    // count, typed min/max (numerics incl. epoch-micros timestamps in
    // the _num columns, strings in binary order in the _str columns),
    // and for CATEGORICAL columns the modal value with its count
    // (count-desc, value-asc tie-break — deterministic; the mode of a
    // continuous double is noise, so numerics carry NULL there by
    // declaration). Scale shape: each column profiles in one
    // column-pruned pass with map-side partial aggregates (the ndv is
    // the only shuffle, on the column's distinct values); the modal
    // lookups aggregate to one row before joining. Six small plans
    // union — at 100 TB each is an independent scan the scheduler can
    // overlap, and a cheaper approximate profile is k1's HLL.
    QueryDef("q34_table_profile",
      """WITH base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        |                     event_type, value, props FROM events),
        |top_et AS (SELECT event_type AS v, CAST(COUNT(*) AS BIGINT) AS c FROM base
        |           WHERE event_type IS NOT NULL GROUP BY 1 ORDER BY c DESC, v LIMIT 1),
        |top_pr AS (SELECT props AS v, CAST(COUNT(*) AS BIGINT) AS c FROM base
        |           WHERE props IS NOT NULL GROUP BY 1 ORDER BY c DESC, v LIMIT 1)
        |SELECT * FROM (
        |SELECT 'event_id' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS ndv,
        |  CAST(MIN(event_id) AS DOUBLE) AS min_num, CAST(MAX(event_id) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
        |  CAST(NULL AS VARCHAR) AS top_value, CAST(NULL AS BIGINT) AS top_count FROM base
        |UNION ALL
        |SELECT 'ts', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT ts) AS BIGINT),
        |  CAST(epoch_us(MIN(ts)) AS DOUBLE), CAST(epoch_us(MAX(ts)) AS DOUBLE),
        |  NULL, NULL, NULL, NULL FROM base
        |UNION ALL
        |SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT),
        |  CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
        |  NULL, NULL, NULL, NULL FROM base
        |UNION ALL
        |SELECT 'value', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT value) AS BIGINT),
        |  MIN(value), MAX(value), NULL, NULL, NULL, NULL FROM base
        |UNION ALL
        |SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  MIN(event_type), MAX(event_type),
        |  (SELECT v FROM top_et), (SELECT c FROM top_et) FROM base
        |UNION ALL
        |SELECT 'props', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT props) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  MIN(props), MAX(props),
        |  (SELECT v FROM top_pr), (SELECT c FROM top_pr) FROM base
        |) ORDER BY col_name""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      def counts(c: Column): Seq[Column] = Seq(
        count(lit(1)).as("n"),
        sum(when(c.isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(c).as("ndv"))
      def numProf(name: String, c: Column): DataFrame =
        e.agg(counts(c).head, counts(c).tail :+
            min(c).cast("double").as("min_num") :+
            max(c).cast("double").as("max_num"): _*)
          .select(lit(name).as("col_name"), col("n"), col("n_nulls"), col("ndv"),
            col("min_num"), col("max_num"),
            lit(null).cast("string").as("min_str"),
            lit(null).cast("string").as("max_str"),
            lit(null).cast("string").as("top_value"),
            lit(null).cast("long").as("top_count"))
      def strProf(name: String, c: Column): DataFrame = {
        val agg = e.agg(counts(c).head, counts(c).tail :+
          min(c).as("min_str") :+ max(c).as("max_str"): _*)
        val top = e.filter(c.isNotNull).groupBy(c.as("v"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("v")).limit(1)
          .select(col("v").as("top_value"), col("c").as("top_count"))
        agg.crossJoin(top)
          .select(lit(name).as("col_name"), col("n"), col("n_nulls"), col("ndv"),
            lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("max_num"),
            col("min_str"), col("max_str"), col("top_value"), col("top_count"))
      }
      Seq(
        numProf("event_id", col("event_id")),
        numProf("ts", unix_micros(col("ts"))),
        numProf("user_id", col("user_id")),
        numProf("value", col("value")),
        strProf("event_type", col("event_type")),
        strProf("props", col("props")))
        .reduce(_.unionAll(_))
        .orderedSmall(col("col_name"))
    },

    // q35: HIERARCHY FLATTENING — the recursive walk-to-root (WITH
    // RECURSIVE in SQL engines) Spark has no native operator for,
    // implemented by POINTER JUMPING (operators/Hierarchy): each round
    // one self equi-join substitutes every node's known ancestor with
    // that ancestor's ancestor, DOUBLING known distance — O(log depth)
    // shuffle joins for any depth, vs the per-level BFS whose join
    // count equals the hierarchy depth. The tree here is derived
    // deterministically from the corpus (parent = custkey div 10,
    // custkeys < 10 are self-parented roots), so the oracle walks the
    // identical recurrence. Output scales with the corpus → parallel
    // range sort, never a one-task funnel.
    QueryDef("q35_hierarchy_flatten",
      """WITH RECURSIVE up AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
        |  FROM customer
        |  UNION ALL
        |  SELECT node, cur // 10, depth + 1 FROM up WHERE cur >= 10
        |)
        |SELECT node AS c_custkey, cur AS root, depth FROM up
        |WHERE cur < 10 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val edges = Tables.customer(s, d).select(
        col("c_custkey").as("node"),
        when(col("c_custkey") < 10, col("c_custkey"))
          .otherwise(expr("c_custkey div 10")).as("parent"))
      val (flat, _) = graft.operators.Hierarchy.flatten(edges)
      flat.select(col("node").as("c_custkey"), col("root"), col("depth"))
        .orderedRows(col("c_custkey"))
    },

    // q36: HIGHER-ORDER array functions — the lambda surface
    // (transform / filter / aggregate / zip_with) that processes
    // nested collections IN PLACE, without explode+regroup: an
    // explode doubles the row count through a generator and pays a
    // re-aggregation exchange per derived metric; the HOF pipeline
    // computes all four metrics inside one projection, zero shuffles,
    // whole-stage-codegen'd. zip_with over the two shifted slices is
    // the adjacent-pair comparison (repeated-token count) that
    // otherwise needs a posexplode + self-join.
    QueryDef("q36_array_pipeline",
      """SELECT doc_id,
        |  CAST(len(list_filter(tk, t -> len(t) >= 4)) AS BIGINT) AS n_long,
        |  CAST(COALESCE(list_sum(list_transform(
        |    list_filter(tk, t -> len(t) >= 4), t -> len(t))), 0) AS BIGINT) AS long_chars,
        |  CAST(list_max(list_transform(tk, t -> len(t))) AS BIGINT) AS max_len,
        |  CAST(len(list_filter(range(len(tk) - 1),
        |    i -> tk[CAST(i + 1 AS INT)] = tk[CAST(i + 2 AS INT)])) AS BIGINT) AS n_rep
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ", -1).as("tk"))
        .select(col("doc_id"),
          expr("CAST(size(filter(tk, t -> length(t) >= 4)) AS BIGINT)")
            .as("n_long"),
          expr("aggregate(filter(tk, t -> length(t) >= 4), 0L," +
            " (acc, t) -> acc + length(t))").as("long_chars"),
          expr("CAST(array_max(transform(tk, t -> length(t))) AS BIGINT)")
            .as("max_len"),
          expr("CAST(size(filter(zip_with(slice(tk, 1, size(tk) - 1)," +
            " slice(tk, 2, size(tk) - 1), (a, b) -> a = b), x -> x)) AS BIGINT)")
            .as("n_rep"))
        .orderedRows(col("doc_id")) // one row per doc: scales
    }
  )
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bench's prepared-plan execution invariants: a deep-cloned physical
  * plan must (a) produce the same result as the original on every
  * re-execution, and (b) own ALL of its exchange nodes — including the
  * target of every ReusedExchangeExec leaf, which TreeNode.clone()
  * would otherwise leave pointing at the ORIGINAL tree, silently
  * serving later passes from the first pass's materialized shuffle.
  */
class BenchPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A self-join whose two sides are canonically identical, so the
    * planner emits Exchange + ReusedExchangeExec (the l2/d1 shape).
    * Confs are set at RUNTIME: in the shared-JVM test run getOrCreate
    * returns whichever session a sibling suite built first (builder
    * configs are then ignored), and with AQE on the executed plan is
    * an AdaptiveSparkPlanExec — not the static tree Bench prepares
    * under its AQE-off session. */
  private def selfJoinPlan() = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 97, i)).toDF("k", "v")
    val side = df.repartition(4, col("k"))
    side.select(col("k"), col("v").as("a"))
      .join(side.select(col("k"), col("v").as("b")), Seq("k"))
      .groupBy().count()
  }

  test("cloned plan re-executes to the same result, repeatedly") {
    val plan = selfJoinPlan().queryExecution.executedPlan
    val expected = plan.executeCollect()(0).getLong(0)
    for (_ <- 1 to 3) {
      val got = Bench.freshPlan(plan).executeCollect()(0).getLong(0)
      assert(got == expected)
    }
  }

  test("freshPlan refuses AQE plans (shared stage cache across clones)") {
    // With AQE on, AdaptiveSparkPlanExec carries its execution context
    // (incl. the stage-result cache) as a constructor arg, which
    // clone() SHARES — later passes would reuse the first pass's
    // materialized shuffles (measured: a fake 3× under an AQE-on
    // session, e.g. SPARK_GRAFT_AQE=on). prepare() must fall back to
    // legacy whole-function timing.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      import spark.implicits._
      val plan = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
        .groupBy("k").count().groupBy().count()
        .queryExecution.executedPlan
      assume(plan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]))
      assertThrows[IllegalStateException](Bench.freshPlan(plan))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  test("reuse edges in the clone point at the clone's own exchanges") {
    val plan = selfJoinPlan().queryExecution.executedPlan
    val reused = plan.collect { case r: ReusedExchangeExec => r }
    assume(reused.nonEmpty, "planner emitted no ReusedExchangeExec")
    val origExchanges = plan.collect { case e: Exchange => e }

    val clone = Bench.freshPlan(plan)
    val cloneExchanges = clone.collect { case e: Exchange => e }
    // every reuse leaf was rewritten to the Borrowed delegate (a plain
    // remapped ReusedExchangeExec would be value-equal to the stale one
    // and silently DISCARDED by withNewChildren — the class change is
    // what makes the remap stick)
    assert(clone.collect { case r: ReusedExchangeExec => r }.isEmpty,
      "stale ReusedExchangeExec survived the remap")
    val borrowed = clone.collect { case b: Bench.BorrowedExchangeExec => b }
    assert(borrowed.size == reused.size)
    borrowed.foreach { b =>
      assert(origExchanges.forall(_ ne b.target),
        "clone's reuse edge still points into the original tree")
      assert(cloneExchanges.exists(_ eq b.target),
        "clone's reuse edge must target one of the clone's exchanges")
    }
    // and the original's exchange instances are untouched by the remap
    assert(plan.collect { case e: Exchange => e }
      .zip(origExchanges).forall { case (a, b) => a eq b })
  }
}

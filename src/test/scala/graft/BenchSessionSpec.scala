package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench session profile ([[Bench.sessionConf]]), the one conf
  * map Bench times with and PlanDump dumps plans with. Each value is
  * a closed A/B (reasons at its line in Bench), so a change that
  * shifts one of them fails here. It checks the map rather than a
  * live session because the test JVM shares one session across specs.
  */
class BenchSessionSpec extends AnyFunSuite {

  private val conf = Bench.sessionConf("8")

  test("bench session profile holds the tuned values") {
    assert(conf("spark.master") === "local[8]")
    assert(conf("spark.sql.adaptive.enabled") === "false")
    assert(conf("spark.sql.shuffle.partitions") === "8")
    assert(conf("spark.graft.tinyExchange.enabled") === "true")
    assert(conf("spark.sql.autoBroadcastJoinThreshold") === (256L << 20).toString)
    assert(conf("spark.sql.join.preferSortMergeJoin") === "false")
    assert(conf("spark.locality.wait") === "0")
    assert(conf("spark.shuffle.compress") === "false")
    assert(conf("spark.shuffle.spill.compress") === "false")
    assert(conf("spark.broadcast.compress") === "false")
    assert(conf("spark.sql.ui.explainMode") === "simple")
    assert(conf("spark.sql.session.timeZone") === "UTC")
  }

  test("parquet reader batch size is Spark's own 4096, so the profile omits it") {
    import org.apache.spark.sql.internal.SQLConf
    assert(!conf.contains(SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE.key))
    assert(SQLConf.PARQUET_VECTORIZED_READER_BATCH_SIZE.defaultValue.contains(4096))
  }

  test("streaming scenarios plan with 4 shuffle partitions, queries with 8") {
    assert(Bench.shufflePartitionsFor("s12_stream_join") === "4")
    assert(Bench.shufflePartitionsFor("c23_cdc_apply") === "4")
    assert(Bench.shufflePartitionsFor("q04_multi_join") === "8")
    assert(Bench.shufflePartitionsFor("d4_neardup_clusters") === "8")
  }
}

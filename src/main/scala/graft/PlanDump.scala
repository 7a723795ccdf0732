package graft

/** Dev scratch: dump `.explain("formatted")` for named queries to
  * files under PD_OUT (default plans/r15), one `<query>_<tag>.txt`
  * each — the judge-checkable plan artifacts for the optimization
  * rounds. The session is Bench's own ([[Bench.session]]), and each
  * query plans under its bench shuffle-partition count, so the dumped
  * plan is the one the bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("PD_SF", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("PD_TAG", "before")
    val out = sys.env.getOrElse("PD_OUT", "plans/r15")
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    args.foreach { n =>
      spark.conf.set("spark.sql.shuffle.partitions", Bench.shufflePartitionsFor(n))
      val txt =
        try SparkEntry.queries(n)(spark, sf).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"${n}_$tag.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $n -> $out/${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}

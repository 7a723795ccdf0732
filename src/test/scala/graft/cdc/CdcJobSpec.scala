package graft.cdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CDC pipeline over Spark: text file → FSM → catalog join
  * → render → ordered sink. Goldens from FIXTURES.md §4. */
class CdcJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def write(name: String, text: String): String = {
    val p = java.nio.file.Files.createTempDirectory("cdcspec").resolve(name)
    java.nio.file.Files.writeString(p, text)
    p.toString
  }

  private def sqls(df: org.apache.spark.sql.DataFrame): List[String] =
    df.select("sql").collect().map(_.getString(0)).toList

  test("forward golden (FIXTURES.md §4)") {
    val path = write("repr.txt", BinlogFixture.representative)
    val got = sqls(CdcJob.run(spark, path, Catalog.fixture(spark)))
    assert(got == List(
      "# start-pos: 100; stop-pos: 200 ; datetime: 260812  5:00:00 \n" +
        "INSERT INTO `testdb`.`t_pk`(`id`, `name`, `score`) VALUES (7, 'name_7', NULL);",
      "# start-pos: 200; stop-pos: 320 ; datetime: 260812  5:00:01 \n" +
        "UPDATE `testdb`.`t_pk` SET `id`=7, `name`='renamed_7', `score`=3.5 WHERE `id`=7 LIMIT 1;",
      "# start-pos: 320; stop-pos: 400 ; datetime: 260812  5:00:02 \n" +
        "DELETE FROM `testdb`.`t_pk` WHERE `id`=7 LIMIT 1;"))
  }

  test("flashback renders inverses and reverses order (Q6 fix)") {
    val path = write("repr_fb.txt", BinlogFixture.representative)
    val got = sqls(CdcJob.run(spark, path, Catalog.fixture(spark),
      CdcConfig(flashback = true)))
    assert(got.size == 3)
    // newest first: the DELETE (start_pos 320) is undone first
    assert(got.head.contains("INSERT INTO `testdb`.`t_pk`(`id`, `name`, `score`) VALUES (7, 'renamed_7', 3.5);"))
    assert(got(1).contains("UPDATE `testdb`.`t_pk` SET `id`=7, `name`='name_7', `score`=NULL WHERE `id`=7 LIMIT 1;"))
    assert(got(2).contains("DELETE FROM `testdb`.`t_pk` WHERE `id`=7 LIMIT 1;"))
  }

  test("multi-file flashback undoes the newest file first") {
    val dir = java.nio.file.Files.createTempDirectory("fbdir")
    java.nio.file.Files.writeString(dir.resolve("binlog.000001.txt"),
      BinlogFixture.representative)
    java.nio.file.Files.writeString(dir.resolve("binlog.000002.txt"),
      BinlogFixture.pkChangingUpdate)
    val rows = CdcJob.run(spark, dir.toString, Catalog.fixture(spark),
      CdcConfig(flashback = true))
      .select("file", "seq", "sql").collect()
    assert(rows.length == 4)
    // rollback order: newest file first, newest event within it first
    assert(rows.head.getString(0).contains("binlog.000002"))
    assert(rows.head.getString(2).contains(
      "UPDATE `testdb`.`t_pk` SET `id`=1, `name`='one', `score`=1.0"))
    assert(rows.tail.forall(_.getString(0).contains("binlog.000001")))
    assert(rows.tail.map(_.getLong(1)).toList == List(2L, 1L, 0L))
    // ...so replaying top-to-bottom restores the oldest state last
    assert(rows.last.getString(2).contains("DELETE FROM `testdb`.`t_pk`"))
  }

  test("DDL events carry position/datetime and respect bounds (O3/O4)") {
    val path = write("ddlb.txt", BinlogFixture.representative)
    def count(cfg: CdcConfig): Long =
      CdcJob.run(spark, path, Catalog.fixture(spark), cfg).count()
    // DDL event starts at pos 400 / 05:00:03; stop bounds are exclusive
    assert(count(CdcConfig(includeDdl = true, stopPos = Some(400L))) == 3)
    assert(count(CdcConfig(includeDdl = true, startPos = Some(400L))) == 1)
    assert(count(CdcConfig(includeDdl = true,
      stopDatetime = Some("2026-08-12 05:00:03"))) == 3)
    assert(count(CdcConfig(includeDdl = true,
      startDatetime = Some("2026-08-12 05:00:03"))) == 1)
    // db/table/sql-type filters still bypass DDL (log2sql.py:13-14)
    assert(count(CdcConfig(includeDdl = true, database = "nosuch")) == 1)
  }

  test("bug-compatible flashback keeps reference (unreversed) order") {
    val path = write("repr_fbc.txt", BinlogFixture.representative)
    val got = sqls(CdcJob.run(spark, path, Catalog.fixture(spark),
      CdcConfig(flashback = true, bugCompatible = true)))
    assert(got.head.contains("DELETE FROM"))
    assert(got(2).contains("INSERT INTO"))
  }

  test("DDL passthrough with use-context (C6)") {
    val path = write("ddl.txt", BinlogFixture.representative)
    val got = sqls(CdcJob.run(spark, path, Catalog.fixture(spark),
      CdcConfig(includeDdl = true)))
    assert(got.size == 4)
    assert(got.last == "use `testdb`;\nalter table t_pk add column extra int;")
  }

  /** One DELETE on a unique-index table, one on a keyless table. */
  private val keyMatrix =
    """# at 100
      |#260812  5:00:00 server id 1  end_log_pos 200 CRC32 0x1 	Delete_rows: table id 1 flags: STMT_END_F
      |### DELETE FROM `testdb`.`t_uniq`
      |### WHERE
      |###   @1=1 /* INT */
      |###   @2='c1' /* VARSTRING */
      |###   @3=10 /* INT */
      |# at 200
      |#260812  5:00:01 server id 1  end_log_pos 300 CRC32 0x2 	Delete_rows: table id 2 flags: STMT_END_F
      |### DELETE FROM `testdb`.`t_keyless`
      |### WHERE
      |###   @1=5 /* INT */
      |###   @2=NULL /* INT */
      |""".stripMargin

  test("key matrix: unique fallback and keyless via the catalog join (C4)") {
    val got = sqls(CdcJob.run(spark, write("matrix.txt", keyMatrix),
      Catalog.fixture(spark)))
    assert(got.head.endsWith("DELETE FROM `testdb`.`t_uniq` WHERE `code`='c1' LIMIT 1;"))
    assert(got(1).endsWith("DELETE FROM `testdb`.`t_keyless` WHERE `a`=5 AND `b` IS NULL LIMIT 1;"))
  }

  test("filters: sql-type, database, tables, position range (C5)") {
    val path = write("dml.txt", BinlogFixture.dmlStream(90))
    def count(cfg: CdcConfig): Long =
      CdcJob.run(spark, path, Catalog.fixture(spark), cfg).count()
    assert(count(CdcConfig()) == 90)
    assert(count(CdcConfig(sqlTypes = Seq("insert"))) == 30)
    assert(count(CdcConfig(database = "nosuch")) == 0)
    assert(count(CdcConfig(database = "testdb", tables = Seq("t_pk"))) == 90)
    assert(count(CdcConfig(tables = Seq("t_other"))) == 0)
    val all = CdcJob.parse(spark, path).selectExpr("max(start_pos)")
      .collect()(0).getLong(0)
    assert(count(CdcConfig(startPos = Some(all))) == 1)
    // stop-position is exclusive on the event start (mysqlbinlog)
    assert(count(CdcConfig(stopPos = Some(all))) == 89)
    // streaming path accepts datetime bounds too (shared projection)
    val dir2 = java.nio.file.Files.createTempDirectory("cdcdt")
    val cp2 = java.nio.file.Files.createTempDirectory("cdcdtcp")
    var n = 0L
    val q2 = graft.streaming.CdcStream.start(spark, dir2.toString,
      Catalog.fixture(spark),
      CdcConfig(startDatetime = Some("2026-08-12 05:00:01")),
      cp2.toString) { (b, _) => n += b.count() }
    java.nio.file.Files.writeString(dir2.resolve("b.txt"),
      BinlogFixture.representative)
    q2.processAllAvailable(); q2.stop()
    assert(n == 2)
  }

  test("datetime-range filter keeps only in-window events (O4)") {
    val path = write("dt.txt", BinlogFixture.representative)
    def count(cfg: CdcConfig): Long =
      CdcJob.run(spark, path, Catalog.fixture(spark), cfg).count()
    // events at 2026-08-12 05:00:00/01/02; stop bounds are EXCLUSIVE
    // (mysqlbinlog stops at the first event at/after the bound)
    assert(count(CdcConfig(startDatetime = Some("2026-08-12 05:00:01"))) == 2)
    assert(count(CdcConfig(stopDatetime = Some("2026-08-12 05:00:01"))) == 1)
    assert(count(CdcConfig(startDatetime = Some("2026-08-12 05:00:01"),
      stopDatetime = Some("2026-08-12 05:00:02"))) == 1)
  }

  test("GTID-interval filters: include/exclude, multi-interval sets, GTID-less events") {
    import graft.sources.BinlogBinaryFixture._
    val sid = "a0a1a2a3-a4a5-a6a7-a8a9-aaabacadaeaf"
    // 6 framed transactions (gnos 1..6), txn 2 is multi-row
    val evs: Seq[Ev] = Seq(PreviousGtids) ++ (1 to 6).flatMap { g =>
      val rows: Seq[Ev] =
        if (g == 2) Seq(Insert(g * 10, s"a_$g", None),
          Insert(g * 10 + 1, s"b_$g", None))
        else Seq(Insert(g * 10, s"a_$g", Some(0.5)))
      Seq(Gtid(g.toLong), Begin) ++ rows ++ Seq(Xid(100L + g))
    }
    val dir = java.nio.file.Files.createTempDirectory("gtidflt")
    java.nio.file.Files.write(dir.resolve("binlog.000001"),
      graft.sources.BinlogBinaryFixture.render(evs)._1)
    val events = graft.sources.BinlogBinary.parse(spark, dir.toString)
    def gnos(cfg: CdcConfig): Seq[Long] =
      CdcJob.applyFilters(events, cfg).select("gtid").collect()
        .map(r => r.getString(0).split(':')(1).toLong).toSeq.sorted
    // include: multi-interval set; gno 2's two rows both pass
    assert(gnos(CdcConfig(includeGtids = Some(s"$sid:2-3:5"))) ==
      Seq(2L, 2L, 3L, 5L))
    // exclude is the complement on framed events
    assert(gnos(CdcConfig(excludeGtids = Some(s"$sid:2-3:5"))) ==
      Seq(1L, 4L, 6L))
    // a different uuid never matches
    assert(gnos(CdcConfig(includeGtids =
      Some("ffffffff-0000-0000-0000-000000000000:1-100"))).isEmpty)
    // GTID-less events (text fixture carries no GTID_NEXT lines):
    // include drops them, exclude keeps them
    val textPath = write("gtidless.txt", BinlogFixture.dmlStream(9))
    val textEvents = CdcJob.parse(spark, textPath)
    assert(CdcJob.applyFilters(textEvents,
      CdcConfig(includeGtids = Some(s"$sid:1-100"))).count() == 0)
    assert(CdcJob.applyFilters(textEvents,
      CdcConfig(excludeGtids = Some(s"$sid:1-100"))).count() == 9)
    // GtidSet.parse: intervals, singletons, duplicate-uuid union, junk
    assert(GtidSet.parse(s"$sid:1-5:8,$sid:11") ==
      Map(sid -> Seq((1L, 5L), (8L, 8L), (11L, 11L))))
    intercept[IllegalArgumentException](GtidSet.parse("uuid-without-interval"))
    intercept[IllegalArgumentException](GtidSet.parse(s"$sid:1-2-3"))
    // empty/whitespace/comma-only specs fail EAGERLY at the CLI with a
    // clear message, not later at query construction (ADVICE r11)
    intercept[IllegalArgumentException](GtidSet.parse(""))
    intercept[IllegalArgumentException](GtidSet.parse("  , ,"))
  }

  test("CdcMain CLI parses the reference's flag surface") {
    val (binlog, cat, cfg, out, _, _) = CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "-d", "testdb", "-t", "t_pk,t_uniq",
      "--start-position", "100", "--stop-position", "900",
      "--start-datetime", "2026-08-12 05:00:00",
      "--sql-type", "insert,delete", "-B", "--bug-compatible",
      "--back-interval", "0.5", // real since r6: sink-side throttle
      "-o", "/tmp/out.sql"))
    assert(binlog == "/x/b.txt" && cat == CdcMain.CatalogSource() &&
      out.contains("/tmp/out.sql"))
    assert(cfg == CdcConfig(sqlTypes = Seq("insert", "delete"),
      database = "testdb", tables = Seq("t_pk", "t_uniq"),
      startPos = Some(100L), stopPos = Some(900L),
      startDatetime = Some("2026-08-12 05:00:00"),
      flashback = true, bugCompatible = true, backInterval = 0.5))
    val (_, _, cfgK, _, _, _) = CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "-K"))
    assert(cfgK == CdcConfig(noPk = true))
    val (_, _, cfgE, _, _, _) = CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "--evolve-schema"))
    assert(cfgE == CdcConfig(evolveSchema = true))
    intercept[IllegalArgumentException](CdcMain.parseArgs(Array("--nope")))
    intercept[IllegalArgumentException](CdcMain.parseArgs(Array("-B")))
    // reference-name alias and always-true quirk flag
    val (b2, _, cfg2, _, _, _) = CdcMain.parseArgs(Array(
      "--start-file", "/x/c.txt", "--only-dml"))
    assert(b2 == "/x/c.txt" && cfg2 == CdcConfig())
    intercept[CdcMain.HelpRequested](CdcMain.parseArgs(Array("--help")))
    // the reference rejects -B with -K (main.py:28-29)
    intercept[IllegalArgumentException](CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "-B", "-K")))
    // GTID-set flags parse and validate EAGERLY at the CLI
    val sid = "a0a1a2a3-a4a5-a6a7-a8a9-aaabacadaeaf"
    val (_, _, cfgG, _, _, _) = CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "--include-gtids", s"$sid:1-5:9",
      "--exclude-gtids", s"$sid:3"))
    assert(cfgG == CdcConfig(includeGtids = Some(s"$sid:1-5:9"),
      excludeGtids = Some(s"$sid:3")))
    intercept[IllegalArgumentException](CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "--include-gtids", "not-a-gtid-set")))
  }

  test("--output-parquet: the CLI's event-lake sink equals the batch parse under filters") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_lake").toString
    val src = BinlogFixture.materializeDir("dml_10k", 4, 2500)
    val (_, _, cfg, _, outPq, _) = CdcMain.parseArgs(Array(
      "--binlog", src, "--sql-type", "insert", "--output-parquet", dir))
    assert(outPq.contains(dir) && cfg.sqlTypes == Seq("insert"))
    CdcMain.writeEventLake(spark, src, binary = false, cfg, dir)
    val lake = spark.read.parquet(dir)
    val want = CdcJob.applyFilters(CdcJob.parse(spark, src), cfg)
    assert(lake.count() == want.count() && lake.count() > 0)
    assert(lake.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("insert"))
    // row-level equality on the scalar columns
    assert(lake.select("file", "seq", "db", "table", "op").except(
      want.select("file", "seq", "db", "table", "op")).isEmpty)
  }

  test("--output-scd2: generic SCD2 equals the fixture-shaped c20 twin; keyless excluded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src = BinlogFixture.materializeDir("stress_v1", 2, 1500)
    val (_, _, _, _, _, outS) = CdcMain.parseArgs(Array(
      "--binlog", src, "--output-scd2", "/tmp/x"))
    assert(outS.contains("/tmp/x"))
    val events = CdcJob.parse(spark, src)
    // catalog covering the stress tables: single-column PKs for t_pk /
    // orders, a genuine TWO-COLUMN key for t_multi, audit KEYLESS
    val columns = Seq(
      ("testdb", "t_pk", "id", 1, "PRI"), ("testdb", "t_pk", "name", 2, ""),
      ("testdb", "t_pk", "score", 3, ""),
      ("appdb", "orders", "id", 1, "PRI"), ("appdb", "orders", "amt", 2, ""),
      ("appdb", "orders", "note", 3, ""),
      ("testdb", "t_multi", "k1", 1, "PRI"), ("testdb", "t_multi", "k2", 2, "PRI"),
      ("testdb", "t_multi", "label", 3, ""),
      ("logdb", "audit", "a", 1, ""), ("logdb", "audit", "b", 2, ""))
      .toDF("table_schema", "table_name", "column_name",
        "ordinal_position", "column_key")
    val statistics = Seq(("x", "x", "x", 1, "x"))
      .toDF("table_schema", "table_name", "index_name",
        "non_unique", "column_name")
    val catalog = Catalog.resolve(columns, statistics)
    val got = CdcJob.scd2(events, catalog).collect()
    // keyless tables never version (no identity) — audit HAS real rows
    assert(events.filter(col("table") === "audit").count() > 0)
    assert(!got.exists(_.getString(1) == "audit"))
    // single-column-key tables: the generic history equals c20's
    // fixture-shaped twin (key [id], image ordinals 2/3 → c2/c3)
    def key1(r: org.apache.spark.sql.Row) = r.getSeq[String](2)
    val gen = got.filter(r => r.getString(1) != "t_multi")
      .map { r =>
        val img = Option(r.getSeq[Int](4))
          .map(_.zip(r.getSeq[String](5)).toMap).getOrElse(Map.empty)
        (r.getString(0), r.getString(1), key1(r).head, r.getInt(3),
          img.get(2), img.get(3),
          r.getString(6), r.getLong(7),
          Option(r.getString(8)), if (r.isNullAt(9)) None else Some(r.getLong(9)),
          r.getBoolean(10))
      }.toSet
    val twin = graft.queries.CdcQueries.scd2History(
      graft.queries.CdcQueries.flattenImages(events))
      .filter(col("table") =!= "audit" && col("table") =!= "t_multi")
      .collect().map { r =>
        (r.getString(0), r.getString(1), r.getLong(2).toString, r.getInt(3),
          Option(r.getString(4)), Option(r.getString(5)),
          r.getString(6), r.getLong(7),
          Option(r.getString(8)), if (r.isNullAt(9)) None else Some(r.getLong(9)),
          r.getBoolean(10))
      }.toSet
    assert(gen == twin && gen.nonEmpty)
    // the two-column key: every t_multi version keys on BOTH ordinals;
    // the rotated dir repeats the stream, so each key sees exactly two
    // upserts — versions 1..2 per key, only the last current
    val multi = got.filter(_.getString(1) == "t_multi")
    assert(multi.nonEmpty && multi.forall(r => key1(r).length == 2))
    multi.groupBy(key1).foreach { case (k, vs) =>
      assert(vs.map(_.getInt(3)).sorted.toSeq == (1 to vs.length), s"$k")
      assert(vs.count(_.getBoolean(10)) == 1 &&
        vs.maxBy(_.getInt(3)).getBoolean(10), s"$k")
    }
  }

  test("CdcMain accepts the reference README invocation verbatim") {
    // README: python3 main.py --start-position=4 --stop-position=1024
    //   --start-file mysql-bin.000057 -h 127.0.0.1 --port 3306 -uroot -p
    //   --database='log_test' -t 'a' 'd'
    // (shell strips the quotes; -h/-u/-p/-P build the live-catalog URL)
    val (binlog, cat, cfg, _, _, _) = CdcMain.parseArgs(Array(
      "--start-position=4", "--stop-position=1024",
      "--start-file", "mysql-bin.000057",
      "-h", "127.0.0.1", "--port", "3306", "-uroot", "-p",
      "--database=log_test", "-t", "a", "d"))
    assert(binlog == "mysql-bin.000057")
    assert(cat.jdbcUrl.contains(
      "jdbc:mysql://127.0.0.1:3306/information_schema"))
    assert(cat.jdbcUser.contains("root") && cat.jdbcPassword.contains(""))
    assert(cfg == CdcConfig(database = "log_test", tables = Seq("a", "d"),
      startPos = Some(4L), stopPos = Some(1024L)))
    // an explicit catalog wins over connection flags
    val (_, cat2, _, _, _, _) = CdcMain.parseArgs(Array(
      "--binlog", "/x/b.txt", "-h", "db.internal",
      "--catalog-jdbc", "jdbc:mysql://other:3306/information_schema"))
    assert(cat2.jdbcUrl.contains("jdbc:mysql://other:3306/information_schema"))
  }

  test("JDBC catalog source resolves keys like the snapshot path (O11/O12)") {
    // Embedded Derby stands in for the MySQL information_schema: same
    // projection shapes, real spark.read.jdbc path. The query strings
    // are the injectable seam — production defaults target MySQL.
    val url = "jdbc:derby:memory:catspec;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE cat_columns(table_schema VARCHAR(64), " +
        "table_name VARCHAR(64), column_name VARCHAR(64), " +
        "ordinal_position INT, column_key VARCHAR(8))")
      st.execute("CREATE TABLE cat_statistics(table_schema VARCHAR(64), " +
        "table_name VARCHAR(64), index_name VARCHAR(64), " +
        "non_unique INT, column_name VARCHAR(64))")
      val insC = conn.prepareStatement(
        "INSERT INTO cat_columns VALUES (?,?,?,?,?)")
      for ((db, t, c, o, k) <- Seq(
          ("testdb", "t_pk", "id", 1, "PRI"), ("testdb", "t_pk", "name", 2, ""),
          ("testdb", "t_pk", "score", 3, ""),
          ("testdb", "t_uniq", "id", 1, ""), ("testdb", "t_uniq", "code", 2, ""),
          ("testdb", "t_uniq", "val", 3, ""),
          ("testdb", "t_keyless", "a", 1, ""), ("testdb", "t_keyless", "b", 2, ""))) {
        insC.setString(1, db); insC.setString(2, t); insC.setString(3, c)
        insC.setInt(4, o); insC.setString(5, k); insC.executeUpdate()
      }
      val insS = conn.prepareStatement(
        "INSERT INTO cat_statistics VALUES (?,?,?,?,?)")
      for ((db, t, ix, nu, c) <- Seq(
          ("testdb", "t_pk", "PRIMARY", 0, "id"),
          ("testdb", "t_uniq", "ux_code", 0, "code"))) {
        insS.setString(1, db); insS.setString(2, t); insS.setString(3, ix)
        insS.setInt(4, nu); insS.setString(5, c); insS.executeUpdate()
      }
    } finally conn.close()

    val resolved = Catalog.fromJdbc(spark, url,
      columnsQuery = "SELECT * FROM cat_columns",
      statisticsQuery = "SELECT * FROM cat_statistics")
    // the catalog is read ONCE, when fromJdbc resolves it: a key added
    // to the live catalog afterwards must not reach the resolved frame
    val late = java.sql.DriverManager.getConnection(url)
    try late.createStatement().executeUpdate("INSERT INTO cat_columns " +
      "VALUES ('testdb', 't_keyless', 'a', 1, 'PRI')")
    finally late.close()
    val byTable = resolved.collect()
      .map(r => r.getString(1) -> r.getSeq[String](3)).toMap
    assert(byTable("t_pk") == Seq("id"))        // PK wins
    assert(byTable("t_uniq") == Seq("code"))    // unique-index fallback
    assert(byTable("t_keyless").isEmpty)        // keyless
    // end-to-end: the JDBC-resolved catalog drives a render identically
    // to the fixture catalog
    val path = write("jdbc_cat.txt", BinlogFixture.representative)
    val viaJdbc = CdcJob.run(spark, path, resolved, CdcConfig())
      .select("sql").collect().map(_.getString(0)).toSeq
    val viaFixture = CdcJob.run(spark, path, Catalog.fixture(spark), CdcConfig())
      .select("sql").collect().map(_.getString(0)).toSeq
    // fixture also carries otherdb rows the Derby catalog omits; the
    // representative stream only touches testdb tables, so renders match
    assert(viaJdbc == viaFixture)
    // t_keyless keeps the full-row WHERE of the catalog as resolved
    assert(sqls(CdcJob.run(spark, write("jdbc_keyless.txt", keyMatrix),
      resolved)).last.endsWith(
      "DELETE FROM `testdb`.`t_keyless` WHERE `a`=5 AND `b` IS NULL LIMIT 1;"))
  }

  test("a --catalog snapshot resolves once: local relation, no catalog scan or shuffle per render") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the two information_schema snapshots, read the way CdcMain
    // --catalog COLS,STATS reads them
    val dir = java.nio.file.Files.createTempDirectory("catsnap")
    val cols = dir.resolve("columns.csv")
    val stats = dir.resolve("statistics.csv")
    java.nio.file.Files.writeString(cols,
      "table_schema,table_name,column_name,ordinal_position,column_key\n" +
        "testdb,t_pk,id,1,PRI\ntestdb,t_pk,name,2,\ntestdb,t_pk,score,3,\n" +
        "testdb,t_uniq,id,1,\ntestdb,t_uniq,code,2,\ntestdb,t_uniq,val,3,\n" +
        "testdb,t_keyless,a,1,\ntestdb,t_keyless,b,2,\n")
    java.nio.file.Files.writeString(stats,
      "table_schema,table_name,index_name,non_unique,column_name\n" +
        "testdb,t_pk,PRIMARY,0,id\ntestdb,t_uniq,ux_code,0,code\n")
    def csv(p: java.nio.file.Path) = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(p.toString)
    val catalog = Catalog.resolve(csv(cols), csv(stats))
    assert(catalog.queryExecution.analyzed.isInstanceOf[LocalRelation])

    val binlog = write("snap_matrix.txt", keyMatrix)
    val out = CdcJob.renderUnordered(CdcJob.parse(spark, binlog), catalog,
      CdcConfig())
    assert(out.collect().map(_.getAs[String]("sql")).toSeq.sorted ==
      sqls(CdcJob.run(spark, binlog, Catalog.fixture(spark))).sorted)
    // the executed plan: the broadcast side is a LocalTableScan, so the
    // only file scan is the binlog's and nothing shuffles
    val plan = out.queryExecution.executedPlan
    object helper extends AdaptiveSparkPlanHelper
    assert(helper.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.treeString)
    val scans = helper.collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.length == 1, plan.treeString)
    assert(scans.head.relation.location.rootPaths.map(_.getName) ==
      Seq("snap_matrix.txt"))
  }

  test("c-series driver entries return rows") {
    for (qd <- graft.queries.CdcQueries.defs)
      assert(qd.fn(spark, "/root/testdata/sf0.001").count() > 0, qd.name)
  }

  test("schema evolution: positional resolution, FIRST/AFTER/DROP renumbering") {
    import spark.implicits._
    def ddl(at: Long, sec: Int, stmt: String): String =
      s"""# at $at
         |#260812  5:00:0$sec server id 1  end_log_pos ${at + 70} CRC32 0x0badcafe \tQuery\tthread_id=5\texec_time=0\terror_code=0
         |use `appdb`/*!*/;
         |SET TIMESTAMP=176491080$sec/*!*/;
         |$stmt
         |/*!*/;
         |""".stripMargin
    def ins(at: Long, sec: Int, vals: Seq[String]): String =
      s"""# at $at
         |#260812  5:00:0$sec server id 1  end_log_pos ${at + 100} CRC32 0x0badcafe \tWrite_rows: table id 301 flags: STMT_END_F
         |### INSERT INTO `appdb`.`ev2`
         |### SET
         |""".stripMargin +
        vals.zipWithIndex.map { case (v, i) =>
          s"###   @${i + 1}=$v /* INT nullable=1 is_null=0 */\n" }.mkString
    val text =
      ins(100, 0, Seq("1", "'x'")) +                       // (id, a)
      ddl(200, 1, "alter table ev2 add column c1 int") +   // (id, a, c1)
      ins(270, 2, Seq("2", "'y'", "10")) +
      ddl(370, 3, "alter table ev2 add column c0 int first") + // (c0, id, a, c1)
      ins(440, 4, Seq("3", "4", "'z'", "11")) +            // @1 is c0 now
      ddl(540, 5, "alter table ev2 add column mid int after id") +
      ddl(610, 6, "alter table `appdb`.`ev2` drop column c1") + // (c0, id, mid, a)
      ins(680, 7, Seq("5", "6", "7", "'w'"))
    val path = write("evolve_cases.txt", text)
    val cat = Catalog.resolve(
      Seq(("appdb", "ev2", "id", 1, "PRI"), ("appdb", "ev2", "a", 2, ""))
        .toDF("table_schema", "table_name", "column_name",
          "ordinal_position", "column_key"),
      Seq(("appdb", "ev2", "PRIMARY", 0, "id"))
        .toDF("table_schema", "table_name", "index_name",
          "non_unique", "column_name"))
    val got = sqls(CdcJob.run(spark, path, cat,
      CdcConfig(evolveSchema = true))).map(_.linesIterator.toList.last)
    assert(got == List(
      "INSERT INTO `appdb`.`ev2`(`id`, `a`) VALUES (1, 'x');",
      "INSERT INTO `appdb`.`ev2`(`id`, `a`, `c1`) VALUES (2, 'y', 10);",
      "INSERT INTO `appdb`.`ev2`(`c0`, `id`, `a`, `c1`) VALUES (3, 4, 'z', 11);",
      "INSERT INTO `appdb`.`ev2`(`c0`, `id`, `mid`, `a`) VALUES (5, 6, 7, 'w');"))
    // without the flag, the static catalog mis-names evolved ordinals —
    // the exact failure mode the reference has (live catalog, old log)
    val static = sqls(CdcJob.run(spark, path, cat, CdcConfig()))
      .map(_.linesIterator.toList.last)
    assert(static(2) ==
      "INSERT INTO `appdb`.`ev2`(`id`, `a`, `@3`, `@4`) VALUES (3, 4, 'z', 11);")
    // flashback composes: the evolved names key the generated DELETEs
    val fb = sqls(CdcJob.run(spark, path, cat,
      CdcConfig(evolveSchema = true, flashback = true)))
      .map(_.linesIterator.toList.last)
    assert(fb.head == // reversed order: last insert first; id keys it
      "DELETE FROM `appdb`.`ev2` WHERE `id`=6 LIMIT 1;")
  }

  test("scd2 under schema evolution: key ordinals follow the ALTER; flagless mis-keys") {
    import spark.implicits._
    def ddl(at: Long, sec: Int, stmt: String): String =
      s"""# at $at
         |#260812  5:00:0$sec server id 1  end_log_pos ${at + 70} CRC32 0x0badcafe \tQuery\tthread_id=5\texec_time=0\terror_code=0
         |use `appdb`/*!*/;
         |SET TIMESTAMP=176491080$sec/*!*/;
         |$stmt
         |/*!*/;
         |""".stripMargin
    def ins(at: Long, sec: Int, vals: Seq[String]): String =
      s"""# at $at
         |#260812  5:00:0$sec server id 1  end_log_pos ${at + 100} CRC32 0x0badcafe \tWrite_rows: table id 301 flags: STMT_END_F
         |### INSERT INTO `appdb`.`ev3`
         |### SET
         |""".stripMargin +
        vals.zipWithIndex.map { case (v, i) =>
          s"###   @${i + 1}=$v /* INT nullable=1 is_null=0 */\n" }.mkString
    def upd(at: Long, sec: Int, before: Seq[String], after: Seq[String]): String =
      s"""# at $at
         |#260812  5:00:0$sec server id 1  end_log_pos ${at + 100} CRC32 0x0badcafe \tUpdate_rows: table id 301 flags: STMT_END_F
         |### UPDATE `appdb`.`ev3`
         |### WHERE
         |""".stripMargin +
        before.zipWithIndex.map { case (v, i) =>
          s"###   @${i + 1}=$v /* INT nullable=1 is_null=0 */\n" }.mkString +
        "### SET\n" +
        after.zipWithIndex.map { case (v, i) =>
          s"###   @${i + 1}=$v /* INT nullable=1 is_null=0 */\n" }.mkString
    // insert id=1 → ALTER ADD c0 FIRST (id shifts ord 1 → 2) →
    // update the same business row (c0=9, id=1, a: 'x' → 'y')
    val text =
      ins(100, 0, Seq("1", "'x'")) +
      ddl(200, 1, "alter table ev3 add column c0 int first") +
      upd(270, 2, Seq("9", "1", "'x'"), Seq("9", "1", "'y'"))
    val path = write("scd2_evolve.txt", text)
    val cat = Catalog.resolve(
      Seq(("appdb", "ev3", "id", 1, "PRI"), ("appdb", "ev3", "a", 2, ""))
        .toDF("table_schema", "table_name", "column_name",
          "ordinal_position", "column_key"),
      Seq(("appdb", "ev3", "PRIMARY", 0, "id"))
        .toDF("table_schema", "table_name", "index_name",
          "non_unique", "column_name"))
    val parsed = CdcJob.parse(spark, path, includeDdl = true)
    val tl = graft.cdc.SchemaEvolve.timelines(parsed, cat)
    // EVOLVED: one key ("1"), two versions chained across the ALTER
    val ev = CdcJob.scd2(parsed, cat, Some(tl))
      .collect().map(r => (r.getSeq[String](2), r.getInt(3), r.getBoolean(10)))
      .sortBy(t => (t._1.mkString, t._2)).toSeq
    assert(ev == Seq(
      (Seq("1"), 1, false), // 'x' image, closed by the update
      (Seq("1"), 2, true)   // 'y' image, current
    ), s"evolved got $ev")
    // FLAGLESS: the static ordinal (1) keys the post-ALTER row on c0
    // — the chain breaks into two keys, both left "current" (exactly
    // the c15 defect class, reproduced so the fix is observable)
    val st = CdcJob.scd2(parsed, cat)
      .collect().map(r => (r.getSeq[String](2), r.getInt(3), r.getBoolean(10)))
      .sortBy(t => (t._1.mkString, t._2)).toSeq
    assert(st == Seq(
      (Seq("1"), 1, true),  // the insert, never closed
      (Seq("9"), 1, true)   // the update keyed on c0's value
    ), s"static got $st")
  }

  test("schema evolution fuzz: random ALTER sequences match an independent fold") {
    import spark.implicits._
    // three seeded random evolution scenarios: ADD (tail/FIRST/AFTER
    // random existing col) and DROP (random non-id col) interleaved
    // with inserts carrying the then-current width. The engine's
    // rendered column lists must equal an INDEPENDENT in-memory fold
    // of the same DDL — the differential that catches ordinal
    // renumbering bugs no hand-written case hits.
    for (seed <- Seq(11, 47, 93)) {
      val rnd = new scala.util.Random(seed)
      var names = Vector("id", "a")
      var colId = 0
      val sb = new StringBuilder
      var pos = 100L
      val expected = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- 0 until 60) {
        if (i % 4 == 0) { // DDL slot
          val stmt =
            if (names.length > 2 && rnd.nextInt(3) == 0) {
              val victim = names.drop(1)(rnd.nextInt(names.length - 1))
              names = names.filterNot(_ == victim)
              s"alter table fz drop column $victim"
            } else {
              colId += 1
              val nc = s"c$colId"
              rnd.nextInt(3) match {
                case 0 => names = names :+ nc
                  s"alter table fz add column $nc int"
                case 1 => names = nc +: names
                  s"alter table fz add column $nc int first"
                case _ =>
                  val anchor = names(rnd.nextInt(names.length))
                  val at = names.indexOf(anchor)
                  names = (names.take(at + 1) :+ nc) ++ names.drop(at + 1)
                  s"alter table fz add column $nc int after $anchor"
              }
            }
          sb ++= s"# at $pos\n"
          sb ++= s"#260812  5:00:00 server id 1  end_log_pos ${pos + 70} CRC32 0x0badcafe \tQuery\tthread_id=5\texec_time=0\terror_code=0\n"
          sb ++= "use `appdb`/*!*/;\nSET TIMESTAMP=1764910800/*!*/;\n"
          sb ++= stmt + "\n/*!*/;\n"
          pos += 70
        } else { // insert with the CURRENT width
          sb ++= s"# at $pos\n"
          sb ++= s"#260812  5:00:00 server id 1  end_log_pos ${pos + 100} CRC32 0x0badcafe \tWrite_rows: table id 301 flags: STMT_END_F\n"
          sb ++= "### INSERT INTO `appdb`.`fz`\n### SET\n"
          names.indices.foreach { j =>
            sb ++= s"###   @${j + 1}=$i /* INT nullable=1 is_null=0 */\n"
          }
          expected += names.map(n => s"`$n`").mkString(", ")
          pos += 100
        }
      }
      val path = write(s"evolve_fuzz_$seed.txt", sb.result())
      val cat = Catalog.resolve(
        Seq(("appdb", "fz", "id", 1, "PRI"), ("appdb", "fz", "a", 2, ""))
          .toDF("table_schema", "table_name", "column_name",
            "ordinal_position", "column_key"),
        Seq(("appdb", "fz", "PRIMARY", 0, "id"))
          .toDF("table_schema", "table_name", "index_name",
            "non_unique", "column_name"))
      val got = sqls(CdcJob.run(spark, path, cat,
        CdcConfig(evolveSchema = true)))
        .map(_.linesIterator.toList.last)
        .map(s => s.substring(s.indexOf('(') + 1, s.indexOf(')')))
      assert(got == expected.toList, s"seed $seed")
    }
  }

  test("schema evolution parseDdl: scope and idempotence") {
    import SchemaEvolve.parseDdl
    assert(parseDdl("alter table t add column x int;", "db").contains(
      (("db", "t"), Seq(SchemaEvolve.Add("x", first = false, after = None)))))
    assert(parseDdl("use `mydb`\nALTER TABLE `t` ADD COLUMN `x` BIGINT AFTER `y`;", "")
      .contains((("mydb", "t"),
        Seq(SchemaEvolve.Add("x", first = false, after = Some("y"))))))
    assert(parseDdl("alter table a.b drop column z", "other").contains(
      (("a", "b"), Seq(SchemaEvolve.Drop("z")))))
    // non-column DDL must NOT version the schema
    assert(parseDdl("alter table t add index ix (c)", "db").isEmpty)
    assert(parseDdl("create index ix on t (c)", "db").isEmpty)
    assert(parseDdl("alter table t drop index ix", "db").isEmpty)
  }

  test("schema evolution parseDdl: multi-change, multi-line, rename/move") {
    import SchemaEvolve._
    // every comma-separated change folds, in order
    assert(parseDdl(
      "ALTER TABLE t ADD COLUMN a INT AFTER x, ADD COLUMN b DECIMAL(10,2)", "db")
      .contains((("db", "t"), Seq(
        Add("a", first = false, after = Some("x")),
        Add("b", first = false, after = None)))))
    // ordinal-neutral clauses mixed in are ignored, not fatal
    assert(parseDdl(
      "alter table t add column a int, add index ix (a, b), drop index old_ix, " +
        "algorithm=inplace, lock=none", "db")
      .contains((("db", "t"), Seq(Add("a", first = false, after = None)))))
    // a multi-line ALTER (mysqlbinlog reproduces statements verbatim)
    assert(parseDdl(
      "use `mydb`\nALTER TABLE t\n  ADD COLUMN a INT,\n  DROP COLUMN b", "")
      .contains((("mydb", "t"), Seq(
        Add("a", first = false, after = None), Drop("b")))))
    // rename / change / modify-reorder
    assert(parseDdl("alter table t rename column old to new_name", "db")
      .contains((("db", "t"), Seq(Rename("old", "new_name")))))
    assert(parseDdl("alter table t change a b varchar(10) after c", "db")
      .contains((("db", "t"), Seq(Rename("a", "b"),
        Move("b", first = false, after = Some("c"))))))
    assert(parseDdl("alter table t modify c bigint first", "db")
      .contains((("db", "t"), Seq(Move("c", first = true, after = None)))))
    // type-only MODIFY is ordinal-neutral → no version bump
    assert(parseDdl("alter table t modify c bigint not null", "db").isEmpty)
    // an UNRECOGNIZED clause skips the WHOLE statement (never partial)
    assert(parseDdl("alter table t add column a int, rename to t2", "db").isEmpty)
    // applyChange semantics for the new change kinds
    val names = IndexedSeq("id", "a", "b", "c")
    assert(applyChange(names, Rename("b", "bb")) == IndexedSeq("id", "a", "bb", "c"))
    assert(applyChange(names, Move("c", first = true, after = None)) ==
      IndexedSeq("c", "id", "a", "b"))
    assert(applyChange(names, Move("a", first = false, after = Some("c"))) ==
      IndexedSeq("id", "b", "c", "a"))
  }

  test("schema evolution splitClauses: escaped quotes never split") {
    import SchemaEvolve._
    // MySQL backslash escape inside a string literal: the embedded
    // comma stays inside ONE clause
    assert(parseDdl(
      """alter table t add column a varchar(20) default 'it\'s, ok', drop column b""",
      "db").contains((("db", "t"), Seq(
      Add("a", first = false, after = None), Drop("b")))))
    // doubled-quote escape keeps the comma quoted through the naive
    // close-and-reopen toggle
    assert(parseDdl(
      "alter table t add column a varchar(20) default 'it''s, ok', drop column b",
      "db").contains((("db", "t"), Seq(
      Add("a", first = false, after = None), Drop("b")))))
    // a trailing backslash-escaped quote must not leave the splitter
    // "open" past the literal: the second clause still parses
    assert(splitClauses("""add a int default 'x\\', drop b""").size == 2)
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each correctness check passes on a right answer and fires on a
  * planted defect. */
class ChecksSpec extends AnyFunSuite {

  private val tables = TextFeed.schema(24)
  private val (planted, _) =
    TextFeed.writeLog(java.nio.file.Files.createTempDirectory("perfbench-checks"),
      4L, tables, 2, 400)

  /** SQL output as `CdcMain` prints it, for the given statements. */
  private def render(stmts: Seq[Checks.Stmt]): Iterator[String] = stmts.iterator.flatMap { s =>
    val Array(db, t) = s.target.split('.')
    val stmt = s.kind match {
      case 0 => s"INSERT INTO `$db`.`$t`(`id`) VALUES (1);"
      case 1 => s"UPDATE `$db`.`$t` SET `id`=1 WHERE `id`=1 LIMIT 1;"
      case _ => s"DELETE FROM `$db`.`$t` WHERE `id`=1 LIMIT 1;"
    }
    Iterator(s"# start-pos: ${s.start}; stop-pos: ${s.stop} ; datetime: 260815  0:00:01 ", stmt)
  }

  private def checkSql(stmts: Seq[Checks.Stmt], expected: Vector[Checks.Stmt]) =
    Checks.parseSql(render(stmts)).flatMap(a => Checks.sql(a, expected).toLeft(()))

  private val fwd = Checks.expectedSql(planted, tables, None)
  private val window = (planted(planted.length / 4).epoch, planted(planted.length * 3 / 4).epoch)
  private val names = Set(tables(0).name, tables(3).name)
  private val fb = Checks.expectedSql(planted, tables, Some((window._1, window._2, names)))

  test("forward SQL: right output passes") {
    assert(fwd.length == planted.length)
    assert(checkSql(fwd, fwd) == Right(()))
  }

  test("forward SQL: a dropped statement fires") {
    val dropped = fwd.patch(fwd.length / 2, Nil, 1)
    assert(checkSql(dropped, fwd).left.exists(_.contains("planted")))
  }

  test("forward SQL: a swapped order fires") {
    val i = fwd.indices.find(i => fwd(i) != fwd(i + 1)).get
    val swapped = fwd.updated(i, fwd(i + 1)).updated(i + 1, fwd(i))
    assert(checkSql(swapped, fwd).left.exists(_.contains("out of order")))
  }

  test("flashback SQL: reversed, INSERT and DELETE swapped, filtered") {
    assert(fb.nonEmpty && fb.length < fwd.length)
    assert(checkSql(fb, fb) == Right(()))
    assert(fb.head.start >= fb.last.start || fb.head.stop != fb.last.stop)
    // the forward order of the same statements is wrong for flashback
    assert(checkSql(fb.reverse, fb).isLeft)
    // so is flashback without the INSERT/DELETE swap
    assert(checkSql(fb.map(s => s.copy(kind = 2 - s.kind)), fb).isLeft)
  }

  test("truncated SQL output fires") {
    val lines = render(fwd).toVector
    assert(Checks.parseSql(lines.init.iterator).isLeft)
  }

  test("stream: every file's changes exactly once") {
    val want = Map("f1" -> 3, "f2" -> 2)
    val right = Seq("f1" -> 0L, "f1" -> 1L, "f1" -> 5L, "f2" -> 2L, "f2" -> 3L)
    assert(Checks.exactlyOnce(right, want).isEmpty)
    assert(Checks.exactlyOnce(right.tail, want).exists(_.contains("f1")))
    assert(Checks.exactlyOnce(right :+ ("f2" -> 3L), want).exists(_.contains("twice")))
  }

  test("lake: rows per (table, op), SCD2 versions and current rows") {
    val plan = BinPlan(Map(("t_pk", "insert") -> 5L, ("t_pk", "delete") -> 2L),
      Map("t_pk" -> 5L), Map("t_pk" -> 3L), 7L, 100L)
    assert(Checks.lake(plan.rows, plan.versions, plan.current, plan).isEmpty)
    assert(Checks.lake(plan.rows.updated(("t_pk", "delete"), 1L), plan.versions,
      plan.current, plan).isDefined)
    assert(Checks.lake(plan.rows, Map("t_pk" -> 4L), plan.current, plan).isDefined)
    assert(Checks.lake(plan.rows, plan.versions, Map("t_pk" -> 4L), plan).isDefined)
  }

  private val (_, _, corpus) = CorpusGen.generate(9L, 3000, 300)

  test("d4: a missing near-duplicate pair fires") {
    // connected components of the planted pairs, labelled by min id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    corpus.pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val clusters = corpus.clustered.toSeq.map(d => d -> find(d))
    assert(Checks.d4(clusters, corpus).isEmpty)
    val (a, _) = corpus.pairs.head
    assert(Checks.d4(clusters.filterNot(_._1 == a), corpus).exists(_.contains("not in one cluster")))
    assert(Checks.d4(clusters :+ (-1L -> -1L), corpus).exists(_.contains("no planted pair")))
  }

  test("a3: k rows per query with the planted twin first") {
    val rows = corpus.twins.toSeq.flatMap { case (q, t) =>
      (1L to 5L).map(r => (q, r, if (r == 1) t else 1000 + r))
    }
    assert(Checks.a3(rows, 5, corpus).isEmpty)
    assert(Checks.a3(rows.tail, 5, corpus).isDefined)
    val (q, t) = corpus.twins.head
    val demoted = rows.map {
      case (`q`, 1L, `t`) => (q, 1L, 999L)
      case r => r
    }
    assert(Checks.a3(demoted, 5, corpus).exists(_.contains("not ranked first")))
  }

  test("p1: per-source docs and tokens") {
    val right = corpus.p1.toSeq.map { case (s, (n, t)) => (s, n, t) }
    assert(Checks.p1(right, corpus).isEmpty)
    assert(Checks.p1(right.tail, corpus).isDefined)
    val (s, n, t) = right.head
    assert(Checks.p1(right.tail :+ ((s, n, t + 1)), corpus).isDefined)
  }
}

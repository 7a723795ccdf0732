package perfbench

/** Output checks against what the generators planted. Each returns None
  * when the output is right and a one-line reason when it is not. */
object Checks {

  /** One rendered statement: its position comment's (start, stop), the
    * statement kind (0 INSERT, 1 UPDATE, 2 DELETE) and `db.table`. */
  final case class Stmt(start: Long, stop: Long, kind: Int, target: String)

  private val PosRe = """# start-pos:\s*(\d+);\s*stop-pos:\s*(\d+)\s*;.*""".r

  private def target(s: String, from: Int): String = {
    val a = s.indexOf('`', from)
    val b = s.indexOf('`', a + 1)
    val c = s.indexOf('`', b + 1)
    val d = s.indexOf('`', c + 1)
    if (a < 0 || b < 0 || c < 0 || d < 0) null
    else s.substring(a + 1, b) + "." + s.substring(c + 1, d)
  }

  /** Reads `CdcMain` SQL output: a position comment, then one statement
    * line, per row change. */
  def parseSql(lines: Iterator[String]): Either[String, Vector[Stmt]] = {
    val out = Vector.newBuilder[Stmt]
    var n = 0
    while (lines.hasNext) {
      val c = lines.next()
      n += 1
      if (!lines.hasNext) return Left(s"line $n: position comment without a statement")
      val s = lines.next()
      n += 1
      val (start, stop) = c match {
        case PosRe(a, b) => (a.toLong, b.toLong)
        case _ => return Left(s"line ${n - 1}: not a position comment: ${c.take(80)}")
      }
      val kind =
        if (s.startsWith("INSERT INTO ")) 0
        else if (s.startsWith("UPDATE ")) 1
        else if (s.startsWith("DELETE FROM ")) 2
        else return Left(s"line $n: not a DML statement: ${s.take(80)}")
      val t = target(s, 0)
      if (t == null) return Left(s"line $n: no `db`.`table` target: ${s.take(80)}")
      out += Stmt(start, stop, kind, t)
    }
    Right(out.result())
  }

  /** The statements `CdcMain` must emit for the planted changes: every
    * change in log order, or for flashback the changes that pass the
    * datetime window and table filter, newest first, with INSERT and
    * DELETE swapped. */
  def expectedSql(planted: IndexedSeq[Planted], tables: IndexedSeq[GenTable],
      flashback: Option[(Long, Long, Set[String])]): Vector[Stmt] = {
    def stmt(p: Planted, kind: Int) =
      Stmt(p.start, p.stop, kind, tables(p.table).qualified)
    flashback match {
      case None => planted.iterator.map(p => stmt(p, p.kind)).toVector
      case Some((from, until, names)) =>
        planted.reverseIterator
          .filter(p => p.epoch >= from && p.epoch < until && names(tables(p.table).name))
          .map(p => stmt(p, 2 - p.kind)).toVector
    }
  }

  /** Statement counts per (target, kind) and their order. */
  def sql(actual: Vector[Stmt], expected: Vector[Stmt]): Option[String] = {
    def counts(v: Vector[Stmt]) = v.groupBy(s => (s.target, s.kind)).view.mapValues(_.size).toMap
    val (a, e) = (counts(actual), counts(expected))
    val diff = (a.keySet ++ e.keySet).toSeq.sorted
      .find(k => a.getOrElse(k, 0) != e.getOrElse(k, 0))
    diff match {
      case Some(k @ (t, kind)) =>
        Some(s"$t ${Planted.Kinds(kind)}: ${a.getOrElse(k, 0)} statements, " +
          s"planted ${e.getOrElse(k, 0)}")
      case None =>
        actual.indices.find(i => actual(i) != expected(i)).map { i =>
          s"statement $i out of order: got ${actual(i)}, expected ${expected(i)}"
        }
    }
  }

  /** Lake rows per (table, op), SCD2 version rows and current rows per
    * keyed table, against the generator's record and live state. */
  def lake(rows: Map[(String, String), Long], versions: Map[String, Long],
      current: Map[String, Long], plan: BinPlan): Option[String] = {
    val rowDiff = (rows.keySet ++ plan.rows.keySet).toSeq.sorted
      .find(k => rows.getOrElse(k, 0L) != plan.rows.getOrElse(k, 0L))
      .map(k => s"lake ${k._1} ${k._2}: ${rows.getOrElse(k, 0L)} rows, " +
        s"planted ${plan.rows.getOrElse(k, 0L)}")
    def cmp(what: String, got: Map[String, Long], want: Map[String, Long]) =
      (got.keySet ++ want.keySet).toSeq.sorted
        .find(k => got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
        .map(k => s"scd2 $k $what: ${got.getOrElse(k, 0L)}, expected ${want.getOrElse(k, 0L)}")
    rowDiff.orElse(cmp("versions", versions, plan.versions))
      .orElse(cmp("current rows", current, plan.current))
  }

  /** Every dropped file's row changes emitted exactly once: `emitted`
    * holds the (file, seq) of every sunk row. */
  def exactlyOnce(emitted: Iterable[(String, Long)],
      planted: Map[String, Int]): Option[String] = {
    val byFile = emitted.groupBy(_._1)
    val dup = byFile.collectFirst {
      case (f, rs) if rs.size != rs.toSet.size => s"$f: a change emitted twice"
    }
    dup.orElse((planted.keySet ++ byFile.keySet).toSeq.sorted.collectFirst {
      case f if byFile.get(f).map(_.size).getOrElse(0) != planted.getOrElse(f, 0) =>
        s"$f: ${byFile.get(f).map(_.size).getOrElse(0)} changes emitted, " +
          s"planted ${planted.getOrElse(f, 0)}"
    })
  }

  /** p1's per-source docs and tokens. */
  def p1(rows: Seq[(String, Long, Long)], plan: CorpusPlan): Option[String] = {
    val got = rows.map(r => r._1 -> (r._2, r._3)).toMap
    val survivors = got.values.map(_._1).sum
    val want = plan.p1.values.map(_._1).sum
    if (survivors != want) Some(s"p1 keeps $survivors docs, planted $want")
    else (got.keySet ++ plan.p1.keySet).toSeq.sorted
      .find(s => got.get(s) != plan.p1.get(s))
      .map(s => s"p1 $s: ${got.get(s)}, planted ${plan.p1.get(s)}")
  }

  /** d4: every planted pair in one cluster, and no other doc clustered. */
  def d4(clusters: Seq[(Long, Long)], plan: CorpusPlan): Option[String] = {
    val of = clusters.toMap
    plan.pairs.collectFirst {
      case (a, b) if of.get(a).isEmpty || of.get(a) != of.get(b) =>
        s"planted near-duplicate pair ($a, $b) not in one cluster"
    }.orElse(of.keySet.find(d => !plan.clustered(d))
      .map(d => s"doc $d clustered but no planted pair holds it"))
  }

  /** a3: k rows per query, ranks 1..k, and each query's planted twin
    * ranked first. */
  def a3(rows: Seq[(Long, Long, Long)], k: Int, plan: CorpusPlan): Option[String] = {
    val byQ = rows.groupBy(_._1)
    if (byQ.keySet != plan.twins.keySet)
      Some(s"a3 answered queries ${byQ.keySet.toSeq.sorted}, asked ${plan.twins.keySet.toSeq.sorted}")
    else byQ.toSeq.sortBy(_._1).collectFirst {
      case (q, rs) if rs.map(_._2).sorted != (1L to k) =>
        s"query $q: ranks ${rs.map(_._2).sorted}, expected 1..$k"
      case (q, rs) if !rs.exists(r => r._2 == 1 && r._3 == plan.twins(q)) =>
        s"query $q: planted twin ${plan.twins(q)} not ranked first"
    }
  }
}

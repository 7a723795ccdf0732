package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import graft.sources.BinlogBinaryFixture._
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** What the generator planted in a raw binlog directory: row changes per
  * (table, op), and per keyed table the SCD2 versions (one per insert or
  * update) and current rows (keys live at the end of the log). */
final case class BinPlan(rows: Map[(String, String), Long],
    versions: Map[String, Long], current: Map[String, Long],
    events: Long, bytes: Long)

/** Seeded generator of raw `.binlog` files, encoded with the engine's
  * public `BinlogBinaryFixture.render`: GTID/BEGIN/XID framing around
  * transactions of 1–6 row events over the fixture's three tables —
  * `t_pk` (INT/VARSTRING/DOUBLE, primary key), `t_types` (temporal,
  * float, year, decimal; unique-key fallback) and `t_wide` (string,
  * enum, set, bit, time, JSON; keyless) — with updates and deletes
  * drawn from the live keys. */
object BinGen {
  val Tables: Vector[String] = Vector("t_pk", "t_types", "t_wide")
  private val Weights = Vector(0.6, 0.85, 1.0)

  def writeCatalog(dir: Path): (Path, Path) = {
    Files.createDirectories(dir)
    val layout = Seq(
      "t_pk" -> Seq("id", "name", "score"),
      "t_types" -> Seq("id", "d", "dt", "ts", "f", "yr", "amount"),
      "t_wide" -> Seq("id", "ch", "ch_big", "vs", "txt", "tiny", "en", "st",
        "bits", "tm0", "tm3", "dt1", "js"))
    val cols = new StringBuilder(
      "table_schema,table_name,column_name,ordinal_position,column_key\n")
    layout.foreach { case (t, cs) =>
      cs.zipWithIndex.foreach { case (c, i) =>
        val pri = if (t == "t_pk" && i == 0) "PRI" else ""
        cols ++= s"testdb,$t,$c,${i + 1},$pri\n"
      }
    }
    val stats = "table_schema,table_name,index_name,non_unique,column_name\n" +
      "testdb,t_pk,PRIMARY,0,id\n" +
      "testdb,t_types,ux_id,0,id\n" +
      "testdb,t_wide,ix_en,1,en\n"
    val c = dir.resolve("columns.csv")
    val s = dir.resolve("statistics.csv")
    Files.write(c, cols.toString.getBytes(UTF_8))
    Files.write(s, stats.getBytes(UTF_8))
    (c, s)
  }

  def fileName(i: Int): String = f"binlog.${i + 1}%06d"

  private final class State(seed: Long) {
    val rng = new Random(seed)
    val pk = new java.util.LinkedHashMap[Int, (Int, String, Option[Double])]()
    val typed = new java.util.LinkedHashMap[Int, TypedRow]()
    val wide = ArrayBuffer.empty[WideRow]
    var nextId = 1
    var gno = 0L
    val rows = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    val versions = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

    def str(n: Int): String =
      Iterator.fill(1 + rng.nextInt(n))(('a' + rng.nextInt(26)).toChar).mkString
    def pkRow(id: Int) = (id, str(30), if (rng.nextInt(8) == 0) None
      else Some(rng.nextInt(1000000) / 100.0))
    def typedRow(id: Int): TypedRow = {
      def opt[A](a: => A): Option[A] = if (rng.nextInt(10) == 0) None else Some(a)
      TypedRow(id,
        opt(java.time.LocalDate.of(2000 + rng.nextInt(30), 1 + rng.nextInt(12), 1 + rng.nextInt(28))),
        opt((java.time.LocalDateTime.of(2020 + rng.nextInt(6), 1 + rng.nextInt(12),
          1 + rng.nextInt(28), rng.nextInt(24), rng.nextInt(60), rng.nextInt(60)),
          rng.nextInt(10000))),
        opt((1700000000L + rng.nextInt(50000000), rng.nextInt(100))),
        opt(rng.nextInt(100000) / 8.0f),
        opt(1901 + rng.nextInt(250)),
        opt(BigDecimal(rng.nextLong() % 1000000000000L, 4)))
    }
    def wideRow(id: Int): WideRow = WideRow(id,
      ch = Some(str(12)), vs = Some(str(80)), txt = Some(str(200)),
      tiny = Some(str(40)), en = Some(1 + rng.nextInt(4)),
      st = Some(rng.nextInt(65536)), bits = Some(rng.nextInt(1024)),
      tm0 = Some((false, rng.nextInt(24), rng.nextInt(60), rng.nextInt(60))),
      js = if (rng.nextInt(3) == 0) None
        else Some(JObj(Seq("k" -> JInt(rng.nextInt(1000).toLong), "s" -> JStr(str(16))))))

    def randomKey[K](m: java.util.LinkedHashMap[K, _]): K = {
      // live sets stay in the low thousands: a bounded walk is cheap
      val it = m.keySet.iterator
      var i = rng.nextInt(m.size)
      while (i > 0) { it.next(); i -= 1 }
      it.next()
    }

    def rowEvent(): Ev = {
      val u = rng.nextDouble()
      val t = Weights.indexWhere(u < _)
      val op0 = rng.nextInt(3)
      val ev: Ev = t match {
        case 0 =>
          if (pk.isEmpty || op0 == 0) {
            val r = pkRow(nextId); nextId += 1; pk.put(r._1, r)
            Insert(r._1, r._2, r._3)
          } else {
            val k = randomKey(pk); val b = pk.get(k)
            if (op0 == 1) { val a = pkRow(k); pk.put(k, a); Update(b, a) }
            else { pk.remove(k); Delete(b._1, b._2, b._3) }
          }
        case 1 =>
          if (typed.isEmpty || op0 == 0) {
            val r = typedRow(nextId); nextId += 1; typed.put(r.id, r); TypedInsert(r)
          } else {
            val k = randomKey(typed); val b = typed.get(k)
            if (op0 == 1) { val a = typedRow(k); typed.put(k, a); TypedUpdate(b, a) }
            else { typed.remove(k); TypedDelete(b) }
          }
        case _ =>
          if (wide.isEmpty || op0 == 0) {
            val r = wideRow(nextId); nextId += 1; wide += r; WideInsert(r)
          } else {
            val i = rng.nextInt(wide.length); val b = wide(i)
            if (op0 == 1) { val a = wideRow(b.id); wide(i) = a; WideUpdate(b, a) }
            else { wide(i) = wide.last; wide.remove(wide.length - 1); WideDelete(b) }
          }
      }
      val op = opOf(ev)
      rows((Tables(t), Planted.Kinds(op))) += 1
      if (t < 2 && op < 2) versions(Tables(t)) += 1
      ev
    }
    private def opOf(ev: Ev): Int = ev match {
      case _: Insert | _: TypedInsert | _: WideInsert => 0
      case _: Update | _: TypedUpdate | _: WideUpdate => 1
      case _ => 2
    }
  }

  /** Plans every file sequentially from one seeded stream, then encodes
    * the files on `threads` threads (encoding is per file and pure, so
    * the bytes do not depend on the thread count). */
  def writeLog(dir: Path, seed: Long, files: Int, rowsPerFile: Int,
      threads: Int): BinPlan = {
    Files.createDirectories(dir)
    val st = new State(seed)
    val plans = (0 until files).map { i =>
      val evs = ArrayBuffer[Ev](PreviousGtids)
      var n = 0
      while (n < rowsPerFile) {
        st.gno += 1
        evs += Gtid(st.gno) += Begin
        val k = 1 + st.rng.nextInt(6)
        (0 until k).foreach(_ => evs += st.rowEvent())
        evs += Xid(st.gno + 1000)
        n += k
      }
      if (i + 1 < files) evs += Rotate(fileName(i + 1))
      (i, evs.toSeq, n)
    }
    Log(s"planned $files binary files")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val bytes = try {
      plans.map { case (i, evs, _) =>
        pool.submit(() => {
          val (b, _) = render(evs, baseEpoch = TextFeed.BaseEpoch + i * 100000L)
          Files.write(dir.resolve(fileName(i)), b)
          b.length.toLong
        })
      }.map(_.get()).sum
    } finally pool.shutdown()
    BinPlan(st.rows.toMap, st.versions.toMap,
      Map("t_pk" -> st.pk.size.toLong, "t_types" -> st.typed.size.toLong),
      plans.map(_._3.toLong).sum, bytes)
  }
}

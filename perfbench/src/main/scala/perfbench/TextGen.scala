package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One planted row change, as the generator wrote it. `kind` is 0 insert,
  * 1 update, 2 delete; `table` indexes the generator's table list. Every
  * row of a multi-row event shares the event's (start, stop). */
final case class Planted(file: Int, start: Long, stop: Long, epoch: Long,
    kind: Int, table: Int)

object Planted {
  val Kinds: Vector[String] = Vector("insert", "update", "delete")
}

/** A generated table: its columns in ordinal order and its key. */
final case class GenTable(db: String, name: String, cols: Vector[GenCol],
    key: GenKey) {
  def qualified: String = s"$db.$name"
  def keyOrds: Seq[Int] = key match {
    case GenKey.Pk => Seq(0)
    case GenKey.CompositePk => Seq(0, 1)
    case GenKey.Unique => Seq(1)
    case GenKey.Keyless => Nil
  }
}

/** Column kinds print the way `mysqlbinlog -vv` prints them. */
final case class GenCol(name: String, kind: Int, nullable: Boolean) {
  def comment(isNull: Boolean): String = {
    val t = kind match {
      case 0 => "INT meta=0"
      case 1 => "LONGINT meta=0"
      case 2 => "VARSTRING(255) meta=255"
      case 3 => "DOUBLE meta=8"
      case 4 => "DATETIME(0) meta=0"
      case _ => "DECIMAL(10,2) meta=2562"
    }
    s"/* $t nullable=${if (nullable) 1 else 0} is_null=${if (isNull) 1 else 0} */"
  }
}

sealed trait GenKey
object GenKey {
  case object Pk extends GenKey
  case object CompositePk extends GenKey
  case object Unique extends GenKey
  case object Keyless extends GenKey
}

/** Seeded generator of rotated `mysqlbinlog --base64-output=decode-rows
  * -vv` text: GTID/BEGIN/Table_map/rows/Xid framing, Zipf-skewed traffic
  * over tables of 3–16 columns (primary key, composite primary key,
  * unique-key fallback and keyless), NULLs and quote escapes, an even
  * insert/update/delete mix over live rows, and a few DDL statements.
  *
  * State (live rows, positions, clock, GTIDs) carries across files, so a
  * feed is one logical log cut into files. `evolve` makes the DDL
  * `ALTER TABLE … ADD COLUMN`, after which the table's row images carry
  * the new column; otherwise DDL never changes a table's column list. */
final class TextFeed(seed: Long, val tables: Vector[GenTable],
    evolve: Boolean, startEpoch: Long = TextFeed.BaseEpoch) {
  private val rng = new Random(seed)
  // table i is the (i+1)-th busiest: the skew is part of the workload's
  // shape, not of its seed
  private val weights: Array[Double] = {
    val w = Array.tabulate(tables.length)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private val cols: Array[ArrayBuffer[GenCol]] =
    tables.map(t => ArrayBuffer.from(t.cols)).toArray
  private val live: Array[ArrayBuffer[Array[String]]] =
    Array.fill(tables.length)(ArrayBuffer.empty[Array[String]])
  private val nextId = Array.fill(tables.length)(1L)
  private var epoch = startEpoch
  private var gno = 0L
  private var xid = 100L
  private var ddlNo = 0

  private def pickTable(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(weights, u)
    math.min(if (i >= 0) i else -i - 1, tables.length - 1)
  }

  private def strLit(): String = {
    val n = 1 + rng.nextInt(24)
    val sb = new StringBuilder("'")
    var i = 0
    while (i < n) {
      val c = TextFeed.Alphabet.charAt(rng.nextInt(TextFeed.Alphabet.length))
      if (c == '\'' || c == '\\') sb.append('\\')
      sb.append(c)
      i += 1
    }
    sb.append('\'').toString
  }

  private def value(c: GenCol): String =
    if (c.nullable && rng.nextInt(10) == 0) "NULL"
    else c.kind match {
      case 0 => (rng.nextInt(200000) - 1000).toString
      case 1 => (rng.nextLong() >>> 20).toString
      case 2 => strLit()
      case 3 => (rng.nextInt(10000000) / 100.0).toString
      case 4 => "'" + TextFeed.isoOf(epoch - rng.nextInt(86400 * 30)) + "'"
      case _ =>
        val cents = rng.nextInt(100)
        s"${rng.nextInt(100000)}.${if (cents < 10) "0" else ""}$cents"
    }

  private def newRow(t: Int): Array[String] = {
    val row = cols(t).map(value).toArray
    tables(t).key match {
      case GenKey.Pk => row(0) = nextId(t).toString; nextId(t) += 1
      case GenKey.CompositePk =>
        row(0) = nextId(t).toString; nextId(t) += 1
        row(1) = (1 + rng.nextInt(8)).toString
      case GenKey.Unique => row(1) = s"'K${nextId(t)}'"; nextId(t) += 1
      case GenKey.Keyless =>
    }
    row
  }

  private def changed(t: Int, before: Array[String]): Array[String] = {
    val after = before.clone()
    val keyOrds = tables(t).keyOrds.toSet
    val free = cols(t).indices.filterNot(keyOrds)
    (0 until 1 + rng.nextInt(3)).foreach { _ =>
      val i = free(rng.nextInt(free.length))
      after(i) = value(cols(t)(i))
    }
    after
  }

  /** One file of about `rowEvents` row changes: its bytes and the
    * planted row changes in emission order. The file ends with a Rotate
    * to `nextName`, or without one when `nextName` is null. */
  def file(fileIdx: Int, nextName: String,
      rowEvents: Int): (Array[Byte], Vector[Planted]) = {
    val file = new java.lang.StringBuilder(rowEvents * 400)
    // an event's body is staged apart so its size (and so the next
    // position) is known when its header line is written
    val body = new java.lang.StringBuilder(4096)
    var out = file
    val planted = Vector.newBuilder[Planted]
    var pos = 4L
    var dtAt = -1L
    var dtText = ""
    def dt(e: Long): String = {
      if (e != dtAt) { dtAt = e; dtText = TextFeed.headerDt(e) }
      dtText
    }
    def event(kind: String)(fill: => Unit): (Long, Long) = {
      val start = pos
      body.setLength(0)
      out = body
      fill
      out = file
      val header = s"#${dt(epoch)} server id 1  end_log_pos ${start + body.length + 31} " +
        s"CRC32 0x${Integer.toHexString(rng.nextInt() | 0x10000000)} \t$kind\n"
      pos = start + body.length + 31
      file.append("# at ").append(start).append('\n').append(header).append(body)
      (start, pos)
    }
    out.append("/*!50530 SET @@SESSION.PSEUDO_SLAVE_MODE=1*/;\n")
    out.append("/*!50003 SET @OLD_COMPLETION_TYPE=@@COMPLETION_TYPE,COMPLETION_TYPE=0*/;\n")
    out.append("DELIMITER /*!*/;\n")
    event(s"Start: binlog v 4, server v 8.0.36 created ${dt(epoch)}") {
      out.append("BINLOG '\nAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA\n'/*!*/;\n")
    }
    event("Previous-GTIDs") {
      out.append(if (gno == 0) "# [empty]\n" else s"# ${TextFeed.Uuid}:1-$gno\n")
    }
    var rows = 0
    while (rows < rowEvents) {
      epoch += 1
      if (rng.nextInt(400) == 0) ddl()
      gno += 1
      event(s"GTID\tlast_committed=${gno - 1}\tsequence_number=$gno\trbr_only=yes") {
        out.append("/*!50718 SET TRANSACTION ISOLATION LEVEL READ COMMITTED*//*!*/;\n")
        out.append(s"SET @@SESSION.GTID_NEXT= '${TextFeed.Uuid}:$gno'/*!*/;\n")
      }
      event("Query\tthread_id=8\texec_time=0\terror_code=0") {
        out.append(s"SET TIMESTAMP=$epoch/*!*/;\nBEGIN\n/*!*/;\n")
      }
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        val t = pickTable()
        val tb = tables(t)
        event(s"Table_map: `${tb.db}`.`${tb.name}` mapped to number ${100 + t}") {}
        val op0 = rng.nextInt(3)
        val op = if (live(t).isEmpty) 0 else op0
        val n = if (rng.nextInt(4) == 0) 2 + rng.nextInt(3) else 1
        val header = Seq("Write_rows", "Update_rows", "Delete_rows")(op)
        val images = ArrayBuffer.empty[(Array[String], Array[String])]
        (0 until n).foreach { _ =>
          op match {
            case 0 =>
              val r = newRow(t); live(t) += r; images += ((null, r))
            case 1 if live(t).nonEmpty =>
              val i = rng.nextInt(live(t).length)
              val b = live(t)(i); val a = changed(t, b)
              live(t)(i) = a; images += ((b, a))
            case 2 if live(t).nonEmpty =>
              val i = rng.nextInt(live(t).length)
              val b = live(t)(i)
              live(t)(i) = live(t).last; live(t).remove(live(t).length - 1)
              images += ((b, null))
            case _ =>
          }
        }
        val (start, stop) = event(s"$header: table id ${100 + t} flags: STMT_END_F") {
          images.foreach { case (b, a) =>
            val verb = Seq("INSERT INTO", "UPDATE", "DELETE FROM")(op)
            out.append(s"### $verb `${tb.db}`.`${tb.name}`\n")
            if (b != null) { out.append("### WHERE\n"); image(t, b) }
            if (a != null) { out.append("### SET\n"); image(t, a) }
          }
        }
        images.foreach(_ => planted += Planted(fileIdx, start, stop, epoch, op, t))
        rows += images.length
      }
      xid += 1
      event(s"Xid = $xid") { out.append("COMMIT/*!*/;\n") }
    }
    if (nextName != null)
      event(s"Rotate to $nextName  pos: 4") {}
    out.append("SET @@SESSION.GTID_NEXT= 'AUTOMATIC' /* added by mysqlbinlog */ /*!*/;\n")
    out.append("DELIMITER ;\n# End of log file\n")
    out.append("/*!50003 SET COMPLETION_TYPE=@OLD_COMPLETION_TYPE*/;\n")
    out.append("/*!50530 SET @@SESSION.PSEUDO_SLAVE_MODE=0*/;\n")

    def image(t: Int, row: Array[String]): Unit = {
      var i = 0
      while (i < row.length) {
        val c = cols(t)(i)
        out.append("###   @").append(i + 1).append('=').append(row(i)).append(' ')
          .append(c.comment(row(i) == "NULL")).append('\n')
        i += 1
      }
    }

    def ddl(): Unit = {
      ddlNo += 1
      val t = pickTable()
      val tb = tables(t)
      val stmt =
        if (evolve) {
          val c = s"x$ddlNo"
          cols(t) += GenCol(c, 0, nullable = true)
          // rows already live gain the column as NULL, like the server
          live(t).indices.foreach(i => live(t)(i) = live(t)(i) :+ "NULL")
          s"alter table ${tb.name} add column $c int"
        } else if (ddlNo % 2 == 0) s"alter table ${tb.name} add index ix_$ddlNo (${cols(t).last.name})"
        else s"create table if not exists scratch_$ddlNo (id int primary key)"
      event("Query\tthread_id=8\texec_time=0\terror_code=0\tXid = 0") {
        out.append(s"use `${tb.db}`/*!*/;\nSET TIMESTAMP=$epoch/*!*/;\n$stmt\n/*!*/;\n")
      }
    }

    (file.toString.getBytes(UTF_8), planted.result())
  }
}

object TextFeed {
  /** 2026-08-15 00:00:00 UTC. */
  val BaseEpoch: Long = 1786752000L
  val Uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
  // quote and backslash are escaped on output; `=`, `;`, `#`, `,` and
  // spaces stay literal — the parser must not split on them
  private val Alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789 _-=;#,.:'\\"

  def isoOf(e: Long): String =
    java.time.LocalDateTime.ofEpochSecond(e, 0, java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ') match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }

  /** mysqlbinlog's header clock: `yyMMdd H:mm:ss`, hour space-padded. */
  def headerDt(e: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(e, 0, java.time.ZoneOffset.UTC)
    f"${t.getYear % 100}%02d${t.getMonthValue}%02d${t.getDayOfMonth}%02d " +
      f"${t.getHour}%2d:${t.getMinute}%02d:${t.getSecond}%02d"
  }

  private val Dbs = Vector("shop", "crm", "audit")
  private val Names = Vector("orders", "customers", "items", "payments",
    "events", "sessions", "carts", "reviews", "shipments", "invoices",
    "tickets", "notes")

  /** `n` tables over three databases; a table name may recur in another
    * database, as `-t` filters match on the name alone. The schema is
    * fixed: seeds vary the data, not the workload's shape. */
  def schema(n: Int): Vector[GenTable] = {
    val rng = new Random(n.toLong)
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    Vector.tabulate(n) { i =>
      var db = Dbs(rng.nextInt(Dbs.length))
      var name = Names(rng.nextInt(Names.length))
      while (seen((db, name))) {
        db = Dbs(rng.nextInt(Dbs.length)); name = Names(rng.nextInt(Names.length))
      }
      seen += ((db, name))
      val key = i % 4 match {
        case 0 => GenKey.Pk
        case 1 => if (i % 8 == 1) GenKey.CompositePk else GenKey.Pk
        case 2 => GenKey.Unique
        case _ => GenKey.Keyless
      }
      val width = 3 + rng.nextInt(14)
      val cols = Vector.tabulate(width) { c =>
        (key, c) match {
          case (GenKey.Pk | GenKey.CompositePk | GenKey.Unique, 0) =>
            GenCol("id", 0, nullable = false)
          case (GenKey.CompositePk, 1) => GenCol("region", 0, nullable = false)
          case (GenKey.Unique, 1) => GenCol("code", 2, nullable = false)
          case _ => GenCol(s"c${c + 1}", rng.nextInt(6), nullable = true)
        }
      }
      GenTable(db, name, cols, key)
    }
  }

  /** The information_schema snapshot `CdcMain --catalog` reads:
    * columns.csv and statistics.csv (FIXTURES.md §3 shapes). */
  def writeCatalog(dir: Path, tables: Seq[GenTable]): (Path, Path) = {
    Files.createDirectories(dir)
    val cols = new StringBuilder(
      "table_schema,table_name,column_name,ordinal_position,column_key\n")
    val stats = new StringBuilder(
      "table_schema,table_name,index_name,non_unique,column_name\n")
    tables.foreach { t =>
      t.cols.zipWithIndex.foreach { case (c, i) =>
        val pri = t.key match {
          case GenKey.Pk if i == 0 => "PRI"
          case GenKey.CompositePk if i < 2 => "PRI"
          case _ => ""
        }
        cols ++= s"${t.db},${t.name},${c.name},${i + 1},$pri\n"
      }
      t.key match {
        case GenKey.Pk => stats ++= s"${t.db},${t.name},PRIMARY,0,id\n"
        case GenKey.CompositePk =>
          stats ++= s"${t.db},${t.name},PRIMARY,0,id\n"
          stats ++= s"${t.db},${t.name},PRIMARY,0,region\n"
        case GenKey.Unique => stats ++= s"${t.db},${t.name},ux_code,0,code\n"
        case GenKey.Keyless =>
      }
      stats ++= s"${t.db},${t.name},ix_${t.cols.last.name},1,${t.cols.last.name}\n"
    }
    val c = dir.resolve("columns.csv")
    val s = dir.resolve("statistics.csv")
    Files.write(c, cols.toString.getBytes(UTF_8))
    Files.write(s, stats.toString.getBytes(UTF_8))
    (c, s)
  }

  def fileName(i: Int): String = f"mysql-bin.${i + 1}%06d"

  /** Writes `files` rotated text files of `rowsPerFile` row changes into
    * `dir`; returns the planted changes in log order and the bytes. */
  def writeLog(dir: Path, seed: Long, tables: Vector[GenTable], files: Int,
      rowsPerFile: Int): (Vector[Planted], Long) = {
    Files.createDirectories(dir)
    val feed = new TextFeed(seed, tables, evolve = false)
    val all = Vector.newBuilder[Planted]
    var bytes = 0L
    (0 until files).foreach { i =>
      val next = if (i + 1 < files) fileName(i + 1) else null
      val (b, p) = feed.file(i, next, rowsPerFile)
      Files.write(dir.resolve(fileName(i)), b)
      bytes += b.length
      all ++= p
    }
    (all.result(), bytes)
  }
}

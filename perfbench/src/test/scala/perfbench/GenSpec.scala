package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The generators are pure functions of their seed: the same seed gives
  * byte-identical inputs, another seed different ones. */
class GenSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  private def contents(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  private val tables = TextFeed.schema(24)

  test("text binlog: same seed, same bytes; another seed, other bytes") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val (pa, _) = TextFeed.writeLog(a, 7L, tables, 3, 300)
    val (pb, _) = TextFeed.writeLog(b, 7L, tables, 3, 300)
    TextFeed.writeLog(c, 8L, tables, 3, 300)
    assert(contents(a) == contents(b))
    assert(pa == pb)
    assert(contents(a).keySet == contents(c).keySet)
    assert(contents(a) != contents(c))
  }

  test("text binlog plants every kind of change over keyed and keyless tables") {
    val (planted, bytes) = TextFeed.writeLog(tmp(), 3L, tables, 2, 2000)
    assert(bytes > 0)
    assert(planted.map(_.kind).toSet == Set(0, 1, 2))
    assert(planted.map(p => tables(p.table).key).toSet ==
      Set(GenKey.Pk, GenKey.CompositePk, GenKey.Unique, GenKey.Keyless))
    // positions rise within a file: they are the order the check expects
    planted.groupBy(_.file).values.foreach { ps =>
      assert(ps.map(_.start) == ps.map(_.start).sorted)
    }
  }

  test("stream feed: same seed, same files, and it carries ALTER ADD COLUMN") {
    def feed(seed: Long) = {
      val f = new TextFeed(seed, tables, evolve = true)
      (0 until 30).map(i => f.file(i, null, 60)._1.toSeq)
    }
    assert(feed(5L) == feed(5L))
    assert(feed(5L) != feed(6L))
    assert(feed(5L).exists(b => new String(b.toArray, "UTF-8").contains(" add column ")))
  }

  test("binary binlog: same seed, same bytes; another seed, other bytes") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val pa = BinGen.writeLog(a, 11L, 3, 100, 2)
    val pb = BinGen.writeLog(b, 11L, 3, 100, 1)
    BinGen.writeLog(c, 12L, 3, 100, 2)
    assert(contents(a) == contents(b), "thread count must not change the bytes")
    assert(pa == pb)
    assert(contents(a) != contents(c))
    assert(pa.rows.values.sum == pa.events)
  }

  test("corpus: same seed, same digest; another seed, another digest") {
    val (_, _, p1) = CorpusGen.generate(21L, 2000, 500)
    val (_, _, p2) = CorpusGen.generate(21L, 2000, 500)
    val (_, _, p3) = CorpusGen.generate(22L, 2000, 500)
    assert(p1.digest == p2.digest && p1 == p2)
    assert(p1.digest != p3.digest)
    assert(p1.pairs.nonEmpty && p1.twins.size == CorpusGen.Queries)
  }
}

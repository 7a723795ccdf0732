package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps dev-only scratch mains out of `src/main`: the objects that
  * define `def main` are exactly the shipped entry points. A one-off
  * measurement belongs in the benchmark's own breakdown or in a spec,
  * not in a new main.
  */
class MainObjectsSpec extends AnyFunSuite {

  private val Allowed = Set(
    "graft.Bench", "graft.Verify", "graft.PlanDump", "graft.RefParityDump",
    "graft.cdc.CdcMain",
    // builds the local 10× corpus that BASELINE.md's sf1 pairings use
    "graft.ProbeScale")

  private val PackageLine = """^\s*package\s+([\w.]+)""".r
  private val ObjectLine = """^\s*(?:private(?:\[\w+\])?\s+|final\s+|case\s+)*object\s+(\w+)""".r
  private val MainLine = """^\s*(?:override\s+)?def\s+main\s*\(""".r

  /** `package.Object` for every object that defines `def main`. */
  private def mainsIn(file: Path): Seq[String] = {
    // Latin-1 decodes any byte, and the keywords are ASCII.
    val lines = new String(Files.readAllBytes(file), StandardCharsets.ISO_8859_1)
      .split('\n').toSeq
    var pkg = ""
    var obj = ""
    lines.flatMap { line =>
      PackageLine.findFirstMatchIn(line).foreach(m => pkg = m.group(1))
      ObjectLine.findFirstMatchIn(line).foreach(m => obj = m.group(1))
      if (MainLine.findFirstIn(line).isDefined) Some(s"$pkg.$obj") else None
    }
  }

  test("the objects defining main are exactly the shipped entry points") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root ($root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val mains = files.flatMap(mainsIn).toSet
    assert(mains === Allowed)
  }
}

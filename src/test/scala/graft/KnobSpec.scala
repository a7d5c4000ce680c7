package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable and system property the main sources read is
  * declared, with its default, in the README table — and the table names
  * nothing the sources no longer read. */
class KnobSpec extends AnyFunSuite {

  private val Heading = "## Environment and system properties"

  /** The checkout root: the forked test JVM's working directory or the
    * nearest parent holding both the main sources and the README. */
  private def repoRoot(): Path = {
    val cwd = Paths.get("").toAbsolutePath
    Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")) &&
        Files.isRegularFile(d.resolve("README.md")))
      .getOrElse(fail(s"cannot find src/main/scala and README.md in $cwd " +
        "or any parent; run the tests from the repository root"))
  }

  /** (file, name) of every read; a read whose name is not a string
    * literal is reported with a null name. */
  private def sourceReads(root: Path): Seq[(String, String)] = {
    val read = """(?:sys\.env|sys\.props|System\.getenv|System\.getProperty)\b""".r
    val named = """\A(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]+)"""".r
    val files = Files.walk(root.resolve("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
    files.flatMap { f =>
      val text = Files.readString(f)
      read.findAllMatchIn(text).map { m =>
        val name = named.findPrefixMatchOf(text.substring(m.end)).map(_.group(1))
        (root.relativize(f).toString, name.orNull)
      }
    }
  }

  /** Names in the first column of the README table under `Heading`. */
  private def declared(root: Path): Set[String] = {
    val lines = Files.readAllLines(root.resolve("README.md")).asScala.toSeq
    val at = lines.indexOf(Heading)
    assert(at >= 0, s"README.md has no '$Heading' section")
    val cell = """^\|\s*`([^`]+)`\s*\|""".r
    lines.drop(at + 1).takeWhile(!_.startsWith("## "))
      .flatMap(l => cell.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("every env/system-property read in src/main is declared in the README table") {
    val root = repoRoot()
    val reads = sourceReads(root)
    assert(reads.nonEmpty, "found no reads at all: the scan is broken")
    val unnamed = reads.filter(_._2 == null).map(_._1).distinct
    assert(unnamed.isEmpty,
      s"reads whose name is not a string literal (declare a literal name): $unnamed")
    val inSources = reads.map(_._2).toSet
    val inReadme = declared(root)
    val undeclared = inSources -- inReadme
    val stale = inReadme -- inSources
    assert(undeclared.isEmpty && stale.isEmpty,
      s"README table out of date — read but not declared: ${undeclared.toSeq.sorted}; " +
      s"declared but never read: ${stale.toSeq.sorted}")
  }
}

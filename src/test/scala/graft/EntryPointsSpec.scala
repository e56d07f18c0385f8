package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable `main` under `src/main/scala` is a row of the "Entry
  * points" table in `DESIGN.md`, which says what runs it, and every row
  * names a main that exists. Adding or deleting a main without updating
  * the table fails here. Only a main's file may print: library code
  * reports through return values, logs and artifacts, not stdout.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val mainDef = """def main\(\w+: Array\[String\]\)""".r
  private val topLevelObject = """(?m)^object (\w+)""".r
  private val packageDecl = """(?m)^package ([\w.]+)""".r

  /** Path and text of every Scala file under `src/main/scala`. */
  private lazy val sources: Seq[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => (p.toString, Files.readString(p)))
      .toSeq

  /** `package.Object` of each main. Only a top-level object gets the
    * static forwarder that `java` launches, so each main belongs to the
    * nearest top-level object above it.
    */
  private def mainsInSource: Set[String] =
    sources.flatMap { case (_, src) =>
      val pkg = packageDecl.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = topLevelObject.findAllMatchIn(src).toSeq
      mainDef.findAllMatchIn(src).map { m =>
        pkg + objects.filter(_.start < m.start).last.group(1)
      }
    }.toSet

  /** First-column names of the table under `## Entry points`. */
  private def mainsInDesign: Set[String] = {
    val section = Files.readAllLines(Paths.get("DESIGN.md")).asScala
      .dropWhile(_ != "## Entry points").drop(1)
      .takeWhile(!_.startsWith("## "))
    section.flatMap("""^\| `([\w.]+)` \|""".r.findFirstMatchIn(_)).map(_.group(1)).toSet
  }

  test("the DESIGN.md entry-point table names exactly the mains in src/main") {
    val source = mainsInSource
    val design = mainsInDesign
    assert(source.nonEmpty && design.nonEmpty)
    assert(source == design,
      s"\n  mains missing from DESIGN.md: ${(source -- design).toSeq.sorted}" +
        s"\n  DESIGN.md rows with no main: ${(design -- source).toSeq.sorted}")
  }

  test("library code does not print: only files with a main write to stdout or stderr") {
    val printing = """println|System\.out|System\.err""".r
    val printers = sources.filter { case (_, src) => printing.findFirstIn(src).isDefined }
    assert(printers.nonEmpty)
    val library = printers.collect {
      case (path, src) if mainDef.findFirstIn(src).isEmpty => path
    }
    assert(library.isEmpty,
      s"\n  files that print but define no main: ${library.sorted}")
  }
}

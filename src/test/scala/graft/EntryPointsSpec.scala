package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable `main` under `src/main/scala` is a row of the "Entry
  * points" table in `DESIGN.md`, which says what runs it, and every row
  * names a main that exists. Adding or deleting a main without updating
  * the table fails here.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val mainDef = """def main\(\w+: Array\[String\]\)""".r
  private val topLevelObject = """(?m)^object (\w+)""".r
  private val packageDecl = """(?m)^package ([\w.]+)""".r

  /** `package.Object` of each main. Only a top-level object gets the
    * static forwarder that `java` launches, so each main belongs to the
    * nearest top-level object above it.
    */
  private def mainsInSource: Set[String] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
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
}

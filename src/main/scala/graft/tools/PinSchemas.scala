package graft.tools

import java.nio.file.{Files, Paths}

import graft.{DtypeLint, GraftSession, SparkEntry}

/** Regenerates the checked-in output-schema snapshot
  * (`src/main/resources/graft/expected_schemas.tsv`) that `Verify.main`
  * and `OutputDtypeLintSpec` pin every gated query's emitted dtypes
  * against. Run after legitimately adding or reshaping a query:
  *
  * {{{ sbt 'runMain graft.tools.PinSchemas' }}}
  *
  * Schemas are analysis-only (`df.schema` — nothing executes) and
  * SF-independent (the one pivot on the surface enumerates its values),
  * so sf0.001 is enough.
  */
object PinSchemas {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val out = Paths.get("src/main/resources/graft/expected_schemas.tsv")
    val spark = GraftSession()
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try Some(s"$name\t${DtypeLint.canonicalSchema(fn(spark, sfDir))}")
        catch { case e: Throwable =>
          System.err.println(s"[pin-schemas] SKIPPED $name: ${e.getMessage}")
          None
        }
    }
    Files.createDirectories(out.getParent)
    Files.writeString(out, lines.mkString("", "\n", "\n"))
    println(s"[pin-schemas] pinned ${lines.size}/${SparkEntry.queries.size} " +
      s"query schemas -> $out")
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every lineage truncation in production query/operator
  * code must go through `Checkpoints.stableCheckpoint()` so the
  * `spark.graft.reliableCheckpoint` escape hatch covers the WHOLE
  * surface. r11 found 14 bare `.localCheckpoint()` sites (copurchase,
  * BPE trainer, embedding moments, …) that silently bypassed the flag:
  * with reliableCheckpoint=true an executor loss mid-query still killed
  * them, contradicting the documented recovery story (executor-kill
  * chaos is the observable: localCheckpoint blocks are not replayable).
  *
  * The only allowed exception is `Checkpoints.scala`, the policy seam
  * itself. The same walker also holds the session seam: only
  * `GraftSession.scala` may call `SparkSession.builder`.
  */
class CheckpointPolicyLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val allowed = Set("Checkpoints.scala")

  /** Non-comment lines under `root` containing `needle`, outside `allow`. */
  private def offenders(needle: String, allow: Set[String]): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allow(p.getFileName.toString))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) &&
            !line.trim.startsWith("//") && !line.trim.startsWith("*") =>
            s"$p:${i + 1}: ${line.trim.take(80)}"
        }
      }.toSeq

  test("no bare .localCheckpoint( outside the policy seam") {
    val found = offenders(".localCheckpoint(", allowed)
    assert(found.isEmpty,
      "bare .localCheckpoint( bypasses the reliableCheckpoint flag — " +
        "use Checkpoints.stableCheckpoint():\n  " +
        found.mkString("\n  "))
  }

  // The session seam: every main builds its session through GraftSession,
  // so a tool cannot drift from the gate's config (timezone, nanos
  // timestamps, codegen cache, cluster wiring) by copying a builder.
  test("no SparkSession.builder outside GraftSession") {
    val found = offenders("SparkSession.builder", Set("GraftSession.scala"))
    assert(found.isEmpty,
      "build the session with graft.GraftSession(conf pairs):\n  " +
        found.mkString("\n  "))
  }
}

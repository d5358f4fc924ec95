package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Replays stay behind `graft.streaming.Replay`: outside Replay.scala
  * no main source under `graft/streaming/` opens a stream, drains one,
  * sizes its triggers, chunks with a global window or makes its own
  * replay directory.
  */
class ReplayLintSpec extends AnyFunSuite {

  private val rules = Seq(
    "readStream" -> """\breadStream\b""".r,
    "processAllAvailable" -> """\bprocessAllAvailable\b""".r,
    "maxFilesPerTrigger" -> """\bmaxFilesPerTrigger\b""".r,
    "Window.orderBy" -> """Window\s*\.\s*orderBy""".r,
    "replay temp directory" -> """createTempDirectory\(\s*"graft-stream""".r)

  test("no stream, drain, trigger size, global window or replay directory outside Replay.scala") {
    val root = Paths.get("src/main/scala/graft/streaming")
    val sources = Files.list(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Replay.scala")
      .toSeq
    assert(sources.size >= 10, s"scanned only ${sources.size} files under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      (rule, re) <- rules if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: $rule"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

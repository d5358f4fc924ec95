package graft.io

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Index persistence stays behind `graft.io.PersistedIndex`: outside
  * `graft/io/` no main source renames or drops a table, reads a
  * catalog bucket count, or reads an index's `_meta` table itself.
  */
class PersistedIndexLintSpec extends AnyFunSuite {

  private val rules = Seq(
    "RENAME TO" -> "RENAME TO".r,
    "DROP TABLE" -> "DROP TABLE".r,
    "numBuckets(" -> """numBuckets\(""".r,
    "direct _meta read" -> """\btable\(\s*s?"[^"]*_meta"""".r)

  test("no table rename, drop, bucket-count or _meta read outside graft/io") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(root.resolve("graft/io")))
      .toSeq
    assert(sources.size > 50, s"scanned only ${sources.size} files under $root")
    val hits = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      (rule, re) <- rules if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: $rule"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

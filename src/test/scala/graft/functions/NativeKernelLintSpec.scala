package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Native expressions generate calls, not loops: no string literal in
  * `Native.scala` holds a `for (` or `while (`, so no expression's loop
  * is written a second time as Java source, and `ctx.freshName`, which
  * only hand-written Java needs, does not appear.
  */
class NativeKernelLintSpec extends AnyFunSuite {

  private val path = Paths.get("src/main/scala/graft/functions/Native.scala")
  private lazy val src = new String(Files.readAllBytes(path), "UTF-8")

  private val loop = """\b(for|while) \(""".r

  /** "line: literal" for each string literal of `source` holding a loop. */
  private def loops(source: String): Seq[String] =
    ScalaSource.literals(source).collect {
      case (at, text) if loop.findFirstIn(text).isDefined => s"${ScalaSource.lineOf(source, at)}: $text"
    }

  test("no string literal in Native.scala holds a for or while loop") {
    val literals = ScalaSource.literals(src)
    assert(literals.count(_._2.contains("graft.functions.Kernels.")) >= 16,
      s"scanned only ${literals.size} string literals in $path")
    val hits = loops(src)
    assert(hits.isEmpty, s"$path:\n" + hits.mkString("\n"))
  }

  test("Native.scala never calls ctx.freshName") {
    assert(!src.contains("freshName"))
  }

  test("the lint finds a loop in a template, not in code or comments") {
    val source = "while (i < n) i += 1 // for (x)\n/* while (y) */ val t = \"ok\"\n" +
      "val u = s\"\"\"\n  |for (int $i = 0; $i < $n; $i++) {\n\"\"\"; val v = s\"${f(\"while (\")}\""
    assert(loops(source).map(_.takeWhile(_ != ':')) == Seq("3", "5"))
  }
}

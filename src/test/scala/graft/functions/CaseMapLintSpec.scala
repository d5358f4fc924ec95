package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Case mapping stays behind `Native.lower` / `Native.upper`: outside
  * `graft/functions/` no main source calls the Column API's `lower(` or
  * `upper(`. Comments and string literals are not code, so the DuckDB
  * oracle SQL strings, which are strings, never trip it; the one other
  * allowed place is `TextAnalysis.Composed`, the reference that keeps
  * Spark's own `lower`.
  */
class CaseMapLintSpec extends AnyFunSuite {

  private val call = """(?<![\w$])(?<!Native\.)(lower|upper)\s*\(""".r

  /** (file, object) pairs whose body may call Spark's case mapping. */
  private val allowed = Seq("graft/ops/TextAnalysis.scala" -> "Composed")

  /** The offset range of `object name { … }`'s body in `code`. */
  private def objectBody(code: String, name: String): Range = {
    val open = code.indexOf('{', code.indexOf(s"object $name "))
    var depth = 0
    var i = open
    do {
      if (code.charAt(i) == '{') depth += 1 else if (code.charAt(i) == '}') depth -= 1
      i += 1
    } while (depth > 0)
    open until i
  }

  test("no Column-API lower( or upper( outside graft/functions, Composed and SQL strings") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(root.resolve("graft/functions")))
      .toSeq
    assert(sources.size > 50, s"scanned only ${sources.size} files under $root")
    def rel(p: Path): String = root.relativize(p).toString
    val hits = for {
      p <- sources
      code = ScalaSource.codeOnly(new String(Files.readAllBytes(p), "UTF-8"))
      exempt = allowed.collect { case (f, o) if rel(p) == f => objectBody(code, o) }
      m <- call.findAllMatchIn(code) if !exempt.exists(_.contains(m.start))
    } yield s"$p:${ScalaSource.lineOf(code, m.start)}: ${m.matched}"
    assert(hits.isEmpty, s"${hits.size} hits:\n" + hits.mkString("\n"))
  }

  test("the lint blanks comments and strings, splices included, but not code") {
    val code = ScalaSource.codeOnly(
      "val a = lower(x) // upper(y)\n/* lower(z) */ val b = \"upper(w)\"\n" +
        "val c = s\"\"\"lower(v)\"\"\"; val d = functions.upper(u); val e = Native.lower(t)\n" +
        "val f = '\"'; val g = \"a\\\"lower(q)\"; val h = upper (p)\n" +
        "val i = s\"${m(\"lower(o)\")} upper(n)\"; val j = lower(k)")
    assert(call.findAllMatchIn(code).map(_.matched).toSeq ==
      Seq("lower(", "upper(", "upper (", "lower("))
  }
}

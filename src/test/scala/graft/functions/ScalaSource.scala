package graft.functions

/** Comments and string literals of Scala source, for the source lints. */
object ScalaSource {

  /** (start, end, is a string literal) of each comment, string literal
    * and `'"'` character literal in `src`, in order.
    */
  def spans(src: String): Seq[(Int, Int, Boolean)] = {
    val out = Seq.newBuilder[(Int, Int, Boolean)]
    var i = 0
    while (i < src.length) {
      val (end, isString) =
        if (src.startsWith("//", i)) (src.indexOf('\n', i) match { case -1 => src.length; case e => e }, false)
        else if (src.startsWith("/*", i)) (src.indexOf("*/", i + 2) + 2, false)
        else if (src.startsWith("\"\"\"", i)) {
          var e = src.indexOf("\"\"\"", i + 3) + 3
          while (e < src.length && src.charAt(e) == '"') e += 1
          (e, true)
        } else if (src.charAt(i) == '"') (stringEnd(src, i + 1), true)
        else if (src.startsWith("'\"'", i)) (i + 3, false)
        else (-1, false)
      if (end < 0) i += 1
      else { out += ((i, end, isString)); i = end }
    }
    out.result()
  }

  /** `src` with every comment and string literal blanked to spaces;
    * newlines stay, so offsets keep their line numbers.
    */
  def codeOnly(src: String): String = {
    val out = src.toCharArray
    for ((start, end, _) <- spans(src); i <- start until end if out(i) != '\n') out(i) = ' '
    new String(out)
  }

  /** (offset, text) of each string literal in `src`, splices included. */
  def literals(src: String): Seq[(Int, String)] =
    spans(src).collect { case (start, end, true) => (start, src.substring(start, end)) }

  /** The 1-based line of `offset` in `src`. */
  def lineOf(src: String, offset: Int): Int = src.substring(0, offset).count(_ == '\n') + 1

  /** The offset just past the single-line string literal whose body
    * starts at `i`, stepping over escapes and over `${…}` splices,
    * which may hold strings of their own.
    */
  private def stringEnd(src: String, i: Int): Int = {
    var e = i
    while (src.charAt(e) != '"') {
      if (src.charAt(e) == '\\') e += 2
      else if (src.startsWith("${", e)) {
        var depth = 0
        e += 1
        do {
          src.charAt(e) match {
            case '{' => depth += 1; e += 1
            case '}' => depth -= 1; e += 1
            case '"' => e = stringEnd(src, e + 1)
            case _ => e += 1
          }
        } while (depth > 0)
      } else e += 1
    }
    e + 1
  }
}

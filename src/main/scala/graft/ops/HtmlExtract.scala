package graft.ops

import graft.functions.Native
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML/markup boilerplate extraction — the C4 recipe (Raffel et al.
  * 2020 §2.2: keep lines that end in terminal punctuation and have ≥
  * 5 words; drop javascript/cookie-notice lines; gate pages on lorem
  * ipsum, curly braces, and a minimum of 3 retained lines), opening
  * the pipeline's UPSTREAM end: everything downstream (quality,
  * dedup, lang-ID, tokenization) assumes clean text — this is the
  * stage that produces it from a crawl.
  *
  * Scale: pure per-row regexp_replace / split / filter expression
  * chains — whole-stage-codegen'd, zero shuffle, no UDFs. The regex
  * subset is deliberately portable (non-greedy blocks, (?is) flags,
  * character classes) so the DuckDB oracle can run the IDENTICAL
  * chain, and entity decoding is literal `replace` with `&amp;` LAST
  * (the classic double-decode trap).
  */
object HtmlExtract {

  /** Markup stripped to line-structured plain text: script/style/
    * comment blocks removed first (their bodies are not content),
    * block-level closers become newlines (line rules need the line
    * structure the tags encoded), remaining tags collapse to spaces,
    * entities decode, and horizontal whitespace squeezes. */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blockBreaks = regexp_replace(noComment,
      "(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table)[^>]*>", "\n")
    val noTags = regexp_replace(blockBreaks, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    regexp_replace(ent, "[ \\t]+", " ")
  }

  /** The C4 line filter over stripped text: trimmed lines with ≥ 5
    * words ending in terminal punctuation, minus javascript/cookie
    * boilerplate. Returns the retained lines as an array. */
  def cleanLines(html: Column): Column =
    filter(
      transform(split(stripMarkup(html), "\n"), l => trim(l)),
      l => size(split(l, " ")) >= 5 &&
        l.rlike("[.!?\"]$") &&
        !Native.lower(l).rlike("javascript") &&
        !Native.lower(l).rlike("cookie"))

  /** Extracted page text: retained lines joined by newline. */
  def extractText(html: Column): Column =
    array_join(cleanLines(html), "\n")

  /** The C4 page gate on the EXTRACTED text: no lorem-ipsum
    * placeholder, no curly braces (code), ≥ `minLines` retained
    * lines. */
  def pageKept(cleanText: Column, nLines: Column,
               minLines: Int = 3): Column =
    !Native.lower(cleanText).rlike("lorem ipsum") &&
      !cleanText.rlike("[{}]") &&
      (nLines >= minLines)
}

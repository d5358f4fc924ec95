package graft.tree

/** A categorical at full cardinality — FitInternals.MaxCategories
  * values — next to integer-valued numerics with NaN rows, for the
  * fused ≡ tree-at-a-time and weighted ≡ replicated parity specs: a
  * level-pass cell that dropped or double-counted rows would move a
  * category's stats, its place in the prefix order, or a composed
  * child threshold. Integer values keep every sum exact, so the
  * parity is bitwise (the house parity-fixture rule).
  */
object WideCategorical {
  val categories: Seq[String] = (0 until FitInternals.MaxCategories).map(i => f"c$i%02d")

  /** (lang, x, z, class, w): x is NaN in a quarter of the rows, class
    * is k = 3-ary and follows the category first, then x; w is an
    * integer weight in 1..3.
    */
  val rows: Seq[(String, Double, Double, Int, Int)] = for {
    (lang, i) <- categories.zipWithIndex
    x <- Seq(1.0, 2.0, 3.0, Double.NaN)
    rep <- 1 to 2
  } yield {
    val cls = if (i % 5 == 0) 0 else if (i % 5 == 1 || x <= 1.0) 1 else 2
    val z = ((i * 7 + rep) % 5).toDouble
    val w = (i + rep + (if (x.isNaN) 0 else x.toInt)) % 3 + 1
    (lang, x, z, cls, w)
  }
}

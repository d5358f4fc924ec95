package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport,
  GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Native Catalyst expressions for the hot paths. A native expression
  * beats a UDF or composed higher-order functions: it runs inside
  * whole-stage codegen with primitive access, no per-element lambda
  * dispatch and no intermediate arrays.
  *
  * The kernel contract: each scalar expression's loop is written once,
  * in Scala, as a method of a kernel object ([[Kernels]], [[TextScan]],
  * [[CaseMapping]]) or of a table class ([[SplitTable]],
  * [[NodeValueTable]]). `eval` calls that method, and `doGenCode`
  * emits one call to the same method, with seeds, parameters and
  * tables passed in codegen's references (`ctx.addReferenceObj`). The
  * generated code holds no loop of its own (`NativeKernelLintSpec`),
  * so whole-stage codegen and interpreted evaluation run the same
  * loop (`NativeModesSpec`).
  */

/** The loops of the array and string expressions below, one method
  * per expression.
  */
object Kernels {

  /** The modulus of the 31-base polynomial token hash. */
  val P = 1000000007L

  private val Space = UTF8String.fromString(" ")

  /** The 31-base polynomial hash of `s`'s UTF-16 code units mod [[P]]:
    * the `aggregate(transform(split(t, ""), ascii), …)` fold, since
    * `split` emits code units and `ascii` their values.
    */
  private def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i)) % P; i += 1 }
    h
  }

  /** Each token's [[polyHash]] and 31^length mod [[P]]; a NULL token
    * reads 0 for both.
    */
  private def tokenHashes(a: ArrayData): (Array[Long], Array[Long]) = {
    val n = a.numElements()
    val h = new Array[Long](n)
    val pw = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i).toString
        h(i) = polyHash(s)
        var p = 1L
        var c = 0
        while (c < s.length) { p = (p * 31L) % P; c += 1 }
        pw(i) = p
      }
      i += 1
    }
    (h, pw)
  }

  /** The [[polyHash]] of tokens [i, i + n) joined by single spaces,
    * composed from [[tokenHashes]] without building the string: the
    * polynomial composes over concatenation, H(a ++ b) =
    * H(a)·31^|b| + H(b), and the space adds `H·31 + 32`.
    */
  private def gramHash(h: Array[Long], pw: Array[Long], i: Int, n: Int): Long = {
    var g = h(i)
    var j = 1
    while (j < n) {
      g = (g * 31L + 32L) % P
      g = (g * pw(i + j) + h(i + j)) % P
      j += 1
    }
    g
  }

  /** See [[DoubleDot]]. */
  def doubleDot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot: vector lengths differ: $n and ${y.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(s"graft_dot: NULL element at index $i")
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  /** See [[SortedIntersectCount]]. */
  def sortedIntersectCount(x: ArrayData, y: ArrayData): Int = {
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    }
    c
  }

  /** See [[MinHashSig]]; `seeds(i)` is permutation i's XXH64 seed. */
  def minHashSig(a: ArrayData, seeds: Array[Long]): ArrayData = {
    val out = Array.fill(seeds.length)(Long.MaxValue)
    var j = 0
    while (j < a.numElements()) {
      if (!a.isNullAt(j)) {
        val s = a.getLong(j)
        var i = 0
        while (i < out.length) {
          val h = XXH64.hashLong(s, seeds(i))
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** See [[PolyMinHashGrams]]; permutation q is x ↦ (as(q)·x + bs(q)) mod [[P]]. */
  def polyMinHashGrams(a: ArrayData, n: Int, as: Array[Long], bs: Array[Long]): ArrayData = {
    val (h, pw) = tokenHashes(a)
    val out = Array.fill(as.length)(Long.MaxValue)
    var run = 0 // non-NULL tokens ending at i
    var i = 0
    while (i < h.length) {
      run = if (a.isNullAt(i)) 0 else run + 1
      if (run >= n) {
        val g = gramHash(h, pw, i - n + 1, n)
        var q = 0
        while (q < out.length) {
          val x = (g * as(q) + bs(q)) % P
          if (x < out(q)) out(q) = x
          q += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[SimHash30]]. */
  def simHash30(a: ArrayData): Long = {
    val n = a.numElements()
    val seen = new java.util.HashSet[UTF8String](n * 2)
    val counts = new Array[Int](30)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        if (seen.add(s)) {
          val h = polyHash(s.toString)
          var k = 0
          while (k < 30) {
            counts(k) += (if (((h >> k) & 1L) != 0L) 1 else -1)
            k += 1
          }
        }
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 30) { if (counts(k) > 0) out |= (1L << k); k += 1 }
    out
  }

  /** See [[MaxFreq]]. */
  def maxFreq(a: ArrayData): Int = {
    val counts = new java.util.HashMap[UTF8String, Integer](a.numElements() * 2)
    var best = 0
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) {
        val c = counts.merge(a.getUTF8String(i), 1, (x: Integer, y: Integer) => x + y)
        if (c > best) best = c.intValue()
      }
      i += 1
    }
    best
  }

  /** See [[MaxFreqLong]]. */
  def maxFreqLong(a: ArrayData): Int = {
    val counts = new java.util.HashMap[java.lang.Long, Integer](a.numElements() * 2)
    var best = 0
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) {
        val c = counts.merge(a.getLong(i), 1, (x: Integer, y: Integer) => x + y)
        if (c > best) best = c.intValue()
      }
      i += 1
    }
    best
  }

  /** See [[GramHashes]]. */
  def gramHashes(a: ArrayData, n: Int): ArrayData = {
    val len = a.numElements()
    val th = new Array[Long](len)
    var i = 0
    while (i < len) {
      th(i) =
        if (a.isNullAt(i)) 42L
        else {
          val s = a.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        }
      i += 1
    }
    val out = new Array[Long](math.max(len - (n - 1), 0))
    i = 0
    while (i < out.length) {
      var acc = th(i)
      var j = 1
      while (j < n) { acc = XXH64.hashLong(th(i + j), XXH64.hashLong(acc, 42L)); j += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[DupGramCounts]]. */
  def dupGramCounts(a: ArrayData, n: Int): InternalRow = {
    val m = a.numElements()
    var dupOcc = 0L
    var covered = 0L
    if (m > 0) {
      val g = a.toLongArray()
      val srt = java.util.Arrays.copyOf(g, m)
      java.util.Arrays.sort(srt)
      // compact the sorted array down to its duplicated values
      var d = 0
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m && srt(j) == srt(i)) j += 1
        if (j - i >= 2) { srt(d) = srt(i); d += 1 }
        i = j
      }
      var lastEnd = 0L
      var k = 0
      while (k < m) {
        if (d > 0 && java.util.Arrays.binarySearch(srt, 0, d, g(k)) >= 0) {
          dupOcc += 1
          val end = k + n.toLong
          val from = math.max(lastEnd, k.toLong)
          if (end > from) covered += end - from
          if (end > lastEnd) lastEnd = end
        }
        k += 1
      }
    }
    InternalRow(dupOcc, covered)
  }

  /** See [[WinnowMins]]. */
  def winnowMins(a: ArrayData, k: Int, window: Int): ArrayData = {
    val (h, pw) = tokenHashes(a)
    val grams = h.length - (k - 1)
    if (grams < window) return new GenericArrayData(Array.emptyLongArray)
    val g = new Array[Long](grams)
    var i = 0
    while (i < grams) { g(i) = gramHash(h, pw, i, k); i += 1 }
    val mins = new Array[Long](grams - window + 1)
    i = 0
    while (i < mins.length) {
      var m = g(i)
      var j = 1
      while (j < window) { if (g(i + j) < m) m = g(i + j); j += 1 }
      mins(i) = m
      i += 1
    }
    java.util.Arrays.sort(mins)
    var d = 0
    i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(d) = mins(i); d += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, d))
  }

  /** See [[GreedyChunkIndices]]. */
  def greedyChunkIndices(w: ArrayData, budget: Long): ArrayData = {
    val out = new Array[Long](w.numElements())
    var cnt = 0L; var idx = 0L; var i = 0
    while (i < out.length) {
      val p = if (w.isNullAt(i)) 0L else w.getLong(i)
      if (cnt > 0L && cnt + p > budget) { idx += 1L; cnt = 0L }
      cnt += p
      out(i) = idx
      i += 1
    }
    new GenericArrayData(out)
  }

  /** See [[PackInt8]]. */
  def packInt8(a: ArrayData): Array[Byte] = {
    val out = new Array[Byte](a.numElements())
    var i = 0
    while (i < out.length) {
      val x = if (a.isNullAt(i)) 0L else a.getLong(i)
      out(i) = math.max(-127L, math.min(127L, x)).toByte
      i += 1
    }
    out
  }

  /** See [[BinaryDot]]. */
  def binaryDot(x: Array[Byte], y: Array[Byte]): Double = {
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"graft_binary_dot: vector lengths differ: ${x.length} and ${y.length}")
    var s = 0L
    var i = 0
    while (i < x.length) { s += x(i).toLong * y(i).toLong; i += 1 }
    s.toDouble
  }

  /** See [[ConcatExcludingPositions]]. */
  def concatExcluding(toks: ArrayData, ex: ArrayData): UTF8String = {
    val n = toks.numElements(); val m = ex.numElements()
    val kept = new java.util.ArrayList[UTF8String](n)
    var i = 0; var j = 0
    while (i < n) {
      while (j < m && (ex.isNullAt(j) || ex.getInt(j) < i)) j += 1
      val drop = j < m && ex.getInt(j) == i
      if (!drop && !toks.isNullAt(i)) kept.add(toks.getUTF8String(i))
      i += 1
    }
    UTF8String.concatWs(Space, kept.toArray(new Array[UTF8String](kept.size)): _*)
  }

  /** See [[NormalizeNfc]]. */
  def normalizeNfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** See [[CharBigramStats]]. */
  def charBigramStats(s: UTF8String): InternalRow = {
    val str = s.toString
    val m = str.length - 1
    var d = 0L
    var sum = 0.0
    if (m > 0) {
      val codes = new Array[Long](m)
      var i = 0
      while (i < m) {
        codes(i) = (str.charAt(i).toLong << 16) | str.charAt(i + 1).toLong
        i += 1
      }
      java.util.Arrays.sort(codes)
      var k = 0
      while (k < m) {
        var j = k + 1
        while (j < m && codes(j) == codes(k)) j += 1
        d += 1
        val c = (j - k).toDouble
        sum += c * math.log(c)
        k = j
      }
    }
    InternalRow(math.max(m, 0).toLong, d, sum)
  }
}

/** Dot product of two `array<double>` columns as a tight primitive
  * loop. Fold order is ascending index — that of
  * `aggregate(zip_with(...))` and DuckDB's `list_sum`, so on vectors of
  * one length without NULL elements the result is bit-for-bit the
  * composed form's. Where that form reads NULL — lengths that differ,
  * or a NULL element — this raises an error naming the lengths or the
  * element's index, never a truncated sum.
  */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.doubleDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.doubleDot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DoubleDot =
    copy(left = l, right = r)
}

/** Intersection size of two SORTED `array<bigint>` columns as a
  * codegen'd merge walk — no per-call hash set, no intermediate
  * array, primitive access only. Spark's `array_intersect` builds a
  * hash set per invocation; in a similarity join the intersection
  * runs once per candidate PAIR, so the allocation cost multiplies
  * by the pair count. Inputs must be sorted ascending and
  * duplicate-free (`array_sort(array_distinct(...))` — or
  * `array_sort` of already-distinct shingle hashes); the walk skips
  * null element slots rather than reading undefined data (the
  * expression is exposed to arbitrary SQL as
  * `graft_sorted_intersect`, which cannot guarantee non-null
  * elements the way the internal call sites do).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** k-permutation MinHash signature of an `array<long>` shingle-hash
  * column as one tight loop — BIT-IDENTICAL to the
  * `aggregate(zip_with(...least(m, xxhash64(i, s))))` fold it
  * replaces (same XXH64 chain: seed 42 → hashInt(permutation index)
  * → hashLong(shingle)), so signatures interoperate with every
  * persisted band index. The fold form runs interpreted and
  * allocates a fresh k-long accumulator array per ELEMENT
  * (O(n·k) allocations); this is k seeds precomputed once and
  * n·k primitive hash evaluations, zero allocation. Empty input →
  * all-MaxValue signature (the fold's init), null slots skipped.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // XXH64 chain prefix: xxhash64(i, s) hashes the INT index into the
  // default seed 42, then the LONG shingle into that.
  @transient private lazy val seeds: Array[Long] = Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(v: Any): Any = Kernels.minHashSig(v.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.minHashSig($a, $seedsRef)")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Universal-hash MinHash over word n-GRAMS of a token array,
  * without ever materializing the gram strings: per gram the 31-base
  * polynomial hash over its UTF-16 code units mod p = 1e9+7, then k
  * affine permutations h_i = (a_i·H + b_i) mod p with a running
  * minimum. Two exact algebraic facts make this bit-identical to the
  * universal MinHash of `array_distinct(ngrams(tokens, n))`'s strings:
  *
  *   1. the polynomial composes over concatenation —
  *      H(a ++ b) = H(a)·31^|b| + H(b) (mod p) — so each gram's hash
  *      is assembled from per-token (hash, 31^length) pairs computed
  *      ONCE, with the joining space contributing `acc·31 + 32`;
  *   2. a minimum is multiplicity-blind, so the `array_distinct` the
  *      string form needs (to bound the per-gram work) changes no
  *      signature component and is simply dropped.
  *
  * A gram holding a NULL token is skipped; no gram at all gives all
  * `Long.MaxValue`. At n = 1 each gram is one element, so this is the
  * universal MinHash of a string array ([[Native.polyMinHash]]).
  */
case class PolyMinHashGrams(child: Expression, n: Int, k: Int,
                            params: Seq[(Long, Long)]) extends UnaryExpression {

  require(n > 0 && k > 0 && params.length == k)

  @transient private lazy val as: Array[Long] = params.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = params.map(_._2).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    Kernels.polyMinHashGrams(v.asInstanceOf[ArrayData], n, as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("pmhgA", as, "long[]")
    val bsRef = ctx.addReferenceObj("pmhgB", bs, "long[]")
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.polyMinHashGrams($a, $n, $asRef, $bsRef)")
  }

  override protected def withNewChildInternal(c: Expression): PolyMinHashGrams =
    copy(child = c)
}

/** 30-bit SimHash of a token array in one pass — bit-identical to
  * the composed `aggregate(transform(array_distinct(tokens), poly),
  * ±1 bit-vector fold)` form: distinctness is EXACT (a string hash
  * set, matching array_distinct — deduping on the polynomial value
  * instead would merge mod-1e9+7 colliding tokens and flip majority
  * counts), the per-token hash is the same 31-base polynomial over
  * UTF-16 code units, and ±1 bit sums are order-blind. The composed
  * form allocated a 30-long accumulator array per TOKEN under
  * interpreted HOF dispatch.
  */
case class SimHash30(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = Kernels.simHash30(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.simHash30($a)")

  override protected def withNewChildInternal(c: Expression): SimHash30 =
    copy(child = c)
}

/** Highest element frequency of an `array<string>` column — the
  * kernel of the Gopher top-n-gram repetition filter: one hash-count
  * pass per row (O(n)), replacing an interpreted sort + run-length
  * fold. Null slots are skipped; empty input → 0.
  */
case class MaxFreq(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any = Kernels.maxFreq(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.maxFreq($a)")

  override protected def withNewChildInternal(c: Expression): MaxFreq =
    copy(child = c)
}

/** Highest element frequency of a `array<bigint>` column — the
  * long-keyed sibling of [[MaxFreq]], for callers that count gram
  * HASHES instead of materializing gram strings (equal counts up to
  * the ~2⁻⁶⁴ xxhash64 collision rate, the same accepted trade as
  * `shingleHashes`).
  */
case class MaxFreqLong(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(v: Any): Any = Kernels.maxFreqLong(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.maxFreqLong($a)")

  override protected def withNewChildInternal(c: Expression): MaxFreqLong =
    copy(child = c)
}

/** Positional n-gram hashes of a token array as one primitive loop:
  * element i is the rolling xxhash64 of tokens [i, i+n) — BIT-
  * IDENTICAL to the `transform(tokens, xxhash64)` + n-way
  * slice/zip_with chain it replaces (per-token `hashUnsafeBytes`
  * seed 42, then left-fold `hashLong(next, hashLong(acc, 42))` —
  * exactly Spark's two-arg `xxhash64`), so every persisted signature
  * and band index built by the composed form keeps matching. The
  * composed form ran n interpreted zip_with passes allocating n−1
  * intermediate arrays per document; this is one pass, one output
  * array, and each token's bytes are hashed once instead of being
  * re-walked per overlapping gram.
  */
case class GramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n > 0, "gram size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = Kernels.gramHashes(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.gramHashes($a, $n)")

  override protected def withNewChildInternal(c: Expression): GramHashes =
    copy(child = c)
}

/** Within-document duplicated-gram counts in one pass over the
  * positional gram-hash array: returns
  * `struct(dup_occ, covered)` where `dup_occ` is the number of gram
  * OCCURRENCES whose hash appears ≥ 2 times in the document, and
  * `covered` is the number of token positions lying under at least
  * one such occurrence (each gram at 0-based slot i covers 1-based
  * tokens i+1 .. i+n). Replaces the composed
  * `sort_array + zip_with + transform(array_contains) +
  * filter(sequence, exists(slice))` chain, which ran INTERPRETED
  * (higher-order functions have no codegen) and allocated one slice
  * per token position — O(tokens × n) allocations per row. Here:
  * one sort (O(m log m)), one binary search per gram, and an
  * interval-union walk for coverage — zero per-element allocation,
  * inside whole-stage codegen. Values are identical by construction
  * (same hash array in, same duplicated-set definition).
  */
case class DupGramCounts(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "gram size must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("dup_occ", LongType, nullable = false),
    StructField("covered", LongType, nullable = false)))

  override def nullSafeEval(v: Any): Any = Kernels.dupGramCounts(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.dupGramCounts($a, $n)")

  override protected def withNewChildInternal(c: Expression): DupGramCounts =
    copy(child = c)
}

/** Spark's `lower` / `upper` as one kernel for `eval` and the
  * generated code. Spark 4.1 sends both to `CollationSupport.Lower` /
  * `Upper`; with `spark.sql.icu.caseMappings.enabled` (the default)
  * those call `CollationAwareUTF8String`, whose static initializer
  * title-cases every code point (1.6–1.7 s of one core and 3.2 GB of
  * short-lived garbage per JVM on a 4-vCPU host) before its own ASCII
  * check runs. Here UTF8_BINARY text that is all ASCII maps with
  * `toLowerCaseAscii` / `toUpperCaseAscii`, which is what both of
  * Spark's paths return for it, and any other input goes to the
  * function Spark's `Lower` / `Upper` call, with the same collation
  * and ICU flag.
  */
object CaseMapping {

  private val Binary = CollationFactory.UTF8_BINARY_COLLATION_ID

  def lower(v: UTF8String, collationId: Int, useICU: Boolean): UTF8String =
    if (collationId == Binary && v.isFullAscii) v.toLowerCaseAscii
    else CollationSupport.Lower.exec(v, collationId, useICU)

  def upper(v: UTF8String, collationId: Int, useICU: Boolean): UTF8String =
    if (collationId == Binary && v.isFullAscii) v.toUpperCaseAscii
    else CollationSupport.Upper.exec(v, collationId, useICU)
}

/** `lower(child)` or `upper(child)` over [[CaseMapping]]: the same
  * input types, result type, name and bytes as Spark's `Lower` /
  * `Upper`, which read the collation and the ICU flag as these lazy
  * vals do. Spark's optimizer folds its own `lower(upper(x))` to
  * `lower(x)`, which differs on non-ASCII text (ß → SS → ss); it does
  * not fold these, which compute the composition as written.
  */
case class CaseMap(child: Expression, toUpper: Boolean)
    extends UnaryExpression with String2StringExpression {

  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def prettyName: String = if (toUpper) "upper" else "lower"

  override def nullIntolerant: Boolean = true

  override def convert(v: UTF8String): UTF8String =
    if (toUpper) CaseMapping.upper(v, collationId, useICU)
    else CaseMapping.lower(v, collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CaseMapping.$prettyName($c, $collationId, $useICU)")

  override protected def withNewChildInternal(c: Expression): CaseMap = copy(child = c)
}

/** The byte scans behind [[WsTokens]] and [[TextStats]]. Whitespace
  * is exactly Java regex `\s` = [ \t\n\x0B\f\r], all ASCII, and an
  * ASCII byte never occurs inside a multi-byte UTF-8 sequence, so a
  * token is a maximal run of non-whitespace BYTES and needs no decode.
  * Code-point counts need well-formed input: an ill-formed sequence
  * (what Java's decoder replaces with U+FFFD) sends the affected
  * count down the decoding path the composed forms take.
  */
object TextScan {

  private val WsRegex = UTF8String.fromString("\\s+")

  /** `b` an unsigned byte. */
  @inline private def isSpace(b: Int): Boolean = b == 32 || (b >= 9 && b <= 13)

  @inline private def byteAt(base: AnyRef, off: Long, i: Int): Int =
    org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xff

  /** Byte length of the well-formed sequence whose lead byte (≥ 0x80)
    * is at `i`, or 0 if ill-formed (Unicode Table 3-7: no overlongs,
    * surrogates or code points past U+10FFFF — exactly what Java's
    * UTF-8 decoder accepts).
    */
  def seqLen(base: AnyRef, off: Long, i: Int, n: Int): Int = {
    val b0 = byteAt(base, off, i)
    def cont(j: Int, lo: Int, hi: Int): Boolean =
      i + j < n && { val c = byteAt(base, off, i + j); c >= lo && c <= hi }
    if (b0 >= 0xc2 && b0 <= 0xdf) { if (cont(1, 0x80, 0xbf)) 2 else 0 }
    else if (b0 >= 0xe0 && b0 <= 0xef) {
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      if (cont(1, lo, hi) && cont(2, 0x80, 0xbf)) 3 else 0
    } else if (b0 >= 0xf0 && b0 <= 0xf4) {
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      if (cont(1, lo, hi) && cont(2, 0x80, 0xbf) && cont(3, 0x80, 0xbf)) 4 else 0
    } else 0
  }

  /** Whitespace tokens of `s`, as `filter(split(s, "\\s+"), length > 0)`
    * computes them: views into `s`'s bytes, no copy. Ill-formed input
    * takes that regex split, whose decode replaces malformed bytes.
    */
  def wsTokens(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var count = 0
    var inToken = false
    var i = 0
    while (i < n) {
      val b = byteAt(base, off, i)
      if (isSpace(b)) { inToken = false; i += 1 }
      else {
        if (!inToken) { inToken = true; count += 1 }
        if (b < 0x80) i += 1
        else {
          val w = seqLen(base, off, i, n)
          if (w == 0)
            return new GenericArrayData(s.split(WsRegex, -1).filter(_.numBytes > 0).toSeq)
          i += w
        }
      }
    }
    val out = new Array[Any](count)
    var k = 0
    var start = -1
    i = 0
    while (i <= n) {
      if (i == n || isSpace(byteAt(base, off, i))) {
        if (start >= 0) {
          out(k) = UTF8String.fromAddress(base, off + start, i - start)
          k += 1
          start = -1
        }
      } else if (start < 0) start = i
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Code points of `s` as Java decodes it (malformed bytes → U+FFFD). */
  private def decodedLength(s: UTF8String): Int = {
    val str = s.toString
    str.codePointCount(0, str.length)
  }

  /** [[TextStats]]' counts of `text`. Letters and punctuation are
    * those of Spark's `lower(text)`: read off `text`'s own bytes when
    * it is ASCII, whose lower-case form has the same letters, digits
    * and spaces, else off [[CaseMapping.lower]] under `useICU`.
    */
  def stats(text: UTF8String, useICU: Boolean, stops: StopwordTable): InternalRow = {
    val hits = new Array[Int](stops.numSets)
    var base = text.getBaseObject
    var off = text.getBaseOffset
    var n = text.numBytes
    var chars = 0
    var spaces = 0
    var tokens = 0
    var letters = 0
    var digits = 0
    var ascii = true
    var valid = true
    var start = -1
    var i = 0
    while (i <= n) {
      val b = if (i == n) 32 else byteAt(base, off, i)
      if (isSpace(b)) {
        if (start >= 0) {
          tokens += 1
          stops.count(base, off + start, i - start, hits)
          start = -1
        }
        if (i < n) { spaces += 1; chars += 1 }
        i += 1
      } else {
        if (start < 0) start = i
        if (b < 0x80) {
          val folded = b | 0x20
          if (folded >= 'a' && folded <= 'z') letters += 1
          else if (b >= '0' && b <= '9') digits += 1
          chars += 1
          i += 1
        } else {
          ascii = false
          val w = seqLen(base, off, i, n)
          if (w == 0) { valid = false; i += 1 } else { chars += 1; i += w }
        }
      }
    }
    val codePoints = if (valid) chars else decodedLength(text)
    // Spark's length(): code points of well-formed text, its own
    // lead-byte walk otherwise
    val length = if (valid) chars else text.numChars()
    var alpha = letters
    var alnumSpace = letters + digits + spaces
    var lowerCodePoints = n
    if (!ascii) {
      val lower = CaseMapping.lower(text, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)
      base = lower.getBaseObject
      off = lower.getBaseOffset
      n = lower.numBytes
      var lowerChars = 0
      var lowerValid = true
      alpha = 0
      alnumSpace = 0
      i = 0
      while (i < n) {
        val b = byteAt(base, off, i)
        if (b < 0x80) {
          if (b >= 'a' && b <= 'z') { alpha += 1; alnumSpace += 1 }
          else if ((b >= '0' && b <= '9') || isSpace(b)) alnumSpace += 1
          lowerChars += 1
          i += 1
        } else {
          val w = seqLen(base, off, i, n)
          if (w == 0) { lowerValid = false; i += 1 } else { lowerChars += 1; i += w }
        }
      }
      lowerCodePoints = if (lowerValid) lowerChars else decodedLength(lower)
    }
    val row = new Array[Any](5 + hits.length)
    row(0) = length
    row(1) = alpha
    row(2) = lowerCodePoints - alnumSpace
    row(3) = codePoints - spaces
    row(4) = tokens
    var j = 0
    while (j < hits.length) { row(5 + j) = hits(j); j += 1 }
    new GenericInternalRow(row)
  }
}

/** Stopword sets for [[TextStats]] as UTF-8 byte strings; bit j of a
  * word's mask says it belongs to set j.
  */
final class StopwordTable(sets: Seq[Seq[String]]) extends Serializable {
  require(sets.size <= 32, s"at most 32 stopword sets, got ${sets.size}")

  val numSets: Int = sets.size

  private val (words, masks) = {
    val byWord = sets.zipWithIndex
      .flatMap { case (set, j) => set.map(_ -> (1 << j)) }
      .groupMapReduce(_._1)(_._2)(_ | _).toArray
    (byWord.map(_._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)), byWord.map(_._2))
  }

  /** Adds the token at `(base, addr, len)` to the hit count of every
    * set holding it.
    */
  def count(base: AnyRef, addr: Long, len: Int, hits: Array[Int]): Unit = {
    var w = 0
    while (w < words.length) {
      if (words(w).length == len &&
          org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(base, addr,
            words(w), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len)) {
        var m = masks(w)
        var j = 0
        while (m != 0) {
          if ((m & 1) != 0) hits(j) += 1
          m >>>= 1
          j += 1
        }
        return
      }
      w += 1
    }
  }

  override def toString: String = s"StopwordTable(${sets.size} sets)"
}

/** Whitespace tokens of a string: `filter(split(text, "\\s+"),
  * length > 0)` as one byte scan (see [[TextScan]]) instead of a regex
  * split plus an interpreted lambda. The tokens are views into the
  * input's bytes; ill-formed UTF-8 takes the regex split, so the result
  * is the composed form's, always.
  */
case class WsTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = TextScan.wsTokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextScan.wsTokens($c)")

  override protected def withNewChildInternal(c: Expression): WsTokens = copy(child = c)
}

/** Per-document text counts in one pass over the text, plus one over
  * its lower-case form when the text is not ASCII (see
  * [[TextScan.stats]]). Case mapping is Spark's `lower(text)` under
  * the session's `spark.sql.icu.caseMappings.enabled`, read as Spark's
  * `Lower` reads it, so İ → i̇ and the Kelvin sign → k as there. A
  * struct of ints:
  *
  *  - `chars`: `length(text)`;
  *  - `alpha`: `length(regexp_replace(lower(text), "[^a-z]", ""))`;
  *  - `punct`: `length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))`;
  *  - `nonspace`: `length(regexp_replace(text, "\\s", ""))`;
  *  - `tokens`: the whitespace-token count, `size(wsTokens(text))`;
  *  - `stop_<name>`: how many of those tokens set `name` holds.
  *
  * Each equals the composed expression it names on every input, so
  * ratios built from these fields by the same casts and divisions are
  * bit-identical to the composed ones.
  */
case class TextStats(child: Expression, stopSets: Seq[(String, Seq[String])])
    extends UnaryExpression {

  @transient private lazy val table = new StopwordTable(stopSets.map(_._2))
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, stopSets.map(_._1).mkString("stop sets ", ",", ""))

  override def dataType: DataType = StructType(
    (Seq("chars", "alpha", "punct", "nonspace", "tokens") ++ stopSets.map("stop_" + _._1))
      .map(StructField(_, IntegerType, nullable = false)))

  override def nullSafeEval(t: Any): Any =
    TextScan.stats(t.asInstanceOf[UTF8String], useICU, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", table, classOf[StopwordTable].getName)
    defineCodeGen(ctx, ev, t => s"graft.functions.TextScan.stats($t, $useICU, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): TextStats = copy(child = c)
}

/** Winnowing fingerprint selection (Schleimer et al. SIGMOD'03) in
  * one pass: per-token 31-base polynomial hashes (the PolyMinHashGrams
  * composition — gram strings never materialize), k-gram hashes with
  * the ' ' (32) separator, minimum of every `window` consecutive gram
  * hashes, distinct, sorted ascending. Replaces the composed
  * `transform(ngrams, aggregate-poly)` + `transform(sequence,
  * array_min(slice))` form, which was interpreted end-to-end and
  * allocated one window slice per position. Fingerprint VALUES are
  * identical (same polynomial, same window minima; distinct-set
  * equality — the composed form's first-occurrence order is
  * irrelevant because callers explode the set into rows).
  * Documents with fewer than `window` grams emit an empty array,
  * matching the composed form's guard.
  */
case class WinnowMins(child: Expression, k: Int, window: Int)
    extends UnaryExpression {

  require(k > 0 && window > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    Kernels.winnowMins(v.asInstanceOf[ArrayData], k, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.winnowMins($a, $k, $window)")

  override protected def withNewChildInternal(c: Expression): WinnowMins =
    copy(child = c)
}

/** Greedy bin-packing indices: given per-item weights and a budget,
  * assign each item (in order) the index of the chunk it falls into —
  * a new chunk starts whenever adding the item would exceed the
  * budget. The sequential-state loop no window or HOF expresses
  * without quadratic array copying; here it is one codegen'd linear
  * pass per row. An item heavier than the whole budget gets a chunk
  * of its own (the only case a chunk exceeds the budget). Null weight
  * slots count 0.
  */
case class GreedyChunkIndices(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(w: Any, b: Any): Any =
    Kernels.greedyChunkIndices(w.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, b) => s"graft.functions.Kernels.greedyChunkIndices($w, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GreedyChunkIndices =
    copy(left = l, right = r)
}

/** Pack an `array<long>` of int8-range values into a BINARY column,
  * one signed byte per element (clamped to [-127, 127]). This is the
  * serving layout of the quantized ANN index: parquet stores a
  * tinyint physically as an annotated int32, so an int8 vector kept
  * as an array column is no smaller than float32 — a packed binary is
  * genuinely `dim` bytes per vector, the 8× saving the int8 story
  * promises. Unpack-free consumption via `BinaryDot`.
  */
case class PackInt8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullSafeEval(v: Any): Any = Kernels.packInt8(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.Kernels.packInt8($a)")

  override protected def withNewChildInternal(c: Expression): PackInt8 =
    copy(child = c)
}

/** Dot product of two packed-int8 BINARY vectors (see `PackInt8`) as
  * a tight signed-byte loop — the hot scan kernel of the quantized
  * ANN index. Sums in a long (max |dim × 127²| ≈ 1.2e7 at dim 768,
  * nowhere near overflow) and returns double for direct use in the
  * approximate-cosine formula. Vectors of different lengths raise an
  * error naming both lengths.
  */
case class BinaryDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.binaryDot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.binaryDot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BinaryDot =
    copy(left = l, right = r)
}

/** Space-join the tokens whose positions are NOT in a SORTED excluded
  * list — the rebuild step of substring-level dedup
  * (`Dedup.stripDuplicateSpans`). One merge walk: pointer `i` over
  * tokens, pointer `j` over the excluded positions, so the cost is
  * O(tokens + excluded) per document. The `array_contains`-per-token
  * form this replaces re-scanned the excluded set for every token —
  * O(tokens × excluded), quadratic on a long fully-duplicated doc
  * (exactly the shape mass-boilerplate corpora produce). Excluded
  * positions must be sorted ascending (`array_sort`); null token
  * slots and null/out-of-range excluded entries are skipped.
  */
case class ConcatExcludingPositions(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(t: Any, e: Any): Any =
    Kernels.concatExcluding(t.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, e) => s"graft.functions.Kernels.concatExcluding($t, $e)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ConcatExcludingPositions =
    copy(left = l, right = r)
}

/** Bounded top-k aggregate over (score, id) pairs.
  *
  * The scale story: computing per-group top-k with a window function
  * ranks EVERY row (full sort of each partition after a shuffle of
  * every scored row). This aggregate keeps a k-element heap per
  * group and participates in partial aggregation — each map task
  * ships at most k pairs per group, so the shuffle is O(groups × k)
  * regardless of corpus size. That is the difference between an ANN
  * scan that works at 100 TB and one that sorts 100 TB.
  *
  * Output: `array<struct<score double, id bigint>>`, score
  * descending, ties broken by ascending id (deterministic).
  */
case class TopKPairs(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "k must be positive")

  // Max-heap on (-score, id): the head is the WORST kept pair
  // (lowest score; among ties, the largest id), popped when full.
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by((t: (Double, Long)) => (-t._1, t._2))

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      buf.enqueue((s.asInstanceOf[Double], i.asInstanceOf[Long]))
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { t =>
      buf.enqueue(t)
      if (buf.size > k) buf.dequeue()
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toSeq.sortBy(t => (-t._1, t._2))
    new GenericArrayData(sorted.map(t =>
      InternalRow(t._1, t._2): Any).toArray)
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { t => bb.putDouble(t._1); bb.putLong(t._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)

  override def withNewMutableAggBufferOffset(offset: Int): TopKPairs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKPairs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

/** Misra–Gries frequent-items sketch over a string column (Misra &
  * Gries 1982, "Finding repeated elements"; merge rule from Agarwal
  * et al. 2012, "Mergeable summaries").
  *
  * The scale story: exact token frequencies over a 100 TB corpus
  * shuffle one row per DISTINCT token — fine for a closed vocabulary,
  * unbounded for open web text (URLs, ids, typos make the vocabulary
  * grow with the corpus). This aggregate keeps at most `k` counters
  * per partial buffer, so the shuffle is O(partitions × k) no matter
  * the vocabulary, and it participates in partial aggregation like
  * any built-in. Guarantee: every item with true frequency
  * > N/(k+1) survives to the final buffer, and each kept counter
  * undercounts by at most N/(k+1) — a candidate set, not final
  * counts, which is why `HeavyHitters.frequentTokens` recounts the
  * survivors exactly (two bounded passes ⇒ exact answer, oracled).
  *
  * Output: `array<struct<token string, cnt long>>`, estimated count
  * descending, ties by token ascending (deterministic; counts are
  * the sketch's lower-bound estimates).
  */
case class MisraGriesTokens(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, "k must be positive")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val t = v.toString
      buf.get(t) match {
        case Some(c) => buf.update(t, c + 1)
        case None if buf.size < k => buf.update(t, 1L)
        case None =>
          // Full and unseen: decrement every counter (the classic MG
          // step — equivalent to discarding one occurrence of each of
          // k+1 distinct items), dropping zeros to free a slot.
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (key, c) => if (c <= 0) dead += key }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (t, c) =>
      buf.update(t, buf.getOrElse(t, 0L) + c)
    }
    if (buf.size > k) {
      // Mergeable-summaries rule: subtract the (k+1)-th largest
      // count from every counter, keep strictly-positive ones —
      // at most k survive and the error bound telescopes.
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val v = counts(counts.length - k - 1)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, c) => c - v)
      buf.foreach { case (key, c) => if (c <= 0) dead += key }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toSeq.sortBy { case (t, c) => (-c, t) }
    new GenericArrayData(sorted.map { case (t, c) =>
      InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(t), c): Any
    }.toArray)
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesTokens =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesTokens =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesTokens =
    copy(child = newChildren(0))
}

/** Count-Min sketch (Cormode & Muthukrishnan 2005) over PRE-HASHED
  * long keys: a depth×width counter matrix; each key increments one
  * bucket per row via an independent affine rehash of its input
  * hash, a point query reads the MINIMUM of its depth buckets. The
  * complement of [[MisraGriesTokens]]: MG tracks the top-k identities
  * in O(k) state, CMS answers a frequency estimate for ANY key —
  * including keys chosen after the scan — in O(depth·width) state,
  * and never undercounts (estimate ≥ true count; over by ≤ εN with
  * ε = e/width at probability 1 − e^−depth).
  *
  * Takes the key pre-hashed (e.g. `TextAnalysis.fingerprint`, the
  * 31-base polynomial both engines can compute) so the bucket
  * mapping `((h·a_i + b_i) mod P) mod width` is pure integer
  * arithmetic — partials merge by elementwise ADD (exact, order
  * independent), making the finished sketch BIT-IDENTICAL on any
  * engine/partitioning and therefore fully oracle-able, unusual for
  * a sketch. Buffer is depth·width longs regardless of input size;
  * partial aggregation ships one such array per map task.
  */
case class CountMinLongs(
    child: Expression,
    width: Int,
    depth: Int,
    seeds: Seq[(Long, Long)],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(width > 0 && depth > 0 && seeds.length == depth,
    "need width > 0 and one (a,b) seed pair per depth row")

  private val P = Kernels.P
  @transient private lazy val as: Array[Long] = seeds.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = seeds.map(_._2).toArray

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long] % P
      var i = 0
      while (i < depth) {
        // floorMod: a negative input hash must land in [0, width)
        val x = java.lang.Math.floorMod(
          java.lang.Math.floorMod(h * as(i) + bs(i), P), width.toLong).toInt
        buf(i * width + x) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.asLongBuffer().put(buf)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def withNewMutableAggBufferOffset(offset: Int): CountMinLongs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CountMinLongs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinLongs =
    copy(child = newChildren(0))
}

/** Unicode NFC normalization of a string column.
  *
  * Spark ships no Unicode normalizer, yet content-hash dedup and
  * exact contamination checks are silently wrong without one: "é"
  * composed (U+00E9) and "e" + combining acute (U+0301) are
  * byte-different — hash-different — renderings of the same text, so
  * un-normalized corpora under-deduplicate. Canonical composition
  * (NFC) is the standard pre-hash canonicalization. Implementation
  * is the JDK's `java.text.Normalizer` (Unicode-conformant, the same
  * canonical composition DuckDB's `nfc_normalize` implements, which
  * makes the expression fully cross-engine oracle-able). The
  * fast-path check `Normalizer.isNormalized` skips allocation for
  * already-NFC text — the overwhelming case in real corpora.
  */
case class NormalizeNfc(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any = Kernels.normalizeNfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.normalizeNfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeNfc =
    copy(child = newChild)
}

/** Per-row character-bigram statistics for Shannon-entropy quality
  * signals: struct<n_grams, n_distinct, clogc> where clogc =
  * Σ c·ln c over the bigram counts — the caller derives entropy as
  * ln(n) − clogc/n (gibberish and encoding junk score far from
  * natural text; keyboard-mash has high entropy, "aaaa…" zero).
  *
  * One pass per row, ZERO shuffle at any corpus size: each bigram
  * packs into a long (two UTF-16 units), counting is sort + run-scan
  * over a primitive array — no hash map, no boxing, and no
  * explode-groupBy(doc, gram), which would shuffle O(chars) rows. Σ accumulates in ascending-run order (sorted codes), so the
  * result is partition- and input-order-independent. UTF-16-unit
  * bigrams coincide with code-point bigrams for all BMP text (the
  * whole synthetic corpus and virtually all real text).
  */
case class CharBigramStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("clogc", DoubleType, nullable = false)))

  override def nullSafeEval(v: Any): Any = Kernels.charBigramStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.charBigramStats($c)")

  override protected def withNewChildInternal(newChild: Expression): CharBigramStats =
    copy(child = newChild)
}

/** Mutable accumulator for [[VectorMoments]]: count, per-dimension
  * sums, and the upper triangle of the cross-product matrix.
  */
final class MomentsBuf(var n: Long, var sum: Array[Double], var ss: Array[Double]) {
  def init(d: Int): Unit = {
    sum = new Array[Double](d)
    ss = new Array[Double](d * (d + 1) / 2)
  }
}

/** Single-pass mean + covariance of a vector column.
  *
  * The scale story: the covariance matrix of an embedding corpus is
  * the input to whitening, drift monitoring, and PCA-style
  * compaction — but computing it by exploding (vector, dim) pairs
  * and self-joining shuffles O(rows × d²) values. This aggregate
  * carries ONE buffer of d + d(d+1)/2 doubles per partition (64-dim
  * ⇒ ~17 KB), participates in partial aggregation, and ships
  * O(partitions × d²) bytes total — corpus-size-independent, the
  * same mergeable-summary shape as the HLL/Misra-Gries sketches.
  *
  * Output: struct<n bigint, means array<double>,
  * pairs array<struct<i int, j int, cov double>>> with `pairs` the
  * upper triangle (i ≤ j) of the POPULATION covariance, row-major,
  * cov(i,j) = Σxy/n − x̄ȳ. Null vectors are skipped; a dimension
  * mismatch throws (silently truncating would corrupt every moment).
  */
case class VectorMoments(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentsBuf] {

  override def createAggregationBuffer(): MomentsBuf =
    new MomentsBuf(0L, null, null)

  override def update(buf: MomentsBuf, input: InternalRow): MomentsBuf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val d = a.numElements()
      if (buf.sum == null) buf.init(d)
      require(buf.sum.length == d,
        s"vectorMoments: dimension mismatch (${buf.sum.length} vs $d)")
      val x = new Array[Double](d)
      var i = 0
      while (i < d) {
        require(!a.isNullAt(i), "vectorMoments: null vector element")
        x(i) = a.getDouble(i); i += 1
      }
      var k = 0
      i = 0
      while (i < d) {
        buf.sum(i) += x(i)
        var j = i
        while (j < d) { buf.ss(k) += x(i) * x(j); k += 1; j += 1 }
        i += 1
      }
      buf.n += 1
    }
    buf
  }

  override def merge(buf: MomentsBuf, other: MomentsBuf): MomentsBuf = {
    if (other.sum != null) {
      if (buf.sum == null) buf.init(other.sum.length)
      require(buf.sum.length == other.sum.length,
        s"vectorMoments: dimension mismatch (${buf.sum.length} vs ${other.sum.length})")
      var i = 0
      while (i < buf.sum.length) { buf.sum(i) += other.sum(i); i += 1 }
      i = 0
      while (i < buf.ss.length) { buf.ss(i) += other.ss(i); i += 1 }
      buf.n += other.n
    }
    buf
  }

  override def eval(buf: MomentsBuf): Any = {
    if (buf.sum == null || buf.n == 0L) return null
    val d = buf.sum.length
    val n = buf.n.toDouble
    val means = buf.sum.map(_ / n)
    val pairs = new Array[Any](buf.ss.length)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        pairs(k) = InternalRow(i, j, buf.ss(k) / n - means(i) * means(j))
        k += 1; j += 1
      }
      i += 1
    }
    InternalRow(buf.n, new GenericArrayData(means), new GenericArrayData(pairs))
  }

  override def serialize(buf: MomentsBuf): Array[Byte] = {
    val d = if (buf.sum == null) 0 else buf.sum.length
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 * d + 8 * (d * (d + 1) / 2))
    bb.putInt(d); bb.putLong(buf.n)
    if (d > 0) { buf.sum.foreach(bb.putDouble); buf.ss.foreach(bb.putDouble) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MomentsBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val d = bb.getInt
    val buf = new MomentsBuf(bb.getLong, null, null)
    if (d > 0) {
      buf.init(d)
      var i = 0
      while (i < d) { buf.sum(i) = bb.getDouble; i += 1 }
      i = 0
      while (i < buf.ss.length) { buf.ss(i) = bb.getDouble; i += 1 }
    }
    buf
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("means", ArrayType(DoubleType, containsNull = false)),
    StructField("pairs", ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("cov", DoubleType, nullable = false)))))))
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def withNewMutableAggBufferOffset(offset: Int): VectorMoments =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VectorMoments =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMoments =
    copy(child = newChildren(0))
}

/** One tree's decided splits as data, for [[TreeRoute]]: one slot per
  * node reached so far (slot 0 is the root). A slot's `feature` is -1
  * when terminal, a numeric input index below `nums.length`, else that
  * length plus a categorical input index; `left`/`right` are the child
  * slots, so a walk is O(depth) array reads.
  */
final class SplitTable private (
    ids: Array[Long], feature: Array[Int], threshold: Array[Double],
    inSet: Array[java.util.HashSet[UTF8String]],
    left: Array[Int], right: Array[Int]) extends Serializable {

  /** The node id a row reaches. Numeric: `x <= t` under SQL double
    * ordering (NaN largest, -0.0 = 0.0) goes left, NULL right.
    * Categorical: IN-set goes left, NULL and unseen categories right.
    */
  def route(nums: Array[Double], numNull: Array[Boolean],
            cats: Array[UTF8String]): Long = {
    var s = 0
    while (feature(s) >= 0) {
      val f = feature(s)
      val goLeft =
        if (f < nums.length)
          !numNull(f) && SQLOrderingUtil.compareDoubles(nums(f), threshold(s)) <= 0
        else {
          val c = cats(f - nums.length)
          c != null && inSet(s).contains(c)
        }
      s = if (goLeft) left(s) else right(s)
    }
    ids(s)
  }

  override def toString: String = s"SplitTable(${ids.length} nodes)"
}

object SplitTable {
  /** From node id -> (numeric input index, threshold) and node id ->
    * (categorical input index, left set); `numNumeric` numeric inputs
    * come first.
    */
  def apply(numNumeric: Int,
            numeric: collection.Map[Long, (Int, Double)],
            categorical: collection.Map[Long, (Int, Seq[String])]): SplitTable = {
    val ids = mutable.ArrayBuffer.empty[Long]
    val feature = mutable.ArrayBuffer.empty[Int]
    val threshold = mutable.ArrayBuffer.empty[Double]
    val inSet = mutable.ArrayBuffer.empty[java.util.HashSet[UTF8String]]
    val left = mutable.ArrayBuffer.empty[Int]
    val right = mutable.ArrayBuffer.empty[Int]
    def add(id: Long): Int = {
      val s = ids.size
      ids += id; feature += -1; threshold += Double.NaN; inSet += null
      left += -1; right += -1
      (numeric.get(id), categorical.get(id)) match {
        case (Some((f, t)), _) =>
          require(f >= 0 && f < numNumeric, s"node $id splits on an unknown numeric input")
          feature(s) = f; threshold(s) = t
        case (None, Some((q, vs))) =>
          require(q >= 0, s"node $id splits on an unknown categorical input")
          val set = new java.util.HashSet[UTF8String]()
          vs.foreach(v => set.add(UTF8String.fromString(v)))
          feature(s) = numNumeric + q; inSet(s) = set
        case _ =>
      }
      if (feature(s) >= 0) {
        val l = add(2 * id); left(s) = l
        val r = add(2 * id + 1); right(s) = r
      }
      s
    }
    add(1L)
    new SplitTable(ids.toArray, feature.toArray, threshold.toArray,
      inSet.toArray, left.toArray, right.toArray)
  }
}

/** A row's node id in a tree whose decided splits come from `table`.
  * `children` are the fit's numeric inputs (double) followed by its
  * categorical inputs (string); the table rides in codegen's
  * references, so the generated code depends only on the input lists
  * — one class serves every level, threshold and chosen attribute.
  */
case class TreeRoute(children: Seq[Expression], numNumeric: Int, table: SplitTable)
    extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val nums = new Array[Double](numNumeric)
    val nulls = new Array[Boolean](numNumeric)
    val cats = new Array[UTF8String](children.size - numNumeric)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (i >= numNumeric) cats(i - numNumeric) = v.asInstanceOf[UTF8String]
      else if (v == null) nulls(i) = true
      else nums(i) = v.asInstanceOf[Double]
      i += 1
    }
    table.route(nums, nulls, cats)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("splitTable", table, classOf[SplitTable].getName)
    val nCat = children.size - numNumeric
    val nums = ctx.addMutableState("double[]", "routeNums",
      v => s"$v = new double[$numNumeric];")
    val nulls = ctx.addMutableState("boolean[]", "routeNulls",
      v => s"$v = new boolean[$numNumeric];")
    val cats = ctx.addMutableState("UTF8String[]", "routeCats",
      v => s"$v = new UTF8String[$nCat];")
    val fills = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      if (i < numNumeric)
        s"${e.code}\n$nums[$i] = ${e.value};\n$nulls[$i] = ${e.isNull};"
      else s"${e.code}\n$cats[${i - numNumeric}] = ${e.isNull} ? null : ${e.value};"
    }
    ev.copy(code = code"""
      |${fills.mkString("\n")}
      |long ${ev.value} = $tableRef.route($nums, $nulls, $cats);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TreeRoute = copy(children = newChildren)
}

/** (tree, node) -> value by open addressing (load <= 1/2); a key not
  * in the table — a node that is not open — reads NaN.
  */
final class NodeValueTable private (
    trees: Array[Int], nodes: Array[Long], values: Array[Double]) extends Serializable {

  def get(tree: Int, node: Long): Double = {
    if (node == 0L) return Double.NaN // 0 marks an empty slot; no node has id 0
    var i = NodeValueTable.slot(tree, node, nodes.length - 1)
    while (nodes(i) != 0L) {
      if (nodes(i) == node && trees(i) == tree) return values(i)
      i = (i + 1) & (nodes.length - 1)
    }
    Double.NaN
  }

  override def toString: String = s"NodeValueTable(${nodes.count(_ != 0L)} nodes)"
}

object NodeValueTable {
  private def slot(tree: Int, node: Long, mask: Int): Int = {
    val h = (node + tree.toLong * 0x632BE59BD9B4E019L) * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & mask
  }

  def apply(entries: Seq[(Int, Long, Double)]): NodeValueTable = {
    var cap = 4
    while (cap < 2 * entries.size) cap <<= 1
    val trees = new Array[Int](cap)
    val nodes = new Array[Long](cap)
    val values = new Array[Double](cap)
    entries.foreach { case (t, id, v) =>
      require(id != 0L, "node ids start at 1")
      var i = slot(t, id, cap - 1)
      while (nodes(i) != 0L && !(nodes(i) == id && trees(i) == t)) i = (i + 1) & (cap - 1)
      trees(i) = t; nodes(i) = id; values(i) = v
    }
    new NodeValueTable(trees, nodes, values)
  }
}

/** A per-node value (a level's candidate thresholds) looked up by the
  * row's (tree, node) in a table carried in codegen's references — the
  * generated code never changes with the level or the values.
  */
case class NodeValue(left: Expression, right: Expression, table: NodeValueTable)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    val n = right.eval(input)
    if (t == null || n == null) Double.NaN
    else table.get(t.asInstanceOf[Int], n.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("nodeValues", table, classOf[NodeValueTable].getName)
    val t = left.genCode(ctx)
    val n = right.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${n.code}
      |double ${ev.value} = (${t.isNull} || ${n.isNull}) ? Double.NaN
      |  : $tableRef.get(${t.value}, ${n.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NodeValue =
    copy(left = newLeft, right = newRight)
}

/** Column-API entry points for the native expressions. */
object Native {
  /** Codegen'd node id of each row in the tree `table` describes (see
    * TreeRoute); numeric inputs are cast to double, categorical ones
    * to string, as the split predicates compare them.
    */
  def treeRoute(numeric: Seq[Column], categorical: Seq[Column], table: SplitTable): Column =
    GraftBridge.column(TreeRoute(
      (numeric.map(_.cast("double")) ++ categorical.map(_.cast("string")))
        .map(GraftBridge.expression), numeric.size, table))

  /** Codegen'd per-(tree, node) value lookup; NaN off the table. */
  def nodeValue(tree: Column, node: Column, table: NodeValueTable): Column =
    GraftBridge.column(NodeValue(
      GraftBridge.expression(tree.cast("int")),
      GraftBridge.expression(node.cast("long")), table))

  /** Codegen'd dot product; inputs are cast to array<double> so
    * float arrays don't silently read garbage through getDouble.
    */
  def doubleDot(a: Column, b: Column): Column =
    GraftBridge.column(DoubleDot(
      GraftBridge.expression(a.cast("array<double>")),
      GraftBridge.expression(b.cast("array<double>"))))

  /** Bounded top-k aggregate: array<struct<score,id>> best-first.
    * Inputs are cast to the buffer types (double score, long id) so
    * int ids / float scores don't ClassCastException mid-job.
    */
  def topKPairs(score: Column, id: Column, k: Int): Column =
    GraftBridge.column(TopKPairs(
      GraftBridge.expression(score.cast("double")),
      GraftBridge.expression(id.cast("long")), k).toAggregateExpression())

  /** Unicode NFC canonicalization (see NormalizeNfc): apply before
    * content hashing so composed/decomposed renderings dedup.
    */
  def normalizeNfc(text: Column): Column =
    GraftBridge.column(NormalizeNfc(
      GraftBridge.expression(text.cast("string"))))

  /** Per-row char-bigram stats struct<n_grams, n_distinct, clogc>
    * for Shannon-entropy signals (see CharBigramStats).
    */
  def charBigramStats(text: Column): Column =
    GraftBridge.column(CharBigramStats(
      GraftBridge.expression(text.cast("string"))))

  /** Single-pass vector mean + covariance:
    * struct<n, means, pairs(i,j,cov)> — see VectorMoments.
    */
  def vectorMoments(vec: Column): Column =
    GraftBridge.column(VectorMoments(
      GraftBridge.expression(vec.cast("array<double>"))).toAggregateExpression())

  /** Misra–Gries frequent-items sketch: array<struct<token,cnt>>
    * candidates (estimates, not exact — see MisraGriesTokens).
    */
  def misraGries(token: Column, k: Int): Column =
    GraftBridge.column(MisraGriesTokens(
      GraftBridge.expression(token.cast("string")), k).toAggregateExpression())

  /** Count-Min sketch over pre-hashed long keys: array<long> of
    * depth·width counters (row-major); point estimates via
    * [[graft.ops.HeavyHitters.cmsEstimate]].
    */
  def countMin(hash: Column, width: Int, depth: Int,
               seeds: Seq[(Long, Long)]): Column =
    GraftBridge.column(CountMinLongs(
      GraftBridge.expression(hash.cast("long")), width, depth, seeds)
      .toAggregateExpression())

  /** Codegen'd merge-walk intersection size of sorted long arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(
      GraftBridge.expression(a.cast("array<long>")),
      GraftBridge.expression(b.cast("array<long>"))))

  /** Codegen'd merge-walk token rebuild: space-join tokens whose
    * positions are not in the SORTED excluded list (O(n+m) per row).
    */
  def concatExcluding(tokens: Column, excludedSorted: Column): Column =
    GraftBridge.column(ConcatExcludingPositions(
      GraftBridge.expression(tokens.cast("array<string>")),
      GraftBridge.expression(excludedSorted.cast("array<int>"))))

  /** Codegen'd k-permutation MinHash signature of shingle hashes
    * (bit-identical to the xxhash64 fold form).
    */
  def minHashSig(shingleHashes: Column, k: Int): Column =
    GraftBridge.column(MinHashSig(
      GraftBridge.expression(shingleHashes.cast("array<long>")), k))

  /** Codegen'd highest element frequency of a string array. */
  def maxFreq(values: Column): Column =
    GraftBridge.column(MaxFreq(GraftBridge.expression(values.cast("array<string>"))))

  /** Codegen'd highest element frequency of a long array. */
  def maxFreqLong(values: Column): Column =
    GraftBridge.column(MaxFreqLong(GraftBridge.expression(values.cast("array<long>"))))

  /** Codegen'd positional n-gram rolling hashes of a token array
    * (bit-identical to the xxhash64 slice/zip_with chain form).
    */
  def gramHashes(tokens: Column, n: Int): Column =
    GraftBridge.column(GramHashes(
      GraftBridge.expression(tokens.cast("array<string>")), n))

  /** Codegen'd universal-hash MinHash over string shingles
    * (bit-identical to the polynomial-hash fold form): the n = 1 case
    * of [[polyMinHashGrams]], where each gram is one shingle.
    */
  def polyMinHash(shingles: Column, k: Int, params: Seq[(Long, Long)]): Column =
    polyMinHashGrams(shingles, 1, k, params)

  /** Codegen'd 30-bit SimHash of a token array (bit-identical to the
    * composed distinct+poly+majority fold).
    */
  def simHash30(tokens: Column): Column =
    GraftBridge.column(SimHash30(GraftBridge.expression(tokens.cast("array<string>"))))

  /** Codegen'd universal-hash MinHash over word n-grams of a token
    * array (bit-identical to [[polyMinHash]] over the distinct gram
    * strings, which are never materialized).
    */
  def polyMinHashGrams(tokens: Column, n: Int, k: Int,
                       params: Seq[(Long, Long)]): Column =
    GraftBridge.column(PolyMinHashGrams(
      GraftBridge.expression(tokens.cast("array<string>")), n, k, params))

  /** Codegen'd whitespace tokens of a string (see WsTokens). */
  def wsTokens(text: Column): Column =
    GraftBridge.column(WsTokens(GraftBridge.expression(text.cast("string"))))

  /** Codegen'd per-document counts struct (see TextStats). */
  def textStats(text: Column, stopSets: Seq[(String, Seq[String])]): Column =
    GraftBridge.column(TextStats(GraftBridge.expression(text.cast("string")), stopSets))

  /** Spark's `lower(c)`, byte for byte; ASCII text skips Spark's ICU
    * table build (see [[CaseMapping]]). The one case-mapping entry
    * point of `src/main`, kept so by `CaseMapLintSpec`.
    */
  def lower(c: Column): Column =
    GraftBridge.column(CaseMap(GraftBridge.expression(c), toUpper = false))

  /** Spark's `upper(c)`, byte for byte (see [[lower]]). */
  def upper(c: Column): Column =
    GraftBridge.column(CaseMap(GraftBridge.expression(c), toUpper = true))

  /** Codegen'd within-doc duplicated-gram counts:
    * struct(dup_occ, covered) over a positional gram-hash array.
    */
  def dupGramCounts(gramHashes: Column, n: Int): Column =
    GraftBridge.column(DupGramCounts(
      GraftBridge.expression(gramHashes.cast("array<long>")), n))

  /** Codegen'd winnowing fingerprints (sorted distinct window minima
    * of k-gram 31-base polynomial hashes) of a token array.
    */
  def winnowMins(tokens: Column, k: Int, window: Int): Column =
    GraftBridge.column(WinnowMins(
      GraftBridge.expression(tokens.cast("array<string>")), k, window))

  /** Greedy bin-packing chunk index per item (codegen'd linear pass). */
  def greedyChunkIndices(weights: Column, budget: Column): Column =
    GraftBridge.column(GreedyChunkIndices(
      GraftBridge.expression(weights.cast("array<long>")),
      GraftBridge.expression(budget.cast("long"))))

  /** Pack int8-range longs into one signed byte each (binary). */
  def packInt8(values: Column): Column =
    GraftBridge.column(PackInt8(GraftBridge.expression(values.cast("array<long>"))))

  /** Codegen'd signed-byte dot product of two packed-int8 binaries. */
  def binaryDot(a: Column, b: Column): Column =
    GraftBridge.column(BinaryDot(
      GraftBridge.expression(a.cast("binary")),
      GraftBridge.expression(b.cast("binary"))))
}

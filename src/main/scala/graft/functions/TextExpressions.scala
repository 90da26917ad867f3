package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fused text kernels for the dedup/retrieval hot loops.
  *
  * Each replaces a composable higher-order-function form (`transform` /
  * `filter` / `aggregate` lambdas) that Spark executes INTERPRETED
  * (HigherOrderFunction is CodegenFallback): per-element virtual calls,
  * boxed lambda variables, and an intermediate array per step. The
  * kernels below compute bit-identical results in one compiled pass —
  * same byte-level string semantics (UTF8String concat / md5 of UTF-8
  * bytes), same first-occurrence `array_distinct` order, same element
  * order — so every DuckDB oracle is unchanged. Same discipline as
  * [[MinHashSignature]] / [[SimHashFingerprint]] (see those scaladocs
  * for the reference analogy).
  */
object TextKernels {

  /** Distinct `n`-word shingles of `ws`, space-joined, first-occurrence
    * order — bit-identical to
    * `array_distinct(transform(sequence(0, size(ws)-n),
    *    i -> concat(ws[i], ' ', ..., ws[i+n-1])))`
    * for arrays with at least `n` elements: like `concat`, a window that
    * contains a null element yields a null shingle (kept once, at its
    * first occurrence); shorter arrays yield an empty result (callers
    * filter `size(ws) >= n` first, which also guards the composable
    * form's descending-`sequence` hazard).
    */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= sz - n) {
      val parts = new Array[UTF8String](n)
      var hasNull = false
      var j = 0
      while (j < n) {
        if (arr.isNullAt(i + j)) hasNull = true
        else parts(j) = arr.getUTF8String(i + j)
        j += 1
      }
      out.add(if (hasNull) null else UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** md5 hex of each `n`-word gram of `ws` (space-joined), positionally —
    * bit-identical to
    * `transform(sequence(1, size(ws)-n+1), i -> md5(concat_ws(' ', slice(ws, i, n))))`
    * for arrays with >= n elements, and to that form's `CASE size(ws) >= n`
    * empty-array guard otherwise. `distinct = true` applies the
    * first-occurrence `array_distinct` on top (the [[Dedup.wordGrams]]
    * shape).
    */
  def gramMd5s(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val sz = arr.numElements()
    val sep = UTF8String.fromString(" ")
    if (sz < n) return new GenericArrayData(new Array[Any](0))
    if (distinct) {
      val out = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i <= sz - n) {
        out.add(md5Gram(arr, i, n, sep))
        i += 1
      }
      new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
    } else {
      val out = new Array[Any](sz - n + 1)
      var i = 0
      while (i <= sz - n) {
        out(i) = md5Gram(arr, i, n, sep)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  private def md5Gram(arr: ArrayData, i: Int, n: Int,
                      sep: UTF8String): UTF8String = {
    val parts = new Array[UTF8String](n)
    var j = 0
    while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
    UTF8String.fromString(org.apache.commons.codec.digest.DigestUtils
      .md5Hex(UTF8String.concatWs(sep, parts: _*).getBytes))
  }

  /** The scrub rewrite mask: words of `ws` at 1-based positions j NOT
    * covered by any hot-gram start i in `hp` (j >= i && j < i + k), in
    * order — bit-identical to
    *   transform(filter(sequence(1, size(ws)),
    *     j -> NOT exists(hp, i -> j >= i AND j < i + k)),
    *     j -> element_at(ws, j))
    * for non-null int positions. `hp` is the sorted hot-start list
    * ([[TextAnalysis.scrubRepeatedPassages]] sort_array's it), so the
    * cover test is a two-pointer merge — O(words + hots) instead of the
    * interpreted O(words × hots) exists scan. Null `hp` elements cannot
    * occur (collect_list skips nulls); the kernel asserts sortedness is
    * not required for correctness by falling back to a scan when an
    * out-of-order start is seen.
    */
  def scrubKept(ws: ArrayData, hp: ArrayData, k: Int): ArrayData = {
    val n = ws.numElements()
    val m = hp.numElements()
    // detect unsorted input once; the sorted two-pointer is the fast path
    var sorted = true
    var x = 1
    while (sorted && x < m) {
      if (hp.getInt(x) < hp.getInt(x - 1)) sorted = false
      x += 1
    }
    val out = new java.util.ArrayList[UTF8String](n)
    var p = 0
    var j = 1
    while (j <= n) {
      var covered = false
      if (sorted) {
        while (p < m && hp.getInt(p) + k <= j) p += 1
        covered = p < m && hp.getInt(p) <= j
      } else {
        var i = 0
        while (!covered && i < m) {
          val s = hp.getInt(i)
          if (j >= s && j < s + k) covered = true
          i += 1
        }
      }
      if (!covered) out.add(ws.getUTF8String(j - 1))
      j += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Distinct character `n`-grams of `text` (code-point indexed, like
    * SQL substring), first-occurrence order — bit-identical to
    * `array_distinct(transform(sequence(1, length(text)-n+1),
    *    i -> substring(text, i, n)))`
    * for texts of at least `n` characters. Shorter texts yield an EMPTY
    * array: there the composable form's `sequence` goes descending and
    * emits positionally-nonsensical grams that DuckDB's generate_series
    * (empty on start > stop) never mirrors — the oracle corpus has no
    * such text (gate green against the empty-on-short oracle), and the
    * kernel pins the cross-engine-consistent semantics.
    */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val len = text.numChars()
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 1
    while (i <= len - n + 1) {
      out.add(text.substringSQL(i, n))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Positional character difference count — bit-identical to
    * `size(filter(sequence(1, bits), i -> substring(a, i, 1) != substring(b, i, 1)))`
    * including the out-of-range case (substring past the end is the
    * empty string; empty != empty is false, empty != char is true).
    */
  def hammingDiff(a: UTF8String, b: UTF8String, bits: Int): Int = {
    val la = a.numChars()
    val lb = b.numChars()
    var c = 0
    var i = 1
    while (i <= bits) {
      val inA = i <= la
      val inB = i <= lb
      val diff =
        if (inA && inB) !a.substringSQL(i, 1).equals(b.substringSQL(i, 1))
        else inA != inB // one side ran out: char vs empty
      if (diff) c += 1
      i += 1
    }
    c
  }

  /** Longest run of equal adjacent elements — bit-identical to the
    * Gopher-rule fold
    *   aggregate(sorted, struct('' AS prev, 0 AS run, 0 AS mx),
    *     (s, w) -> struct(w, CASE WHEN w = s.prev THEN s.run+1 ELSE 1 END,
    *                      GREATEST(s.mx, ...)), s -> s.mx)
    * over an already-sorted array (the callers pass array_sort(ws); the
    * fold's prev = '' seed changes nothing: a first element equal to ''
    * yields run 0+1 = 1 either way). Empty input -> 0, like the fold.
    */
  def maxRun(arr: ArrayData): Int = {
    val n = arr.numElements()
    var mx = 0
    var run = 0
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      // null elements mirror the fold: `w = prev` is NULL -> ELSE 1,
      // and the next comparison against a null prev resets likewise
      val w = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      run = if (w != null && prev != null && w.equals(prev)) run + 1 else 1
      if (run > mx) mx = run
      prev = w
      i += 1
    }
    mx
  }

  /** Count of elements of `ws` equal to any of `terms` — bit-identical to
    * `size(filter(ws, w -> w IN (terms...)))` over non-null elements
    * (null elements match nothing in both forms).
    */
  def countIn(arr: ArrayData, terms: Array[UTF8String]): Int = {
    val sz = arr.numElements()
    var c = 0
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i)) {
        val w = arr.getUTF8String(i)
        var j = 0
        var hit = false
        while (!hit && j < terms.length) {
          if (terms(j).equals(w)) hit = true
          j += 1
        }
        if (hit) c += 1
      }
      i += 1
    }
    c
  }

  /** Per-term occurrence counts: element k is bit-identical to
    * `size(filter(ws, w -> w = terms(k)))` — the BM25 tf vector in ONE
    * pass over `ws` instead of one interpreted filter per term.
    */
  def termCounts(arr: ArrayData, terms: Array[UTF8String]): ArrayData = {
    val counts = new Array[Int](terms.length)
    val sz = arr.numElements()
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i)) {
        val w = arr.getUTF8String(i)
        var j = 0
        while (j < terms.length) {
          if (terms(j).equals(w)) counts(j) += 1
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts.map(Int.box).asInstanceOf[Array[Any]])
  }
}

/** See [[TextKernels.shingles]]. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_shingles needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects array<string>, got ${t.sql}")
  }

  // null elements in the input make null shingles
  override def dataType: DataType = ArrayType(StringType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingles(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  def apply(col: Column, n: Int): Column = column(WordShingles(expression(col), n))
}

/** See [[TextKernels.gramMd5s]]. */
case class GramMd5s(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"gram_md5s needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_md5s expects array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gram_md5s"

  override def nullSafeEval(input: Any): Any =
    TextKernels.gramMd5s(input.asInstanceOf[ArrayData], n, distinct)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.gramMd5s($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): GramMd5s =
    copy(child = newChild)
}

object GramMd5s {
  def apply(col: Column, n: Int, distinct: Boolean): Column =
    column(GramMd5s(expression(col), n, distinct))
}

/** See [[TextKernels.scrubKept]]. */
case class ScrubKeptWords(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k >= 1, s"scrub_kept needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"scrub_kept expects (array<string>, array<int>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "scrub_kept"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.scrubKept(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.TextKernels.scrubKept($x, $y, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScrubKeptWords =
    copy(left = newLeft, right = newRight)
}

object ScrubKeptWords {
  def apply(ws: Column, hp: Column, k: Int): Column =
    column(ScrubKeptWords(expression(ws), expression(hp), k))
}

/** See [[TextKernels.charNgrams]]. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"char_ngrams needs n >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects string, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(input: Any): Any =
    TextKernels.charNgrams(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {
  def apply(col: Column, n: Int): Column = column(CharNgrams(expression(col), n))
}

/** See [[TextKernels.hammingDiff]]. */
case class HammingDiff(left: Expression, right: Expression, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(bits >= 1, s"hamming_diff needs bits >= 1, got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hamming_diff expects (string, string), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_diff"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.hammingDiff(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], bits)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.TextKernels.hammingDiff($x, $y, $bits);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDiff =
    copy(left = newLeft, right = newRight)
}

object HammingDiff {
  def apply(a: Column, b: Column, bits: Int): Column =
    column(HammingDiff(expression(a), expression(b), bits))
}

/** See [[TextKernels.maxRun]]. Registered in SQL as `max_run` so the
  * selectExpr-built Gopher-rule operators can call it.
  */
case class MaxRun(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"max_run expects array<string>, got ${t.sql}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "max_run"

  override def nullSafeEval(input: Any): Any =
    TextKernels.maxRun(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.maxRun($c)")

  override protected def withNewChildInternal(newChild: Expression): MaxRun =
    copy(child = newChild)
}

/** See [[TextKernels.countIn]]. */
case class CountIn(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  require(terms.nonEmpty, "count_in needs at least one term")

  @transient private lazy val utf8Terms: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"count_in expects array<string>, got ${t.sql}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_in"

  override def nullSafeEval(input: Any): Any =
    TextKernels.countIn(input.asInstanceOf[ArrayData], utf8Terms)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("countInTerms", utf8Terms,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.countIn($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountIn =
    copy(child = newChild)
}

object CountIn {
  def apply(col: Column, terms: Seq[String]): Column =
    column(CountIn(expression(col), terms))
}

/** See [[TextKernels.termCounts]]. */
case class TermCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression {
  require(terms.nonEmpty, "term_counts needs at least one term")

  @transient private lazy val utf8Terms: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"term_counts expects array<string>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any =
    TextKernels.termCounts(input.asInstanceOf[ArrayData], utf8Terms)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termCountsTerms", utf8Terms,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.termCounts($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  def apply(col: Column, terms: Seq[String]): Column =
    column(TermCounts(expression(col), terms))
}

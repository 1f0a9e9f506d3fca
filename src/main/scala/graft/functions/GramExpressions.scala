package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram codes for pairwise set similarity.
  *
  * A `win`-gram is encoded positionally in base 131: for 3-grams,
  * `code = c0·131² + c1·131 + c2` with positions past the end
  * contributing 0. Base 131 exceeds every codepoint in the corpus, so
  * the encoding is INJECTIVE — gram-code set equality is gram set
  * equality, and Jaccard over codes is exactly Jaccard over grams.
  * DuckDB replays the same arithmetic with `ascii(substring(...))`
  * products, so the oracle stays value-identical.
  *
  * The pairwise step then runs [[SortedIntersectCountExpr]] — a
  * primitive merge over two sorted long arrays — instead of
  * `array_intersect`/`array_union`, which build a hash set of strings
  * per evaluated pair.
  */
case class GramCodeArrayExpr(child: Expression, win: Int) extends UnaryExpression {

  require(win >= 1 && win <= 8, "window must be in [1, 8] (codes fit a long)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Distinct sorted window codes of `s` (shared by eval and tests). */
  def codes(s: String): Array[Long] = {
    val n = s.length
    val windows = math.max(n - win + 1, 1)
    val out = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      var h = 0L
      var k = 0
      while (k < win) {
        h = h * 131L + (if (i + k < n) s.charAt(i + k).toLong else 0L)
        k += 1
      }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    // dedup in place
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(out, w)
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(codes(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val expr = ctx.addReferenceObj("gramExpr", this, classOf[GramCodeArrayExpr].getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $expr.codes($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramCodeArrayExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_gram_codes"
}

/** POSITIONAL win-gram codes of the ASCII-LOWERCASED text, restricted
  * to an `allowed` code set — the profile-join primitive: where a
  * broadcast join of every exploded gram STRING against a tiny profile
  * materializes length(text) string rows per doc before dropping
  * ~99.9% of them (the r8 sf1 probe measured text_langid_ngram at
  * 39.7 s, almost all of it that explode), this emits only the hit
  * codes in one compiled pass (rolling window + binary search in the
  * sorted allowed array). Same base-131 injective encoding as
  * [[GramCodeArrayExpr]] — on the ASCII corpus, per-(doc, gram) hit
  * counts equal the string-join counts exactly, so oracles that join
  * gram strings replay unchanged. Duplicates (positions) are kept;
  * only COMPLETE windows are emitted, matching
  * `sequence(1, length - win + 1)` semantics.
  */
case class GramCodeHitsExpr(child: Expression, win: Int, allowed: Seq[Long])
    extends UnaryExpression {

  require(win >= 1 && win <= 8, "window must be in [1, 8] (codes fit a long)")

  private lazy val allowedSorted: Array[Long] = allowed.distinct.toArray.sorted

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Hit codes of `s` (shared by eval and generated code). */
  def hits(s: String): Array[Long] = {
    val n = s.length
    if (n < win) return Array.empty[Long]
    val out = new java.util.ArrayList[java.lang.Long]()
    var i = 0
    while (i <= n - win) {
      var h = 0L
      var k = 0
      while (k < win) {
        val c = s.charAt(i + k)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        h = h * 131L + lc.toLong
        k += 1
      }
      if (java.util.Arrays.binarySearch(allowedSorted, h) >= 0) out.add(h)
      i += 1
    }
    val res = new Array[Long](out.size())
    i = 0
    while (i < res.length) { res(i) = out.get(i).longValue(); i += 1 }
    res
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(hits(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val expr = ctx.addReferenceObj("gramHitsExpr", this, classOf[GramCodeHitsExpr].getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $expr.hits($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramCodeHitsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_gram_code_hits"
}

object GramCodeHitsExpr {
  /** Base-131 code of an (already-lowercase) gram string — for
    * encoding profile-table grams on the driver side with the same
    * arithmetic the expression applies per window.
    */
  def code(gram: String): Long =
    gram.foldLeft(0L)((h, c) => h * 131L + c.toLong)
}

/** Per-document CHARACTER HISTOGRAM as an array of counts (one entry
  * per distinct char, ascending char order) — one compiled pass.
  * Replaces `explode(transform(sequence(1, length(text)), i ->
  * substring(text, i, 1)))` + a (doc, ch) count aggregation: that
  * shape shuffles one row PER CHARACTER (the r8 sf1 probe measured
  * text_entropy's explode at 25 s for ~60M char rows) where this
  * emits ~|alphabet| longs per doc and the downstream aggregate is
  * unchanged — identical integer counts, so the entropy float terms
  * match the oracle's exactly.
  */
case class CharCountHistExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Counts per distinct char, ascending char order (shared by eval
    * and generated code). ASCII rides a flat 128-slot table; anything
    * else falls back to a tree map.
    */
  def hist(s: String): Array[Long] = {
    val ascii = new Array[Long](128)
    var other: java.util.TreeMap[Character, Long] = null
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) ascii(c) += 1L
      else {
        if (other == null) other = new java.util.TreeMap[Character, Long]()
        other.merge(c, 1L, (a, b) => a + b)
      }
      i += 1
    }
    val out = new java.util.ArrayList[java.lang.Long]()
    i = 0
    while (i < 128) {
      if (ascii(i) > 0L) out.add(ascii(i))
      i += 1
    }
    if (other != null) other.values().forEach(v => { out.add(v); () })
    val res = new Array[Long](out.size())
    i = 0
    while (i < res.length) { res(i) = out.get(i).longValue(); i += 1 }
    res
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(hist(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val expr = ctx.addReferenceObj("charHistExpr", this, classOf[CharCountHistExpr].getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $expr.hist($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharCountHistExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_char_hist"
}

/** Count of common elements between two SORTED distinct long arrays —
  * one linear merge, no per-row hash set.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> inputs")
  }

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val vx = x.getLong(i); val vy = y.getLong(j)
      if (vx == vy) { c += 1; i += 1; j += 1 }
      else if (vx < vy) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val vx = ctx.freshName("vx"); val vy = ctx.freshName("vy")
      s"""
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  long $vx = $a.getLong($i);
         |  long $vy = $b.getLong($j);
         |  if ($vx == $vy) { $c++; $i++; $j++; }
         |  else if ($vx < $vy) $i++;
         |  else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_sorted_intersect_count"
}

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
  * the MOSS algorithm): positional base-131 `win`-gram codes, then
  * the minimum of every `window` consecutive codes, distinct+sorted.
  * Winnowing's guarantee: any shared substring of length
  * `win + window - 1` yields at least one shared fingerprint, while
  * only ~2/(window+1) of grams are kept — so the inverted-index join
  * that finds near-duplicates sees a constant fraction of the corpus.
  * O(n) via a monotonic deque; codegen'd through a single static call
  * like the other gram expressions. DuckDB replays the same codes
  * with ascii() products and the window-min with list slicing.
  */
case class WinnowFingerprintExpr(child: Expression, win: Int, window: Int)
    extends UnaryExpression {

  require(win >= 1 && win <= 8, "gram width in [1, 8] (codes fit a long)")
  require(window >= 1 && window <= 64, "window in [1, 64]")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Distinct sorted window-min codes (shared by eval and codegen). */
  def fingerprints(s: String): Array[Long] = {
    val n = s.length
    val grams = math.max(n - win + 1, 1)
    val codes = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      var h = 0L
      var k = 0
      while (k < win) {
        h = h * 131L + (if (i + k < n) s.charAt(i + k).toLong else 0L)
        k += 1
      }
      codes(i) = h
      i += 1
    }
    val w = math.min(window, grams)
    val out = new Array[Long](grams - w + 1)
    val deque = new Array[Int](grams)
    var head = 0
    var tail = 0
    i = 0
    while (i < grams) {
      while (tail > head && codes(deque(tail - 1)) >= codes(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = codes(deque(head))
      i += 1
    }
    java.util.Arrays.sort(out)
    var wr = 0
    var r = 0
    while (r < out.length) {
      if (wr == 0 || out(r) != out(wr - 1)) { out(wr) = out(r); wr += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(out, wr)
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(fingerprints(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val expr = ctx.addReferenceObj("winnowExpr", this, classOf[WinnowFingerprintExpr].getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $expr.fingerprints($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprintExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_winnow_fingerprints"
}

/** CONTENT-DEFINED CHUNK cut positions (rsync/LBFS/FastCDC lineage):
  * a cut lands after character `i + win - 1` (0-based) whenever the
  * base-131 code of the `win`-gram starting at `i` is ≡ 0 (mod
  * `modulus`) and the cut is strictly inside the text — so chunk
  * boundaries follow CONTENT, not offsets, and an insertion re-syncs
  * every boundary downstream of the edit (the property fixed-size
  * chunking lacks). Expected chunk length ≈ `modulus`. Returns the
  * full cut list including the 0 and length(text) sentinels, strictly
  * increasing — consecutive pairs are exactly the chunk spans.
  * Windows past the end pad with 0, mirroring the oracle's
  * `generate_series(1, greatest(len - win + 1, 1))` replay, so the
  * empty text yields [0, 0] (one empty chunk) on both engines.
  *
  * The Horner fold reduces mod the prime 1e9+7 at EVERY step (like
  * WordShingleModHashesExpr), so the running code never exceeds
  * ~1.3e11 and the JVM long can never silently wrap where a checked
  * BIGINT engine would raise — the cut test is `(code mod P) mod
  * modulus == 0`, identical on both engines for any code-unit
  * values. Positions and codes use UTF-16 units on the JVM; engine
  * parity with code-point oracles (DuckDB) therefore holds for BMP
  * text (the documents corpus is ASCII).
  */
case class CdcCutsExpr(child: Expression, win: Int, modulus: Int)
    extends UnaryExpression {

  require(win >= 1 && win <= 8, "window must be in [1, 8]")
  require(modulus >= 2, "modulus must be >= 2")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  /** Cut positions of `s` (shared by eval and generated code). */
  def cuts(s: String): Array[Int] = {
    val n = s.length
    val windows = math.max(n - win + 1, 1)
    val out = new java.util.ArrayList[java.lang.Integer]()
    out.add(0)
    var i = 0
    while (i < windows) {
      var h = 0L
      var k = 0
      while (k < win) {
        h = (h * 131L + (if (i + k < n) s.charAt(i + k).toLong else 0L)) %
          1000000007L
        k += 1
      }
      val cut = i + win
      if (h % modulus == 0 && cut < n) out.add(cut)
      i += 1
    }
    out.add(n)
    val res = new Array[Int](out.size())
    i = 0
    while (i < res.length) { res(i) = out.get(i).intValue(); i += 1 }
    res
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(cuts(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val expr = ctx.addReferenceObj("cdcExpr", this, classOf[CdcCutsExpr].getName)
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $expr.cuts($c.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CdcCutsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_cdc_cuts"
}

/** Elementwise equality witness over two int arrays — true iff any
  * position i has `a[i] == b[i]`. Replaces
  * `exists(zip_with(a, b, (x, y) -> x = y), v -> v)` in C14's
  * first-collision band filter, where the interpreted HOF pair
  * (lambda dispatch + a GenericArrayData allocation per evaluated
  * PAIR) sat on a ~3.2G-pair stream at sf100. Arrays may differ in
  * length; only the common prefix is compared (C14 always passes
  * equal-length prefixes). Null elements never match.
  */
case class AnySlotEqualExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<int> children, got $other")
    }

  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(l: Any, r: Any): Any =
    AnySlotEqualExpr.anyEqual(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  // real codegen (r10): as a CodegenFallback this expression both ran
  // interpreted per row AND broke whole-stage codegen for its stage —
  // at C2's sf10 scale that filter sees ~10⁸ pair occurrences (10⁹ at
  // sf100), and the fallback measured 5× the whole query's wall
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.AnySlotEqualExpr.anyEqual($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AnySlotEqualExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_any_slot_equal"
}

object AnySlotEqualExpr {
  /** True iff any aligned (non-null) slot pair is equal. */
  def anyEqual(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getInt(i) == b.getInt(i))
        return true
      i += 1
    }
    false
  }
}


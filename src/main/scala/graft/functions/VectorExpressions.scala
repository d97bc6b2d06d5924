package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShims.AbsDataType
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// The engine's native Catalyst kernels. One body per kernel: its
// arithmetic lives in one method on its companion object, `nullSafeEval`
// calls that method, and `doGenCode` is a single static call into it, so
// the interpreted and the generated path cannot diverge. Each kernel has
// one Column constructor: `Fns` for the hash and fold helpers,
// `object VectorExpressions` for the rest.

/** Strict left-to-right dot product over two array<double> columns as a
  * native Catalyst expression with whole-stage codegen.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` — the exact fold the
  * DuckDB oracles mirror with `list_reduce` (bit-identical doubles) — but
  * compiled to a tight loop instead of Spark's interpreted higher-order
  * functions (`HigherOrderFunction` is CodegenFallback). On the pairwise
  * similarity operators this is the difference between an interpreted
  * lambda per element and ~n fused multiply-adds per row: measured 44.6s →
  * ~2s on q_embedding_neardup at sf0.1.
  *
  * Null handling matches the built-in composition for this engine's use:
  * null input array → null; arrays are trusted non-null-element vectors
  * (the embeddings fixture) and are folded over the common prefix length.
  */
case class FoldDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fold_dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    FoldDotProduct.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FoldDotProduct.fold($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FoldDotProduct {
  def fold(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
}

/** Squared Euclidean distance Σ(aᵢ−bᵢ)² over two array<bigint> columns as
  * a native codegen'd Catalyst expression — the integer companion to
  * [[FoldDotProduct]] for the quantized-vector k-means/IVF training path.
  *
  * Integer arithmetic makes the fold order-independent and exactly
  * reproducible in any engine (the DuckDB oracle computes the same sum
  * over BIGINT lists), so centroid assignment never depends on float
  * rounding. Inputs are int64-quantized embedding components (|q| ≲ 4·10⁶
  * at scale 10⁶), so each square ≲ 6.4·10¹³ and a 64-dim sum stays far
  * from int64 overflow. Null array → null; folded over the common prefix,
  * same trust model as [[FoldDotProduct]].
  */
case class FoldSqDiff(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fold_sq_diff"

  override def nullSafeEval(a: Any, b: Any): Any =
    FoldSqDiff.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FoldSqDiff.fold($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object FoldSqDiff {
  def fold(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** Polynomial rolling hash h ← (h·base + byte) mod m over a string's bytes,
  * codegen'd. Bit-identical to the oracle's per-character
  * `list_reduce(..., (h,c) -> (h*base + ascii(c)) % m)` on ASCII input
  * (the fixture corpus contract — TESTDATA charset is `[a-z0-9 .,]`);
  * multi-byte code points would diverge from the codepoint-based oracle. */
case class PolyHashExpr(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(v: Any): Any =
    PolyHashExpr.hash(v.asInstanceOf[UTF8String], base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashExpr.hash($c, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The engine's two polynomial hash families, named once: `poly_hash`
  * (base 31 mod 1e9+7) and `poly_hash2` (base 131 mod 1e9+9). */
object PolyHashExpr {
  final val Base = 31L
  final val Mod = 1000000007L
  final val Base2 = 131L
  final val Mod2 = 1000000009L

  /** h ← (h·base + byte) mod `mod` over the bytes of `s`. The reduction
    * waits until h·base + 255 could overflow: each step keeps h's residue,
    * so the final `% mod` equals reducing at every byte, at a division per
    * few bytes instead of per byte (`mod` is an argument, so the JIT cannot
    * turn `% mod` into a multiplication as it does for a constant). */
  def hash(s: UTF8String, base: Long, mod: Long): Long = {
    val limit = (Long.MaxValue - 0xff) / base
    val bs = s.getBytes
    var h = 0L
    var i = 0
    while (i < bs.length) {
      if (h > limit) h %= mod
      h = h * base + (bs(i) & 0xff)
      i += 1
    }
    h % mod
  }
}

/** FNV-1a 32-bit hash of a string's bytes, codegen'd — the reference's
  * partition function (`/root/reference/src/mr/worker.go:22-26`:
  * `fnv.New32a` then `Sum32() & 0x7fffffff`). Returned as the uint32
  * value in a long; the oracle emulates the 32-bit wrap with
  * `(xor(h, c) * 16777619) % 4294967296` (exact in int64 for the ASCII
  * corpus, where byte ≡ codepoint). */
case class Fnv1aExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a32"

  override def nullSafeEval(v: Any): Any = Fnv1aExpr.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1aExpr.hash($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Fnv1aExpr {
  def hash(s: UTF8String): Long = {
    val bs = s.getBytes
    var h = 2166136261L
    var i = 0
    while (i < bs.length) {
      h = ((h ^ (bs(i) & 0xffL)) * 16777619L) & 0xffffffffL
      i += 1
    }
    h
  }
}

/** Intersection size of two ASCENDING-sorted array<bigint> columns via a
  * two-pointer merge — the closing step of the edge-iterator triangle
  * census: one intersection per oriented edge instead of materializing
  * (and exchanging) every wedge candidate. Codegen'd to a branch-light
  * loop; the built-in `array_intersect` allocates a hash set per row,
  * which on millions of edge rows is pure garbage-collector pressure.
  *
  * Precondition (caller-enforced, as with [[FoldDotProduct]]'s trusted
  * vectors): both arrays sorted ascending with distinct non-null
  * elements — exactly what `sort_array(collect_set(...))` produces. The
  * expression is registered on the SQL surface, so the array<bigint>
  * shape is declared via [[ExpectsInputTypes]] — a mistyped SQL call
  * fails at analysis time instead of corrupting inside codegen; the
  * sortedness precondition itself stays a caller contract (a runtime
  * sortedness probe would cost the pass the expression exists to avoid). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbsDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedIntersectCount {
  def count(x: ArrayData, y: ArrayData): Long = {
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}

/** Two-pointer merge INTERSECTION of two sorted `array<bigint>` columns —
  * the element-returning sibling of [[SortedIntersectCount]], for
  * consumers that need the common members themselves (the per-edge
  * Jaccard query explodes them as triangle third-vertices). The built-in
  * `array_intersect` hashes one side per row and runs interpreted inside
  * the join projection; this stays a single static call inside
  * whole-stage codegen and exploits the arrays' sort order. */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbsDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.intersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedIntersect.intersect($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SortedIntersect {
  def intersect(x: ArrayData, y: ArrayData): ArrayData = {
    val (nx, ny) = (x.numElements(), y.numElements())
    val buf = new Array[Long](math.min(nx, ny))
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { buf(c) = xv; c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, c))
  }
}

/** Codepoint histogram of a string as `array<bigint>` with
  * [[CharHistExpr.Buckets]] buckets (codepoint mod bucket-count) — the
  * map-side precompute for [[BagDistance]] pre-verification in fuzzy
  * joins: each side's rows carry their histogram ONCE, so the cheap
  * per-pair lower bound never re-scans the strings. Bucket collisions
  * only merge categories, which can only LOWER the bag distance, so the
  * ≤-threshold prefilter stays lossless at any bucket count. */
case class CharHistExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbsDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_hist"

  override def nullSafeEval(v: Any): Any =
    CharHistExpr.hist(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharHistExpr.hist($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CharHistExpr {
  final val Buckets = 128

  def hist(s: UTF8String): ArrayData = {
    val str = s.toString
    val h = new Array[Long](Buckets)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      h(cp % Buckets) += 1L
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(h)
  }
}

/** Bag (multiset) distance between two histogram arrays:
  * max(Σ max(aᵢ−bᵢ,0), Σ max(bᵢ−aᵢ,0)) — a LOWER BOUND on edit distance
  * (each edit operation moves at most one unit of one-sided histogram
  * mass), so `bag_distance(ha, hb) <= k` keeps every pair with
  * levenshtein ≤ k while pruning the rest at O(buckets) per pair instead
  * of the O(len·k) banded DP. The standard cheap pre-verifier in blocked
  * entity resolution — on dimension names the discriminating characters
  * make this nearly as selective as the DP itself. */
case class BagDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbsDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "bag_distance"

  override def nullSafeEval(a: Any, b: Any): Any =
    BagDistance.distance(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BagDistance.distance($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object BagDistance {
  def distance(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var pa = 0L
    var pb = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      if (d > 0) pa += d else pb -= d
      i += 1
    }
    math.max(pa, pb)
  }
}

/** Content-defined chunk boundaries (the rsync/LBFS rolling-hash trick):
  * emits every 1-based CODEPOINT position i (Window ≤ i ≤ len) where the
  * polynomial hash of the trailing [[CdcBoundariesExpr.Window]]-codepoint
  * window is ≡ 0 (mod [[CdcBoundariesExpr.Mask]]). One O(n) incremental
  * Rabin–Karp pass per row.
  *
  * Positions are codepoint offsets — the same unit as `substring` /
  * `length`, which is what the chunk table slices with — and the window
  * hash folds codepoint VALUES, matching the DuckDB oracle's
  * per-codepoint recompute exactly, so boundary placement is correct on
  * any Unicode text, not just ASCII. (The chunk CONTENT fingerprint the
  * table then takes is [[PolyHashExpr]], whose byte-vs-codepoint ASCII
  * contract is a statement about hash values only, never positions.)
  * Codegen stays inside whole-stage codegen via a static call — the
  * per-row dispatch is amortized over the O(n) scan, unlike a custom
  * expression trapped inside an interpreted HOF lambda. */
case class CdcBoundariesExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbsDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override def nullSafeEval(v: Any): Any =
    CdcBoundariesExpr.boundaries(
      v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CdcBoundariesExpr.boundaries($c);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CdcBoundariesExpr {
  final val Window = 16
  final val Mask = 32
  private final val P = PolyHashExpr.Mod
  private final val B = PolyHashExpr.Base
  /** B^(Window−1) mod P — the drop-term multiplier of the rolling update. */
  private final val Pw: Long = {
    var x = 1L; var k = 0
    while (k < Window - 1) { x = x * B % P; k += 1 }
    x
  }

  /** All qualifying window-end positions, in codepoints. The window hash
    * is the fold h = h·B + codepoint mod P, maintained incrementally:
    * h' = (h − drop·B^(w−1))·B + next, with the last Window codepoints
    * kept in a ring buffer for the drop term. For ASCII input every
    * codepoint equals its byte, so this is value-identical to the
    * byte-rolling formulation it replaces. */
  def boundaries(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    val ring = new Array[Long](Window)
    var h = 0L
    var cpSeen = 0 // codepoints consumed so far
    var i = 0      // UTF-16 char index into str
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      if (cpSeen >= Window)
        h = (h - ring(cpSeen % Window) * Pw % P + P) % P
      h = (h * B + cp) % P
      ring(cpSeen % Window) = cp.toLong
      cpSeen += 1
      if (cpSeen >= Window && h % Mask == 0) out += cpSeen
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Full 64-permutation MinHash signature of a shingle array in ONE
  * compiled pass — per shingle both polynomial hashes (base 31 mod 1e9+7,
  * base 131 mod 1e9+9) and all 64 permutation minima
  * (h1 + i·h2 mod 2³¹−1) update in a single loop.
  *
  * Semantically identical to the higher-order-function composition
  * `transform(0..63, i -> array_min(zip_with(transform(shs, poly_hash),
  * transform(shs, poly_hash2), (a,b) -> pmod(a + i*b, 2³¹−1))))` — but
  * that composition runs INTERPRETED (HigherOrderFunction is
  * CodegenFallback, and custom expressions inside its lambdas interpret
  * per element). This is the map-side signature kernel of the streaming
  * LSH ingest path, where each row must carry its own signature because
  * no aggregation may precede the stream-static probe join. Duplicate
  * shingles are harmless (minima are multiplicity-blind), so the result
  * equals the batch aggregation over the DISTINCT shingle set. Empty
  * array → null (a shingle-less doc has no signature). */
case class MinhashSigExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbsDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(v: Any): Any =
    MinhashSigExpr.sig(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinhashSigExpr.sig($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinhashSigExpr {
  final val Perms = 64
  private final val M = 2147483647L

  /** The signature array, or null for an empty shingle set. */
  def sig(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = new Array[Long](Perms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var k = 0
    while (k < n) {
      val bs = arr.getUTF8String(k).getBytes
      var h1 = 0L
      var h2 = 0L
      var i = 0
      while (i < bs.length) {
        val b = bs(i) & 0xff
        h1 = (h1 * PolyHashExpr.Base + b) % PolyHashExpr.Mod
        h2 = (h2 * PolyHashExpr.Base2 + b) % PolyHashExpr.Mod2
        i += 1
      }
      // h1 + 63·h2 < 6.4e10 — no overflow, operands non-negative, so the
      // JVM % equals the batch path's pmod
      var p = 0
      while (p < Perms) {
        val v = (h1 + p * h2) % M
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

object VectorExpressions {
  /** Column wrapper for [[Fnv1aExpr]]. */
  def fnv1a(c: Column): Column =
    GraftShims.column(Fnv1aExpr(GraftShims.expression(c)))

  /** Column wrapper for [[SortedIntersectCount]]. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShims.column(SortedIntersectCount(GraftShims.expression(a), GraftShims.expression(b)))

  /** Column wrapper for [[SortedIntersect]]. */
  def sortedIntersect(a: Column, b: Column): Column =
    GraftShims.column(SortedIntersect(GraftShims.expression(a), GraftShims.expression(b)))

  /** Column wrapper for [[CharHistExpr]]. */
  def charHist(c: Column): Column =
    GraftShims.column(CharHistExpr(GraftShims.expression(c)))

  /** Column wrapper for [[BagDistance]]. */
  def bagDistance(a: Column, b: Column): Column =
    GraftShims.column(BagDistance(GraftShims.expression(a), GraftShims.expression(b)))

  /** Column wrapper for [[MinhashSigExpr]]. */
  def minhashSig(c: Column): Column =
    GraftShims.column(MinhashSigExpr(GraftShims.expression(c)))
}

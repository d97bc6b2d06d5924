package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.functions._

/** Shared column-level building blocks.
  *
  * Everything here is built from `org.apache.spark.sql.functions` or from
  * the native kernels in `VectorExpressions.scala` (this object is the one
  * Column constructor of the hash and fold kernels), so the expressions
  * stay inside whole-stage codegen — no Scala UDFs on the hot path. Each
  * helper has an exact ANSI-SQL twin used by the DuckDB oracles (see
  * [[graft.Oracles]]), which is why the hash/fold algorithms are simple
  * and portable rather than Spark-internal (Murmur3).
  */
object Fns {

  /** Tokenizer of the reference word-count app
    * (`/root/reference/src/mrapps/wc.go:21-34`): split on any non-letter,
    * case-sensitive. Fixture corpus is ASCII so the `[a-zA-Z]` class is
    * exactly `unicode.IsLetter` here, and Java regex / DuckDB RE2 agree on
    * it. [[tokensArr]] returns array<string> including a possible empty
    * first element (callers that explode it filter `w <> ''` after);
    * [[words]] is the same array with the empties dropped. */
  val TokenPattern = "[^a-zA-Z]+"

  def tokensArr(text: Column): Column = split(text, TokenPattern)

  /** The tokens of `text` with empties dropped — one expression for every
    * token-array consumer, so they stay token-for-token identical. */
  def words(text: Column): Column = filter(tokensArr(text), w => w =!= lit(""))

  /** Word-bigram array of a pre-tokenized (empties already filtered)
    * array column — one shared expression so every bigram consumer
    * (corpus table, quality signals, collocations) stays token-for-token
    * identical with its oracle. */
  def bigramsArr(t: Column): Column =
    when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2),
          i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Word-trigram array of a pre-tokenized array column: the 3-token
    * shingles of the minhash family and the HLL census, empty below three
    * tokens. */
  def trigramsArr(t: Column): Column =
    when(size(t) >= 3,
        transform(sequence(lit(0), size(t) - 3),
          i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
            element_at(t, i + 3))))
      .otherwise(array().cast("array<string>"))

  /** Unicode tokenizer: exact `unicode.IsLetter` semantics of the reference
    * (`/root/reference/src/mrapps/wc.go:23`) on any corpus, via the \p{L}
    * Unicode-letter property class — Java regex and DuckDB RE2 agree on
    * the category tables. [[TokenPattern]] stays the default for the ASCII
    * fixture corpus (identical behavior there, slightly cheaper). */
  val UnicodeTokenPattern = "[^\\p{L}]+"

  def tokensArrUnicode(text: Column): Column = split(text, UnicodeTokenPattern)

  /** Polynomial rolling hash, base 31 mod 1e9+7, over the characters of a
    * string. Portable: the oracle reproduces it with
    * list_reduce(list_prepend(0, list_transform(regexp_extract_all(s,'.'),
    * c -> ascii(c))), (h,c) -> (h*31+c) % 1000000007).
    * Used for document fingerprinting and SimHash token hashes; backed by
    * the codegen'd [[PolyHashExpr]]. */
  def polyHash(str: Column): Column =
    GraftShims.column(PolyHashExpr(GraftShims.expression(str), PolyHashExpr.Base, PolyHashExpr.Mod))

  /** Second independent polynomial hash (base 131 mod 1e9+9) for algorithms
    * needing two hash families (MinHash permutations via h1 + i*h2). */
  def polyHash2(str: Column): Column =
    GraftShims.column(PolyHashExpr(GraftShims.expression(str), PolyHashExpr.Base2, PolyHashExpr.Mod2))

  /** Dot product of two array<double> columns as a strict left-to-right fold,
    * so the result is bit-identical to the DuckDB oracle's
    * list_reduce(list_prepend(0.0, list_transform(a,(x,i)->x*b[i])),+).
    * Backed by the codegen'd [[FoldDotProduct]] expression (the equivalent
    * `aggregate(zip_with(...))` composition is interpreted and ~20× slower
    * on the pairwise-similarity hot path). */
  def dotD(a: Column, b: Column): Column =
    GraftShims.column(FoldDotProduct(GraftShims.expression(a), GraftShims.expression(b)))

  /** L2 norm, same fold discipline as [[dotD]]. */
  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** Squared Euclidean distance over two array<bigint> columns — the
    * codegen'd integer fold [[FoldSqDiff]]; order-independent and exact,
    * so any engine reproduces it bit-for-bit (the k-means oracle does). */
  def sqDistL(a: Column, b: Column): Column =
    GraftShims.column(FoldSqDiff(GraftShims.expression(a), GraftShims.expression(b)))

  /** Cosine similarity between two array<double> columns. */
  def cosineD(a: Column, b: Column): Column = dotD(a, b) / (normD(a) * normD(b))

  /** Exact-sum helper: fold a double column through decimal(18,2) so the
    * aggregation is exact and engine-order-independent, then surface a
    * correctly-rounded double. Both engines produce identical bits. */
  def sumD2(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 2))).cast("double")

  /** Same with 6 fractional digits for products like price*(1-discount). */
  def sumD6(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double")

  /** Content-defined chunk boundary positions of a string column — the
    * codegen'd O(n) rolling-hash scan [[CdcBoundariesExpr]] (window 16,
    * boundary when window hash ≡ 0 mod 32). */
  def cdcBoundaries(c: Column): Column =
    GraftShims.column(CdcBoundariesExpr(GraftShims.expression(c)))
}

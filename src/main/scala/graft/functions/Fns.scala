package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared deterministic-function kit.
  *
  * Every helper here is written so the same computation is expressible in
  * portable SQL for the DuckDB oracle (see SparkEntry.oracleSql):
  *  - money / ratios are materialized as integers (cents / 1e-4 units), never
  *    floating-point outputs, so hash comparison is exact;
  *  - the rolling hash is plain 64-bit integer arithmetic (no engine-specific
  *    hash function), reproducible in DuckDB via list_reduce;
  *  - the tokenizer reproduces the reference engine's `\b[a-z]+\b` word regex
  *    (reference: worker.py:6,13). [[tokens]] runs it through the codegen'd
  *    built-in regexp engine; the word count reads ASCII rows with a byte
  *    scan that yields the same tokens (TextAnalytics.wordCountsText) and
  *    sends every other row through [[tokens]].
  */
object Fns {

  /** Reference tokenizer pattern (reference worker.py:6). JDK 17's regex `\b`
    * is Unicode-aware like CPython's — verified parity in FIXTURES.md §A4 and
    * pinned by TokenizerSpec's boundary golden. JDK 19+ made `\b` ASCII-only
    * (JDK-8264160), which would yield `caf` from `café`; a JDK change must
    * pass that golden before the non-ASCII tokens can be trusted. */
  val TokenRe = "\\b[a-z]+\\b"

  /** lower + tokenize to array<string> (reference worker.py:13). */
  def tokens(c: Column): Column = regexp_extract_all(lower(c), lit(TokenRe), lit(0))

  /** Money as integer cents: round-half-away-from-zero matches DuckDB round(). */
  def cents(c: Column): Column = round(c * lit(100)).cast("long")

  /** Fixed-point 1e-4 units for ratios/similarities (determinism rule R3). */
  def e4(c: Column): Column = round(c * lit(10000)).cast("long")

  /** 32-bit polynomial rolling hash of a string: h = (h*31 + ascii(ch)) & (2^32-1).
    * Never overflows int64 (max (2^32-1)*31 + 255 < 2^63). DuckDB twin:
    * list_reduce(list_prepend(0, list_transform(range(1, length(s)+1),
    *   i -> ascii(substr(s, i, 1)))), (h, c) -> (h * 31 + c) & 4294967295).
    * Backed by the codegen'd PolyHash32 expression (single generated char
    * loop); polyHashHof is the original higher-order formulation, kept as
    * the semantic reference for the parity test in FnsParitySpec.
    */
  val HashMask = 4294967295L // 2^32 - 1
  def polyHash(s: Column): Column =
    org.apache.spark.sql.graft.StringExprs.polyHash32(s)

  /** 57-bit wide rolling hash, base-parameterized — the collision-resistant
    * sibling of [[polyHash]] for fingerprint KEYS (where a collision
    * manufactures a false duplicate rather than merely perturbing an
    * order). Two coprime bases (31, 37) give an independent 114-bit pair;
    * prefix/suffix SALTS cannot substitute, because a fixed-base polynomial
    * hash is affine for equal-length inputs, so salted variants collide
    * exactly when the unsalted one does. Mask 2^57-1 keeps the pre-mask
    * product overflow-free in DuckDB's checked BIGINT fold (base ≤ 63). */
  def polyHash57(s: Column, base: Int): Column =
    org.apache.spark.sql.graft.StringExprs.polyHash57(s, base)

  /** Salted hash bucket: [[polyHash]] of the salt-prefixed input, mod m —
    * ONE definition behind the Bloom-filter probe positions and the
    * count-min-sketch cell columns (each mirrored by a byte-identical
    * list_reduce twin in its oracle SQL); polyHash is masked non-negative,
    * so the mod agrees across engines. */
  def saltedBucket(salt: String, s: Column, m: Int): Column =
    polyHash(concat(lit(salt), s)) % m

  /** 32-bit avalanche finisher (degski's double xor-shift-multiply) over a
    * [[polyHash]] value. polyHash of SHORT, shared-prefix strings (e.g.
    * "strat:" + doc_id) is rank-correlated with the suffix and lands in a
    * narrow band of the 32-bit space — harmless when only the ORDER is
    * consumed, fatal for anything that cuts by VALUE (a hash-threshold
    * pre-filter admits by h ≤ t, so h must be uniform). Two rounds give
    * full avalanche; every step is exact 64-bit integer arithmetic with no
    * overflow (x < 2^32, multiplier < 2^27 ⇒ product < 2^59), so the
    * DuckDB twin — xor(x >> 16, x) and the same multiply/mask — matches
    * bit for bit. */
  def mix32(c: Column): Column = {
    val m = lit(73244475L) // 0x45d9f3b
    val mask = lit(HashMask)
    val x1 = (shiftright(c, 16).bitwiseXOR(c) * m).bitwiseAND(mask)
    val x2 = (shiftright(x1, 16).bitwiseXOR(x1) * m).bitwiseAND(mask)
    shiftright(x2, 16).bitwiseXOR(x2)
  }

  def polyHashHof(s: Column): Column =
    when(length(s) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1))).cast("long")),
        lit(0L),
        (h, c) => (h * lit(31L) + c).bitwiseAND(lit(HashMask))))

  /** Sequential dot product over array<double> — same accumulation order as
    * DuckDB's list_inner_product, so results are bit-identical. Backed by the
    * codegen'd org.apache.spark.sql.graft.DotProductDouble (primitive loop, no
    * per-row allocation — the HOF zip_with/aggregate form interprets a lambda
    * per element, which dominates all-pairs similarity cost). */
  def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.dotDouble(a, b)

  def toDoubleArr(c: Column): Column = c.cast("array<double>")

  /** Cosine similarity = dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))), all double. */
  def cosine(a: Column, b: Column): Column = {
    val ad = toDoubleArr(a); val bd = toDoubleArr(b)
    dotD(ad, bd) / (sqrt(dotD(ad, ad)) * sqrt(dotD(bd, bd)))
  }

  def l2Norm(a: Column): Column = sqrt(dotD(a, a))

  /** Word n-grams (as "w1 w2 ... wn" strings) from a token array; docs with
    * < n tokens yield an empty array. Backed by the WordNgrams expression
    * (direct ArrayData loop); wordNgramsHof is the original higher-order
    * formulation, kept as the semantic reference for FnsParitySpec. */
  def wordNgrams(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.StringExprs.wordNgrams(toks, n)

  def wordNgramsHof(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }
}

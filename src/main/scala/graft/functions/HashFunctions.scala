package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash primitives for MinHash and SimHash (SURVEY.md §2.3).
  *
  * All hashing is md5-hex over explicit strings, chosen deliberately:
  * md5 is identical in Spark and DuckDB, so signatures are
  * oracle-checkable *by construction* — the DuckDB SQL recomputes the
  * exact same bytes rather than approximating. (xxhash64 is faster but
  * Spark-only; it's used where no oracle is needed, e.g. winnowing.)
  */
object HashFunctions {

  /** MinHash_j over a shingle set: min over shingles of md5(j|s).
    * A string-min over hex digests is a valid uniform min-hash.
    */
  def minhash(shingles: Column, j: Int): Column =
    array_min(transform(shingles, s => md5(concat(lit(s"$j|"), s))))

  /** Full signature: `numHashes` minhashes as an array. Narrow map. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map(j => minhash(shingles, j)): _*)

  /** Universal-hash MinHash family: ONE md5 per shingle to a 32-bit
    * base hash, then `numHashes` independent draws via
    * `(a_j·h + b_j) mod P` — pure 64-bit integer ops, codegen'd.
    * 16× fewer md5 evaluations than the salted-md5 family above
    * (measured: the md5s dominated the whole minhash stage), with
    * oracle parity preserved because the DuckDB SQL is generated from
    * the SAME constants (see LlmQueries.d2MinhashLshSql).
    *
    * P = 2^31 − 1 (Mersenne prime): h,a < P keeps a·h+b < 2^62 — no
    * 64-bit overflow in either engine.
    */
  val MinhashP: Long = 2147483647L

  def minhashA(j: Int): Long = {
    val a = ((j + 1) * 2654435761L) % MinhashP // Knuth multiplicative constant
    if (a == 0) 1L else a
  }

  def minhashB(j: Int): Long = ((j + 1) * 2246822519L) % MinhashP // xxhash prime

  /** 32-bit base hash of a shingle, reduced mod P. */
  def minhashBase(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long") % MinhashP

  /** PRODUCTION base hash: xxhash64 reduced mod P — a codegen'd
    * integer hash with no digest allocation and no hex round-trip
    * (measured ~2× the md5 path on the signature stage). xxhash64 is
    * Spark-only, so this family is NOT DuckDB-replayable: md5 stays
    * the oracle path; pair-finding equivalence of the two families is
    * spec-checked on planted duplicates (DedupSpec) and the speedup is
    * benched (Bench "d2x_minhash_xxhash").
    */
  def minhashBaseXx(s: Column): Column = pmod(xxhash64(s), lit(MinhashP))

  /** The j-th universal min-hash measure over base hashes. */
  def universalMinhash(h: Column, j: Int): Column =
    (h * lit(minhashA(j)) + lit(minhashB(j))) % MinhashP

  private val hexAlphabet = "0123456789abcdef"

  /** 64-bit SimHash over a (distinct) token array, emitted as a
    * 16-char lowercase hex string.
    *
    * Token bits come from the first 16 nibbles of md5(token); each bit
    * votes ±1; the final bit is the vote's sign. The whole computation
    * is a single expression fold (transform/aggregate/zip_with) — a
    * narrow map with NO shuffle and no per-bit explode, which is what
    * makes it viable on 100 TB of documents.
    */
  def simhashHex(toks: Column): Column = {
    // ONE md5 per token, hoisted (r20): the nibble transform below
    // references the digest 16 times, and interpreted higher-order
    // functions do no common-subexpression elimination — inlining
    // `md5(t)` in the per-nibble lambda evaluated SIXTEEN md5s per
    // token (measured: the char-shingle parity test fell from
    // ~6.5 min to seconds, and d3/d3b ride the same expression).
    // Bit-identical: same digest, same per-nibble extraction.
    val hexes = transform(toks, t => md5(t))
    // per-token nibble values: array<array<int>> (16 nibbles each)
    val nibbles = transform(hexes, h =>
      transform(sequence(lit(1), lit(16)),
        k => conv(h.substr(k, lit(1)), 16, 10).cast("int")))
    // ±1 votes per bit position p (p/4 = nibble idx, p%4 = bit in nibble)
    val pw = array(lit(1), lit(2), lit(4), lit(8))
    def bits64(h: Column): Column =
      transform(sequence(lit(0), lit(63)), p => {
        val nib = element_at(h, (p / 4).cast("int") + 1)
        val p2 = element_at(pw, (p % 4).cast("int") + 1)
        ((nib / p2).cast("int") % 2) * 2 - 1
      })
    val votesExpr = aggregate(nibbles,
      transform(sequence(lit(0), lit(63)), _ => lit(0)),
      (acc, h) => zip_with(acc, bits64(h), (x, y) => x + y))
    // LET-BIND the vote fold (r20): the reassembly below references
    // `votes` 64 times (4 bits × 16 nibbles) inside a lambda, and
    // interpreted higher-order functions re-evaluate a referenced
    // SUBTREE per reference — the whole corpus-length aggregate ran
    // 64×. Wrapping it as the one element of a transform makes the
    // references lambda-VARIABLE reads: the fold evaluates once.
    // Bit-identical (same votes, same reassembly).
    def reassemble(votes: Column): Column = concat_ws("",
      transform(sequence(lit(0), lit(15)), k => {
        val nibVal = (0 until 4).map { b =>
          when(element_at(votes, (k * 4 + b + 1).cast("int")) > 0, lit(1 << b)).otherwise(lit(0))
        }.reduce(_ + _)
        lit(hexAlphabet).substr(nibVal + 1, lit(1))
      }))
    // reassemble: nibble k = Σ_b (votes[4k+b] > 0) << b → hex char
    element_at(transform(array(votesExpr), votes => reassemble(votes)), 1)
  }
}

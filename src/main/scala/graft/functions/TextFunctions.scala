package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column functions for the LLM-data-pipeline operators (dedup,
  * similarity, text analysis) — pure `Column → Column` built-ins, all
  * whole-stage-codegen'd, each with an exact DuckDB twin (the SQL
  * fragments live next to the queries in `operators.Pipeline.Sql`).
  *
  * Engine-portable hashing: every hash is derived from `md5` (identical
  * bytes in Spark and DuckDB) — never `hash()`/`xxhash64`, whose
  * algorithms differ between engines.
  */
object TextFunctions {

  /** Modulus for MinHash / fingerprint arithmetic: 2^31 − 1 (Mersenne
    * prime). Products of two sub-2^31 values stay within 2^62 — no long
    * overflow anywhere in the hash pipeline. */
  val P: Long = 2147483647L

  /** Canonical text form for normalization-aware dedup: lowercase →
    * non-alphanumerics to spaces → runs of spaces to one → trim. THE
    * one derivation shared by batch q91 and the streaming
    * normalized-dedup gate (the `cdcChunkExplode` discipline: a batch
    * job and the stream it hands off to must collapse the identical
    * variants). DuckDB twin: the same three-step regexp chain with the
    * 'g' flag (Spark's regexp_replace is global by default). */
  def canonicalText(s: Column): Column =
    trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", " "),
      " +", " "))

  /** 60-bit engine-portable string hash: the first 15 hex digits of md5,
    * parsed as a positive long. */
  def portableHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Portable hash reduced mod P (the MinHash universe). */
  def portableHashMod(s: Column): Column = pmod(portableHash(s), lit(P))

  /** Word k-shingles of a token array: overlapping k-grams joined by a
    * single space, deduplicated. Empty array when the document is shorter
    * than k tokens.
    *
    * Construction is zip-against-own-shifts, NOT per-position slicing:
    * a `transform(sequence(...), i => slice(toks, i+1, k))` lambda
    * embeds a fresh copy of the `toks` expression at every reference,
    * so when `toks` is `split(text)` the text gets re-split once per
    * position per evaluation (O(T²) per doc, measured 50× slower).
    * Zipping k shifted views references `toks` only k+1 times and does
    * O(1) work per element. `zip_with` pads the shorter side with
    * null; `concat` null-propagates, and the final `slice` keeps only
    * the n−k+1 complete shingles. */
  def wordShingles(toks: Column, k: Int): Column = {
    require(k >= 2, "shingle width must be >= 2")
    val n = size(toks)
    val joined = (2 to k).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), n - (j - 1)), (a, b) => concat(a, lit(" "), b))
    }
    when(n >= k, array_distinct(slice(joined, lit(1), n - (k - 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** As [[wordShingles]] but WITHOUT the distinct: the full k-gram
    * MULTISET in document order. Set-similarity operators (MinHash,
    * Jaccard) want the distinct form; repetition measurement
    * (duplicated-gram fraction, q68) needs every occurrence. Same
    * zip_with fold — one map-side pass, no explode. */
  def wordShingleMultiset(toks: Column, k: Int): Column = {
    require(k >= 2, "shingle width must be >= 2")
    val n = size(toks)
    val joined = (2 to k).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), n - (j - 1)), (a, b) => concat(a, lit(" "), b))
    }
    when(n >= k, slice(joined, lit(1), n - (k - 1)))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: for each of `numHashes` linear hash functions
    * `(a_h·x + b_h) mod P` (a_h = 2h+1, b_h = 12289·h), the minimum over
    * the shingle-hash set. One pass over an array column — no explode, so
    * signature computation is fully map-side. */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(shingleHashes,
        x => pmod((h * 2 + 1) * x + h * lit(12289L), lit(P)))))

  /** LSH band signatures: `numBands` bands of `rowsPerBand` signature
    * entries, each band compressed to one long via a base-31 positional
    * weighting (exact in int64: entries < 2^31, weights ≤ 31^3). Docs
    * sharing any band signature become near-dup candidates — candidate
    * generation is per-bucket, never all-pairs. */
  def lshBands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b => {
      val terms = (0 until rowsPerBand).map { r =>
        element_at(sig, b * rowsPerBand + r + 1) * lit(math.pow(31, r).toLong)
      }
      terms.reduce(_ + _)
    })

  /** The md5 band bucket of band `b` (0-based; a Column, so a sweep
    * can pass its lambda variable): the band's `rowsPerBand` signature
    * entries joined by commas and hashed with [[portableHashMod]], so
    * any r hashes to one 31-bit bucket. One derivation for the MinHash
    * knob sweeps (q131/q147/q149) and the verified streaming near-dup
    * gate. */
  def md5BandBucket(sig: Column, b: Column, rowsPerBand: Int): Column =
    portableHashMod(array_join(transform(
      slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)),
      x => x.cast("string")), ","))

  /** Jaccard similarity of two pre-deduplicated arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Dot product of two numeric arrays in double precision — a sequential
    * left fold in array order, so the float summation order is identical
    * to the DuckDB twin's `list_sum`. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm of a numeric array (double). */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity of two numeric arrays (double). */
  def cosine(a: Column, b: Column): Column = dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** 16-bit SimHash over a (multiset) token-hash array: bit b is set when
    * the frequency-weighted ±1 vote of bit b across token hashes is
    * positive. Since r18 this delegates to the native codegen'd
    * expression ([[graft.expressions.SimhashBits]] at 16 — one compiled pass
    * accumulating all 16 bit votes, where the HOF form walked the
    * token array sixteen times interpreted); the vote semantics are
    * unchanged and scalacheck-pinned against the HOF reference
    * ([[simhash16Hof]]) in BpeExpressionsSpec, so every consumer
    * (q28, the streaming dedup/ingest gates, q142) keys on the
    * identical signature. */
  def simhash16(tokenHashes: Column): Column =
    graft.expressions.BpeFunctions.simhash16Native(tokenHashes)

  /** The original HOF vote fold — the REFERENCE derivation the native
    * expression is pinned against (and the form the DuckDB twins
    * mirror). Bit test `(x div 2^b) mod 2` avoids variable-shift
    * builtins (exact for x < 2^31, b ≤ 15 — the double division has a
    * ≤31-bit significand). */
  private[graft] def simhash16Hof(tokenHashes: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(15)), b => {
        val votes = aggregate(tokenHashes, lit(0L), (acc, x) =>
          acc + when((x / pow(lit(2.0), b)).cast("long") % 2 === 1, 1L).otherwise(-1L))
        when(votes > 0, pow(lit(2.0), b).cast("long")).otherwise(0L)
      }),
      lit(0L), (acc, v) => acc + v)

  /** Position-weighted rolling-hash document fingerprint:
    * `Σ ((pos+1) · (h(tok) mod P)) mod P`, finally reduced mod P. Order-
    * sensitive (a permutation of the same tokens fingerprints
    * differently), bounded at 2^31·len — no overflow below 2^32 tokens. */
  def fingerprint(toks: Column): Column =
    pmod(
      aggregate(
        transform(toks, (t, i) => pmod((i + 1) * portableHashMod(t), lit(P))),
        lit(0L), (acc, v) => acc + v),
      lit(P))
}

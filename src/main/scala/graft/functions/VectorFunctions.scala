package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Vector / hashing column functions for similarity search and near-dup
  * detection over embedding columns (`array<float>`).
  *
  * All pure higher-order-function expressions (`zip_with`, `aggregate`,
  * `transform`) — codegen'd, no UDFs, no driver round-trips. At 100 TB
  * these evaluate per-row inside the scan stage.
  */
object VectorFunctions {

  /** Math in double precision regardless of input element type: float
    * accumulation drifts and would disagree with any double-math oracle.
    */
  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Column `c` of `df` as `array<double>`: the column itself when it
    * already is one. The optimizer drops a no-op cast of a
    * non-null-element array, so the optimized plan would disagree with
    * the analyzed one on element nullability, and a checkpoint of the
    * frame would lose its statistics (LogicalRDD's output-columns
    * warning).
    */
  def doubles(df: DataFrame, c: String): Column =
    df.select(col(c)).schema.head.dataType match {
      case ArrayType(DoubleType, _) => col(c)
      case _ => col(c).cast("array<double>")
    }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Squared Euclidean distance — the PQ codebook metric ([[graft
    * .operators.Embeddings.pqTrain]]; Jégou et al. 2011 train and
    * encode in L2, which quantizes magnitude as well as direction —
    * an angle-only cosine assignment discards the slice magnitudes
    * and measurably degrades asymmetric-distance ranking). Same
    * left-to-right fold as [[dot]]: Σ (aᵢ−bᵢ)², sequential adds, so
    * an independent engine replaying the order reproduces it
    * bit-for-bit. Single-pass custom expression, bit-identical to the
    * HOF `aggregate(zip_with(...))` formulation it replaces — see
    * [[ArrayOps.SqDistDouble]] (the [[cosine]] precedent; the HOF form
    * paid a fresh whole-stage-codegen compile per distinct plan, which
    * dominated the k-center traversal's per-round driver time).
    */
  def sqDist(a: Column, b: Column): Column =
    ArrayOps.sqDistDouble(asDouble(a), asDouble(b))

  /** Single-pass custom expression; bit-identical to the HOF
    * dot/norm/norm formulation but without three array allocations per
    * pair — see [[ArrayOps.CosineDouble]].
    */
  def cosine(a: Column, b: Column): Column =
    ArrayOps.cosineDouble(asDouble(a), asDouble(b))

  /** MinHash signature of a set of string shingles.
    *
    * One base 64-bit hash (`xxhash64`) per element, then `k` affine
    * permutations h_i(x) = (a_i * x + b_i) mod p over a Mersenne prime —
    * the textbook construction. `array_min(transform(...))` keeps the
    * whole signature computation inside one projection: NO explode, NO
    * shuffle. Deterministic seeds so runs are reproducible.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    minhashSignatureOfHashes(transform(shingles, s => xxhash64(s)), k)

  /** Signature over pre-hashed (64-bit) set elements — the fast path when
    * the caller already hashed its shingles once for reuse downstream.
    * Native single pass (see [[ArrayOps.MinHashSignature]] for the
    * construction: k affine permutations over the Mersenne prime).
    */
  def minhashSignatureOfHashes(hashes: Column, k: Int): Column =
    ArrayOps.minhashSignatureNative(hashes, k)

  /** Banding for LSH: split a k-length signature into `bands` groups and
    * hash each group — docs sharing ANY band bucket become candidates.
    * Returns array<struct<band:int, bucket:long>> ready to explode.
    */
  def minhashBands(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val rows = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(signature, b * rows + 1, rows)).as("bucket"))
    }: _*)
  }

  /** 64-bit SimHash over string tokens: per-bit majority vote of token
    * hashes. Near-duplicate docs differ in few bits (small Hamming
    * distance).
    *
    * Single pass: each token is hashed ONCE and its 64 bits accumulated
    * into a count vector (the previous per-bit formulation re-ran
    * xxhash64 over every token 64 times). `tokens` should be a cheap
    * one native single-pass expression (ArrayOps.SimHash64) that
    * evaluates its child exactly once — `tokens` may be any expression.
    */
  def simhash64(tokens: Column, kernel: String = "xxhash"): Column =
    ArrayOps.simhash64Native(tokens, kernel)

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity of two string arrays treated as sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** Random-hyperplane LSH bucket for an embedding: sign-bit signature
    * against `nBits` deterministic pseudo-random hyperplanes. Vectors
    * with high cosine similarity collide with high probability — the
    * bucketing step for ANN search and embedding near-dup.
    *
    * Hyperplane component j of plane i is a deterministic ±1 derived from
    * a hash of (i, j) — no broadcast of a plane matrix needed. `kernel`
    * "xxhash" (default) or "md5" (SQL-replicable planes — the exact-
    * oracle configuration; see [[ArrayOps.Md5Kernel]]).
    */
  def hyperplaneLshBucket(vec: Column, nBits: Int, dim: Int,
      kernel: String = "xxhash"): Column =
    ArrayOps.hyperplaneBucket(asDouble(vec), nBits, dim, kernel)
}

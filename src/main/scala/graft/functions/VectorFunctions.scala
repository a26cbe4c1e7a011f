package graft.functions

import org.apache.spark.sql.Column

/** Embedding-vector column library for similarity search (SURVEY §7.5).
  *
  * Vectors are plain `array<float>` columns; arithmetic is done in
  * double by single-pass primitive-loop expressions (no UDF). The LSH
  * half implements random-hyperplane signatures whose hyperplanes are
  * generated driver-side from a fixed seed and embedded as array
  * literals — deterministic across runs and executors, no state to ship.
  */
object VectorFunctions {

  /** Cosine similarity (NULL for a zero vector) via the single-pass
    * primitive-loop expression ([[FloatVecCosine]]) — same fold order
    * and zero-norm semantics as SimilaritySpec's `zip_with`+`aggregate`
    * reference, minus the interpreted per-element lambdas. This is the
    * hot verify kernel of the candidate-pair pipelines.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.shims.column(FloatVecCosine(
      org.apache.spark.sql.graft.shims.expression(a),
      org.apache.spark.sql.graft.shims.expression(b)))

  /** Deterministic unit-free random hyperplanes: `n` rows of `dim`
    * doubles in [-1, 1), from a seeded PRNG. Signs of projections onto
    * these give the classic SimHash-for-cosine LSH (Charikar 2002).
    */
  def hyperplanes(n: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n, dim)(rng.nextDouble() * 2 - 1)
  }

  /** All `tables` bucket keys for a vector as one array column; each
    * table uses its own `bitsPerTable` hyperplanes. A vector pair
    * colliding in ANY table becomes an ANN candidate:
    * P(candidate) = 1 - (1 - p^bits)^tables with p = 1 - θ/π.
    * Evaluated by the single-pass [[VectorExpressions.lshBuckets]]
    * expression; SimilaritySpec checks it against a value-identical
    * Column-fold form.
    */
  def lshBuckets(
      v: Column,
      dim: Int,
      tables: Int,
      bitsPerTable: Int,
      seed: Long = 42L): Column =
    VectorExpressions.lshBuckets(
      v, hyperplanes(tables * bitsPerTable, dim, seed), tables, bitsPerTable)

  /** Multiprobe variant for the PROBE side of an ANN join: each table's
    * exact bucket plus its Hamming-distance-1 sign neighbors (probes are
    * few, so the ×(1+bits) key expansion costs nothing while recall
    * roughly triples in weak-similarity regimes).
    */
  def lshProbeBuckets(
      v: Column,
      dim: Int,
      tables: Int,
      bitsPerTable: Int,
      seed: Long = 42L): Column =
    VectorExpressions.lshProbeBuckets(
      v, hyperplanes(tables * bitsPerTable, dim, seed), tables, bitsPerTable)
}

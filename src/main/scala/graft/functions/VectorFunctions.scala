package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from
  * codegen'd native expressions ([[graft.expressions.VectorExpressions]]) —
  * no UDF serialization cost, works directly on the columnar representation.
  * All arithmetic is widened to double for oracle-grade determinism.
  */
object VectorFunctions {

  /** Sum of elementwise products, in double (codegen'd native expression). */
  def dot(a: Column, b: Column): Column = graft.expressions.VectorExpressions.dot(a, b)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. Single-pass
    * codegen'd native expression — the inner loop of ANN/dedup joins.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosine(a, b)

  /** L2-normalized copy of the vector (double elements). Pre-normalizing the
    * corpus once turns every cosine into a plain dot product — at 100 TB that
    * halves the flops and removes the per-row sqrt from the inner loop.
    * Native single-pass expression (the HOF form pays a boxed lambda per
    * element on every corpus row).
    */
  def l2Normalize(a: Column): Column =
    graft.expressions.VectorExpressions.l2Normalize(a)

  /** Index of the max-dot centroid (ties -> smaller id); the zero-shuffle
    * k-means/IVF assignment primitive. */
  def nearestCentroid(a: Column, centroids: Array[Array[Double]]): Column =
    graft.expressions.VectorExpressions.nearestCentroid(a, centroids)

  /** Symmetric int8 scalar quantization for embedding STORAGE: per-vector
    * scale = max|x|/127, codes = round(x/scale) in [-127, 127]. An
    * `array<float>` column (4 bytes/dim) shrinks to `array<tinyint>` + one
    * double (~1 byte/dim) — at 100 TB of embeddings that is the difference
    * between re-reading 100 TB and re-reading 25 TB on every ANN/dedup pass.
    * Reconstruction error is bounded by scale/2 per element; cosine
    * distortion at 64 dims is ~1e-3, far below any dedup threshold.
    */
  def quantizeInt8(vec: Column): Column =
    graft.expressions.VectorExpressions.quantizeInt8(vec)

  /** Inverse of [[quantizeInt8]]: codes * scale, as `array<double>`. */
  def dequantizeInt8(qv: Column): Column =
    graft.expressions.VectorExpressions.dequantizeInt8(qv)

  /** `nBits`-bit random-hyperplane signature packed into a long (native
    * primitive-loop expression). Hamming distance between signatures
    * approximates angular distance — the bucketing key for approximate
    * nearest-neighbor search. `planeOffset` selects a disjoint plane family,
    * so several independent hash tables (OR-amplification) can be built from
    * one function.
    */
  def hyperplaneSignature(vec: Column, nBits: Int, planeOffset: Int = 0): Column =
    graft.expressions.VectorExpressions.hyperplaneSig(vec, nBits, planeOffset)

  /** Deterministic Rademacher (+-1) random projection to `outDim`
    * dimensions — the Johnson-Lindenstrauss dimensionality-reduction step
    * that cuts every downstream ANN/dedup dot product and vector shuffle by
    * d/outDim. The implicit sign matrix is SplitMix64-derived from
    * (seed, row, col): no broadcast state, identical on every executor.
    */
  def randomProjection(vec: Column, outDim: Int, seed: Int = 0): Column =
    graft.expressions.VectorExpressions.randomProjection(vec, outDim, seed)
}

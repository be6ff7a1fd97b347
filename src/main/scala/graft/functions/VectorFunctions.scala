package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector/embedding helpers: array<float> ⇄ MLlib Vector and
  * codegen-friendly similarity math over raw arrays.
  *
  * For similarity we stay on `array<float>` columns and use built-in
  * higher-order functions (`aggregate`/`zip_with` are codegen'd),
  * converting to `VectorUDT` only at MLlib boundaries (KMeans/PCA) —
  * at 100 TB the conversion cost and UDT overhead on the scan path
  * matter.
  */
object VectorFunctions {

  // array<float> → dense MLlib vector: the native
  // graft.functions.vector_from_floats kernel (round 18) — the
  // former toMlVector UDF built a Scala Seq + ml Vector object per
  // row at the MLlib boundary.

  /** Dot product of two array<float/double> columns via
    * zip_with + aggregate (pure Catalyst, no UDF).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Squared euclidean distance of two array columns — the L2 kernel
    * of the PQ/ADC and exact-L2 rankers. Backed by the native
    * codegen [[EuclideanDist2]] expression (one fused loop inside
    * whole-stage codegen; the HOF formulation is interpreted and
    * allocates a zipped array per pair — on an all-pairs scan that is
    * the scoring rate).
    */
  def dist2(a: Column, b: Column): Column =
    graft.functions.euclidean_dist2(a, b)

  /** Cosine similarity of two embedding columns, computed in double.
    * Backed by the native codegen [[CosineSimilarity]] expression (one
    * fused loop inside whole-stage codegen); `dot` above is the HOF
    * building block for ad-hoc column math.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.cosine_similarity(a, b)
}

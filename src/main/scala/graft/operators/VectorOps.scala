package graft.operators

import org.apache.spark.ml.feature.VectorSlicer

/** Vector-column helpers for the reference's intended-but-buggy ops. */
object VectorOps {

  /** The INTENDED semantics of the reference's anti-membership column
    * drop (`R:284-286`, quirk Q3 — as written it is a no-op because
    * `%in%` compares against a data.frame): remove the vector slots
    * whose vocabulary term is in `drop`. Returns the configured
    * slicer; the kept indices preserve original order.
    */
  def sliceOutTerms(
      vocabulary: Array[String],
      drop: Set[String],
      inputCol: String,
      outputCol: String): VectorSlicer = {
    val kept = vocabulary.indices.filter(i => !drop(vocabulary(i)))
    new VectorSlicer()
      .setInputCol(inputCol).setOutputCol(outputCol)
      .setIndices(kept.toArray)
  }
}

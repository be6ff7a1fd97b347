package graft.operators

import graft.SparkSuite

class SpectralPcaSpec extends SparkSuite {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("a rank-1 direction owns the whole spectrum: first component " +
      "explains ~everything, the rest ~nothing; values descend") {
    // x2 = 2*x1 exactly -> correlation 1 -> eigenvalues (2, 0)
    val df = emb((1L to 50L).map(i =>
      (i, Seq((i % 11).toFloat, 2f * (i % 11)))): _*)
    val out = SpectralPca.explainedVariance(df, "vec_id", "embedding", 2)
      .orderBy("component").collect()
    assert(out(0).getDouble(1) === 1.0, s"${out.toSeq}")
    assert(out(1).getDouble(1) === 0.0, s"${out.toSeq}")
  }

  test("independent-ish dimensions split the spectrum; explained " +
      "fractions are in [0,1], descending, and sum to <= 1") {
    val df = emb((1L to 60L).map(i =>
      (i, Seq((i % 7).toFloat, (i % 11).toFloat, (i % 13).toFloat))): _*)
    val out = SpectralPca.explainedVariance(df, "vec_id", "embedding", 3)
      .orderBy("component").collect().map(_.getDouble(1)).toSeq
    assert(out === out.sorted.reverse)
    assert(out.forall(v => v >= 0.0 && v <= 1.0))
    assert(out.sum <= 1.0 + 1e-9)
  }

  test("repartition-deterministic (the property the pinned oracle " +
      "constants depend on) and zero-variance dimensions are " +
      "excluded from the trace (quirk-Q7 guard)") {
    val df = emb((1L to 40L).map(i =>
      (i, Seq((i % 5).toFloat, 3f, (i % 9).toFloat))): _*)
    val a = SpectralPca.explainedVariance(df, "vec_id", "embedding", 3)
      .orderBy("component").collect().toSeq
    val b = SpectralPca.explainedVariance(df.repartition(11),
        "vec_id", "embedding", 3)
      .orderBy("component").collect().toSeq
    assert(a === b)
    // constant dim carries no direction: trace = 2, so the two real
    // components account for everything and the third is ~0
    val vals = a.map(_.getDouble(1))
    assert(math.abs(vals.take(2).sum - 1.0) < 1e-6, s"$vals")
    assert(vals(2) === 0.0, s"$vals")
  }
}

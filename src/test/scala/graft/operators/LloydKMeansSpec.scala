package graft.operators

import graft.SparkSuite

class LloydKMeansSpec extends SparkSuite {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("two tight clusters separate in one iteration: sizes and the " +
      "exact micro-squared cost match the hand computation") {
    // init = ids 1,2 (one from each cluster); cluster A near (1,0),
    // cluster B near (0,1)
    val df = emb(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.0f)), (4L, Seq(1.1f, 0.0f)),
      (5L, Seq(0.0f, 0.9f)), (6L, Seq(0.0f, 1.1f)))
    val out = LloydKMeans.fitSummary(df, "vec_id", "embedding",
        k = 2, iters = 2)
      .orderBy("cluster").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out.map(_.getLong(1)).toSeq === Seq(3L, 3L))
    // after iter 1 (and 2 — stable) centroid A = mean(1.0,0.9,1.1) =
    // (1.0, 0) exactly on the micro lattice; cost per cluster =
    // 0 + (1e5)^2 + (1e5)^2 = 2e10
    assert(out.map(_.getLong(2)).toSeq === Seq(20000000000L, 20000000000L))
  }

  test("deterministic under repartitioning; zero iterations scores " +
      "the raw codebook assignment") {
    val vecs = emb((1L to 40L).map(i =>
      (i, Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        (i % 7).toFloat / 7f))): _*)
    val a = LloydKMeans.fitSummary(vecs, "vec_id", "embedding", 4, 3)
      .orderBy("cluster").collect().toSeq
    val b = LloydKMeans.fitSummary(vecs.repartition(9), "vec_id",
        "embedding", 4, 3)
      .orderBy("cluster").collect().toSeq
    assert(a === b)
    assert(a.map(_.getLong(1)).sum === 40L)
    val raw = LloydKMeans.fitSummary(vecs, "vec_id", "embedding", 4, 0)
      .orderBy("cluster").collect().toSeq
    assert(raw.map(_.getLong(1)).sum === 40L)
  }

  test("a cluster that loses every member keeps its centroid (the " +
      "keep rule) and simply emits no row; duplicate-point ties " +
      "break to the smaller cell") {
    val df = emb(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f)), (4L, Seq(1.0f, 0.0f)))
    val out = LloydKMeans.fitSummary(df, "vec_id", "embedding", 2, 2)
      .collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L && out.head.getLong(1) === 4L)
    assert(out.head.getLong(2) === 0L)
  }
}

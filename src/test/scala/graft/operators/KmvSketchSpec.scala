package graft.operators

import graft.SparkSuite

class KmvSketchSpec extends SparkSuite {
  import spark.implicits._

  test("small sets are EXACT: identical sets read jaccard 1e6, " +
      "disjoint sets 0, and counts are true counts") {
    val a = (1 to 10).map(i => ("a", s"w$i"))
    val b = (1 to 10).map(i => ("b", s"w$i"))
    val c = (1 to 5).map(i => ("c", s"z$i"))
    val out = KmvSketch.pairwiseSetOps(
        (a ++ b ++ c).toDF("g", "v"), "g", "v", k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("a", "b"))
    assert(ab.getLong(2) === 10L && ab.getLong(3) === 10L)
    assert(ab.getLong(4) === 10L && ab.getLong(6) === 10L)
    assert(ab.getLong(7) === 1000000L, s"$ab")
    val ac = out(("a", "c"))
    assert(ac.getLong(4) === 15L && ac.getLong(5) === 0L &&
      ac.getLong(6) === 0L && ac.getLong(7) === 0L)
  }

  test("saturated sketches estimate within the KMV error bound and " +
      "overlap estimates track the planted 50% overlap") {
    // two groups of 2000 distinct values sharing exactly 1000
    val x = (1 to 2000).map(i => ("x", s"v$i"))
    val y = (1001 to 3000).map(i => ("y", s"v$i"))
    val out = KmvSketch.pairwiseSetOps(
        (x ++ y).toDF("g", "v"), "g", "v", k = 128)
      .collect().head
    // sigma/D ~ 1/sqrt(126) ~ 8.9%; assert 4-sigma bands
    assert(math.abs(out.getLong(2) - 2000L) < 720, s"$out")
    assert(math.abs(out.getLong(3) - 2000L) < 720, s"$out")
    assert(math.abs(out.getLong(4) - 3000L) < 1080, s"$out")
    // true jaccard = 1000/3000 = 333333 ppm; 4-sigma of binomial
    // k=128 draws at p=1/3 is ~0.167 -> wide band
    assert(math.abs(out.getLong(7) - 333333L) < 170000L, s"$out")
    // intersection estimate tracks 1000
    assert(out.getLong(6) > 300L && out.getLong(6) < 1900L, s"$out")
  }

  test("the sketch is partitioning-invariant (pinned hash lattice)") {
    val rows = (1 to 500).map(i => (s"g${i % 3}", s"t$i")).toDF("g", "v")
    val one = KmvSketch.pairwiseSetOps(rows.coalesce(1), "g", "v", 32)
      .orderBy("g1", "g2").collect().toSeq.map(_.toSeq)
    val many = KmvSketch.pairwiseSetOps(rows.repartition(13), "g", "v", 32)
      .orderBy("g1", "g2").collect().toSeq.map(_.toSeq)
    assert(one === many && one.size === 3)
  }
}

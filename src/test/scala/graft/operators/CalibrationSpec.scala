package graft.operators

import graft.SparkSuite

class CalibrationSpec extends SparkSuite {
  import spark.implicits._

  test("isotonicBins pools the classic adjacent violator, respects " +
      "weights, leaves monotone input untouched, and refuses " +
      "oversized bin tables") {
    // rates [0.2, 0.6, 0.4, 0.8] -> PAV pools bins 2-3 to 0.5
    val classic = Seq(("c", 1L, 10L, 2L), ("c", 2L, 10L, 6L),
      ("c", 3L, 10L, 4L), ("c", 4L, 10L, 8L))
    // weighted pool: rates [1.0, 0.0] with weights [1, 3] -> 0.25
    val weighted = Seq(("w", 1L, 1L, 1L), ("w", 2L, 3L, 0L))
    // already monotone: identity
    val mono = Seq(("m", 1L, 10L, 1L), ("m", 2L, 10L, 5L),
      ("m", 3L, 10L, 9L))
    val out = Calibration.isotonicBins(
        (classic ++ weighted ++ mono).toDF("g", "b", "n", "pos"),
        "g", "b", "n", "pos")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(5)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(b => out(("c", b)))
      === Seq(200000L, 500000L, 500000L, 800000L), s"$out")
    assert(out(("w", 1L)) === 250000L && out(("w", 2L)) === 250000L)
    assert(Seq(1L, 2L, 3L).map(b => out(("m", b)))
      === Seq(100000L, 500000L, 900000L))
    val e = intercept[IllegalArgumentException] {
      Calibration.isotonicBins(
        classic.toDF("g", "b", "n", "pos"), "g", "b", "n", "pos",
        maxBins = 2L)
    }
    assert(e.getMessage.contains("maxBins"))
  }

  test("auc: hand-computed midrank case with a cross-class tie; " +
      "perfect separation reads 1.0; one-class groups drop") {
    import org.apache.spark.sql.functions.col
    // pos {3,2} vs neg {1,2}: 3 wins + half a tie of 4 pairs = 0.875
    val tied = Seq(("t", true, 3L), ("t", true, 2L),
      ("t", false, 1L), ("t", false, 2L))
    val perfect = Seq(("p", true, 10L), ("p", true, 9L),
      ("p", false, 1L), ("p", false, 2L))
    val lone = Seq(("l", true, 5L), ("l", true, 6L))
    val out = Calibration.auc(
        (tied ++ perfect ++ lone).toDF("g", "y", "s"), "g", col("y"), "s")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("t").getLong(3) === 875000L, s"${out("t")}")
    assert(out("p").getLong(3) === 1000000L, s"${out("p")}")
    assert(!out.contains("l"))
    intercept[IllegalArgumentException] {
      Calibration.auc(
        Seq(("g", true, 1.5)).toDF("g", "y", "s"), "g", col("y"), "s")
    }
  }

  test("liftCurve: exact deciles on a hand case; zero positives " +
      "yield no rows") {
    import org.apache.spark.sql.functions.col
    // 20 units scored 20..1; the top five scores are the positives
    val units = (1 to 20).map(i =>
      (21L - i, i.toLong, 21L - i >= 16L))
    val out = Calibration.liftCurve(
        units.toDF("score", "id", "y"), "score", "id", col("y"), k = 10)
      .orderBy("bucket").collect()
    assert(out.length === 10)
    // bucket 1 = {20,19}: both positive → lift = 1.0/0.25 = 4
    assert(out.head.getLong(1) === 2L && out.head.getLong(2) === 2L)
    assert(out.head.getLong(5) === 400000L)   // gain 2/5
    assert(out.head.getLong(6) === 4000000L)  // lift 4.0
    // bucket 3 = {16,15}: cum 5/6 → lift 10/3, gain 100%
    assert(out(2).getLong(4) === 5L && out(2).getLong(5) === 1000000L)
    assert(out(2).getLong(6) === 3333333L)
    // final bucket: lift collapses to exactly 1.0
    assert(out.last.getLong(6) === 1000000L)
    val none = (1 to 20).map(i => (i.toLong, i.toLong, false))
    assert(Calibration.liftCurve(
      none.toDF("score", "id", "y"), "score", "id", col("y"))
      .count() === 0L)
  }
}

package graft.operators

import graft.SparkSuite

class AgreementSpec extends SparkSuite {
  import spark.implicits._

  test("hand case matches the textbook kappa") {
    // classic 2x2: a=yes/yes 20, yes/no 5, no/yes 10, no/no 15
    // po = 35/50 = 0.70; pe = (25*30 + 25*20)/2500 = 0.50
    // kappa = (0.70-0.50)/(1-0.50) = 0.40
    val df = (Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n")))
      .toDF("a", "b")
    val r = Agreement.cohensKappa(df, "a", "b").collect().head
    assert(r.getAs[Long]("n") === 50L)
    assert(r.getAs[Long]("po_ppm") === 700000L)
    assert(r.getAs[Long]("pe_ppm") === 500000L)
    assert(r.getAs[Long]("kappa_ppm") === 400000L)
  }

  test("perfect agreement gives kappa 1; worse-than-chance negative") {
    val perfect = Seq(("x", "x"), ("y", "y"), ("z", "z")).toDF("a", "b")
    assert(Agreement.cohensKappa(perfect, "a", "b")
      .collect().head.getAs[Long]("kappa_ppm") === 1000000L)
    // systematic disagreement on balanced classes → negative kappa
    val anti = (Seq.fill(10)(("y", "n")) ++ Seq.fill(10)(("n", "y")))
      .toDF("a", "b")
    assert(Agreement.cohensKappa(anti, "a", "b")
      .collect().head.getAs[Long]("kappa_ppm") < 0L)
  }

  test("null labels are excluded from the pair stream") {
    val df = Seq((Some("y"), Some("y")), (None, Some("y")),
      (Some("y"), None), (Some("n"), Some("n"))).toDF("a", "b")
    val r = Agreement.cohensKappa(df, "a", "b").collect().head
    assert(r.getAs[Long]("n") === 2L && r.getAs[Long]("agree") === 2L)
  }

  test("result is partitioning-invariant (integer interior)") {
    val df = (1 to 300)
      .map(i => (s"l${i % 4}", s"l${(i * 7) % 4}")).toDF("a", "b")
    val one = Agreement.cohensKappa(df.repartition(1), "a", "b")
      .collect().head.toSeq
    val many = Agreement.cohensKappa(df.repartition(17), "a", "b")
      .collect().head.toSeq
    assert(one === many)
  }

  test("krippendorffAlpha: perfect agreement reads 1, systematic " +
      "flips read -0.5, the hand-computed 3-rater mix reads 0.375, " +
      "1-rating units and NULL abstentions drop") {
    val perfect = Seq(("pf", 1L, "a"), ("pf", 1L, "a"),
      ("pf", 2L, "b"), ("pf", 2L, "b"))
    val flip = Seq(("fl", 1L, "a"), ("fl", 1L, "b"),
      ("fl", 2L, "a"), ("fl", 2L, "b"))
    // u1 = {a,a,b}: T=4, m-1=2 -> 2; u2 = {b,b,b}: 0.
    // n=6, n_a=2, n_b=4 -> De = 2*4+4*2 = 16
    // alpha = 1 - 5*2/16 = 0.375
    val mix = Seq(("mx", 1L, "a"), ("mx", 1L, "a"), ("mx", 1L, "b"),
      ("mx", 2L, "b"), ("mx", 2L, "b"), ("mx", 2L, "b"))
    // a lone rating and a NULL abstention must not disturb anything
    val noise: Seq[(String, Long, String)] =
      Seq(("mx", 3L, "a"), ("mx", 4L, null))
    val out = Agreement.krippendorffAlpha(
        (perfect ++ flip ++ mix ++ noise).toDF("p", "u", "l"),
        "p", "u", "l")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("pf").getLong(4) === 1000000L, s"${out("pf")}")
    assert(out("fl").getLong(4) === -500000L, s"${out("fl")}")
    assert(out("mx").getLong(1) === 2L && out("mx").getLong(2) === 6L)
    assert(out("mx").getLong(4) === 375000L, s"${out("mx")}")
  }

  test("icc1: the unbalanced hand fixture pins 11/13.5, perfectly " +
      "consistent ratings read 1, unit-indistinguishable ratings " +
      "read negative") {
    // u1 = {1,2}, u2 = {4,6}: SSB = 12.25, SSW = 2.5, n0 = 2
    // -> ICC = (12.25 - 1.25)/(12.25 + 1.25) = 11/13.5 = 0.814815
    val hand = Seq(("h", 1L, 1L), ("h", 1L, 2L),
      ("h", 2L, 4L), ("h", 2L, 6L))
    val perfect = Seq(("pf", 1L, 10L), ("pf", 1L, 10L),
      ("pf", 2L, 20L), ("pf", 2L, 20L))
    val noise = Seq(("nz", 1L, 0L), ("nz", 1L, 10L),
      ("nz", 2L, 10L), ("nz", 2L, 0L))
    val out = Agreement.icc1(
        (hand ++ perfect ++ noise).toDF("p", "u", "x"), "p", "u", "x")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("h") === 814815L, s"$out")
    assert(out("pf") === 1000000L, s"$out")
    assert(out("nz") < 0L, s"$out")
  }

  test("icc1: a fractional score column is refused eagerly rather " +
      "than silently truncated at the long cast") {
    val frac = Seq(("p", 1L, 1.5), ("p", 1L, 2.5)).toDF("p", "u", "x")
    intercept[IllegalArgumentException] {
      Agreement.icc1(frac, "p", "u", "x")
    }
  }
}

package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class NonParametricSpec extends SparkSuite {
  import spark.implicits._

  // ---- Mann-Kendall ----

  test("mannKendall: strictly increasing series maxes S; decreasing " +
      "negates it; constant series has no sampling distribution") {
    val up = (1L to 10L).map(i => ("up", i, i * 3))
    val down = (1L to 10L).map(i => ("down", i, 100L - i))
    val flat = (1L to 10L).map(i => ("flat", i, 7L))
    val out = NonParametric.mannKendall(
        (up ++ down ++ flat).toDF("g", "i", "x"), "g", "i", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getLong(2) === 45L)   // n(n-1)/2
    assert(out("down").getLong(2) === -45L)
    assert(out("up").getLong(4) > 0 && out("down").getLong(4) < 0)
    assert(out("up").getLong(4) === -out("down").getLong(4))
    assert(!out.contains("flat"), "all-tied group must be excluded")
  }

  test("mannKendall: tie correction shrinks var_num; duplicate " +
      "indexes and oversized groups refuse") {
    val tied = (1L to 8L).map(i => ("t", i, i / 2)) // pairs of ties
    val free = (1L to 8L).map(i => ("f", i, i * 13 % 11))
    val out = NonParametric.mannKendall(
        (tied ++ free).toDF("g", "i", "x"), "g", "i", "x")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("t") < out("f"), s"tie correction missing: $out")
    intercept[IllegalArgumentException] {
      NonParametric.mannKendall(
        Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("g", "i", "x"),
        "g", "i", "x").collect()
    }
    intercept[IllegalArgumentException] {
      NonParametric.mannKendall(
        (1L to 30L).map(i => ("g", i, i)).toDF("g", "i", "x"),
        "g", "i", "x", maxGroupRows = 10L).collect()
    }
    intercept[IllegalArgumentException] {
      NonParametric.mannKendall(
        Seq(("g", 1L, 1.5)).toDF("g", "i", "x"), "g", "i", "x")
    }
  }

  // ---- Seasonal Mann-Kendall ----

  test("seasonalMannKendall: a within-weekday trend under heavy " +
      "weekly seasonality saturates S; pure seasonality (no trend) " +
      "drops; plain MK on the same series reads far less signal") {
    // 4 weeks x 7 weekdays; value = 1000*(weekday) + day: within
    // each weekday strictly increasing (S_season = C(4,2) = 6,
    // total S = 42), across weekdays dominated by the 1000-jumps
    val trend = (0L until 28L).map(d =>
      ("trend", d % 7, d, 1000L * (d % 7) + d))
    val flat = (0L until 28L).map(d =>
      ("flat", d % 7, d, 1000L * (d % 7)))
    val out = NonParametric.seasonalMannKendall(
        (trend ++ flat).toDF("g", "season", "di", "x"),
        "g", "season", "di", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("trend").getLong(1) === 28L)
    assert(out("trend").getLong(2) === 42L, s"${out("trend")}")
    assert(out("trend").getLong(4) > 3000000L)
    // every season all-tied -> S = Var = 0 -> the group drops
    assert(!out.contains("flat"))
    // the plain test on the same series: the seasonal jumps drown
    // the trend (S far below the seasonal test's saturated ratio)
    val plain = NonParametric.mannKendall(
        trend.map { case (g, _, d, x) => (g, d, x) }.toDF("g", "di", "x"),
        "g", "di", "x")
      .collect().head
    assert(plain.getLong(4) < out("trend").getLong(4),
      s"plain z ${plain.getLong(4)} vs seasonal ${out("trend").getLong(4)}")
    intercept[IllegalArgumentException] {
      NonParametric.seasonalMannKendall(
        Seq(("g", 1L, 5L, 1L), ("g", 1L, 5L, 2L)).toDF(
          "g", "season", "di", "x"),
        "g", "season", "di", "x").collect()
    }
  }

  test("seasonalMannKendall: a 1-row season still contributes its " +
      "point to n (S=0, Var=0) instead of vanishing; a group whose " +
      "every season has <=1 rows drops at the z edge, not silently") {
    // seasons 0 and 1: 4 strictly increasing points each
    // (S_season = 6, Var_season > 0); season 2: ONE point — before
    // the left-join fix the inner pair join dropped its stratum and
    // n read 8, violating the "n totals every seasonal point" doc
    val rows = (for (s <- 0L until 2L; k <- 0L until 4L)
      yield ("g", s, s + 3 * k, k)) :+ ("g", 2L, 100L, 7L)
    val out = NonParametric.seasonalMannKendall(
        rows.toDF("g", "season", "di", "x"),
        "g", "season", "di", "x")
      .collect().head
    assert(out.getLong(1) === 9L, s"n must total every point: $out")
    assert(out.getLong(2) === 12L, s"S: $out")
    // all-singleton group: every stratum contributes (1, 0, 0) ->
    // var_num = 0 -> dropped by the z edge (deliberate, not a lost
    // join row)
    val solo = (0L until 3L).map(s => ("solo", s, s, s))
    assert(NonParametric.seasonalMannKendall(
      solo.toDF("g", "season", "di", "x"),
      "g", "season", "di", "x").count() === 0L)
  }

  // ---- Cliff's delta ----

  test("cliffsDelta: disjoint samples saturate at ±1e6 ppm; " +
      "identical samples score 0") {
    val rows = Seq.tabulate(20) { i =>
      // group "hi": treatment values all above control
      ("hi", i % 2 == 1, if (i % 2 == 1) 100L + i else i.toLong)
    } ++ Seq.tabulate(20) { i =>
      // group "eq": same values on both sides
      ("eq", i % 2 == 1, (i / 2).toLong)
    }
    val out = NonParametric.cliffsDelta(
        rows.toDF("g", "t", "x"), "g", col("t"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("hi").getLong(5) === 1000000L)
    assert(out("eq").getLong(5) === 0L)
    assert(out("hi").getLong(1) === 10L && out("hi").getLong(2) === 10L)
  }

  test("cliffsDelta: sign convention and the guard") {
    // treatment strictly BELOW control -> negative delta, and the
    // signed edge floors consistently (|gt-lt|*1e6 div pairs, signed)
    val rows = Seq.tabulate(12) { i =>
      ("g", i % 2 == 1, if (i % 2 == 1) i.toLong else 100L + i)
    } :+ (("g", true, 1000L)) // one treatment win: 5 gt, 31 lt? no —
    // 7 treatment rows x 6 control rows = 42 pairs, wins only via 1000
    val out = NonParametric.cliffsDelta(
        rows.toDF("g", "t", "x"), "g", col("t"), "x")
      .collect().head
    val gt = out.getLong(3); val lt = out.getLong(4)
    val pairs = out.getLong(1) * out.getLong(2)
    assert(out.getLong(5) ===
      -((lt - gt) * 1000000L / pairs), s"row: $out")
    intercept[IllegalArgumentException] {
      NonParametric.cliffsDelta(
        (1L to 30L).map(i => ("g", i % 2 == 0, i)).toDF("g", "t", "x"),
        "g", col("t"), "x", maxGroupRows = 5L).collect()
    }
  }

  // ---- Kruskal-Wallis ----

  test("kruskalWallis: disjoint group ranges score far above " +
      "interleaved ones; tie-corrected H >= H") {
    // partition "sep": 3 groups occupying disjoint value ranges
    val sep = (0 until 30).map { i =>
      ("sep", s"g${i / 10}", (i / 10) * 1000L + i)
    }
    // partition "mix": same values dealt round-robin across groups
    val mix = (0 until 30).map { i =>
      ("mix", s"g${i % 3}", i.toLong)
    }
    // ties: duplicate values so the correction denominator bites
    val tie = (0 until 30).map { i =>
      ("tie", s"g${i % 3}", (i / 6).toLong)
    }
    val out = NonParametric.kruskalWallis(
        (sep ++ mix ++ tie).toDF("p", "g", "x"), "p", "g", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    // separated: H approaches its max (n-1 scaled); mixed: near 0
    assert(out("sep").getLong(3) > 20 * 1000000L,
      s"sep H: ${out("sep")}")
    assert(math.abs(out("mix").getLong(3)) < 2 * 1000000L,
      s"mix H: ${out("mix")}")
    assert(out("tie").getLong(4) >= out("tie").getLong(3),
      s"tie correction must not shrink H: ${out("tie")}")
    assert(out("sep").getLong(1) === 30L &&
      out("sep").getLong(2) === 3L)
  }

  test("cliffsDelta and Mann-Whitney rank-sum agree in sign on a " +
      "planted shift — the cross-operator direction net") {
    // Both statistics measure the same direction (does treatment
    // draw beat control): a planted +shift must read delta_ppm > 0
    // AND verdict b_high; a -shift the mirror; no shift neither.
    val up = (0 until 40).map(i =>
      ("up", i % 2 == 1, (if (i % 2 == 1) 500 + i else i).toLong, i.toLong))
    val down = (0 until 40).map(i =>
      ("down", i % 2 == 1, (if (i % 2 == 1) i else 500 + i).toLong, i.toLong))
    val flat = (0 until 40).map(i =>
      ("flat", i % 2 == 1, (i / 2).toLong, i.toLong))
    val df = (up ++ down ++ flat).toDF("g", "t", "x", "tie")
    val delta = NonParametric.cliffsDelta(df, "g", col("t"), "x")
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    val mw = AbTest.rankSum(df, "g", col("t"), "x", "tie")
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(delta("up") > 0 && mw("up") == "b_high", s"$delta / $mw")
    assert(delta("down") < 0 && mw("down") == "b_low", s"$delta / $mw")
    assert(delta("flat") === 0L && mw("flat") == "none", s"$delta / $mw")
  }

  test("q_cliffs_delta populates every cohort on the shipped fixture " +
      "— a 0-row oracle match proves nothing (the round-10 lesson)") {
    // The fixture assigns source = doc_id mod 20, so any cohort
    // predicate collinear with doc_id parity leaves one side empty in
    // EVERY group. The shipped query splits on (doc_id div 20) % 2 —
    // this pin fails if the split ever regresses to a vacuous one.
    val rows = graft.SparkEntry
      .queries("q_cliffs_delta")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty, "q_cliffs_delta returned 0 rows — vacuous")
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0,
        s"empty cohort side in group ${r.get(0)}: $r")
    }
  }

  test("NULL idx/value rows refuse (MK, Cliff) or drop before " +
      "ranking (KW) instead of silently tying") {
    val mkRows = Seq(("g", 1L, java.lang.Long.valueOf(3L)),
      ("g", 2L, null.asInstanceOf[java.lang.Long]))
      .toDF("g", "i", "x")
    intercept[IllegalArgumentException] {
      NonParametric.mannKendall(mkRows, "g", "i", "x").collect()
    }
    val cdRows = Seq(("g", true, java.lang.Long.valueOf(3L)),
      ("g", false, null.asInstanceOf[java.lang.Long]))
      .toDF("g", "t", "x")
    intercept[IllegalArgumentException] {
      NonParametric.cliffsDelta(cdRows, "g", col("t"), "x").collect()
    }
    // KW: a NULL value row is dropped, not ranked first — n excludes
    // it and the result equals the null-free frame's
    val base = (0 until 30).map(i => ("p", s"g${i % 3}", i.toLong))
    val kwClean = NonParametric.kruskalWallis(
      base.toDF("p", "g", "x"), "p", "g", "x").collect().toSeq
    val withNull = base.map { case (p, g, x) =>
      (p, g, java.lang.Long.valueOf(x))
    } :+ (("p", "g0", null.asInstanceOf[java.lang.Long]))
    val kwNull = NonParametric.kruskalWallis(
      withNull.toDF("p", "g", "x"), "p", "g", "x").collect().toSeq
    assert(kwNull === kwClean)
  }

  // ---- Friedman ----

  test("friedman: a consistent within-block treatment order maxes " +
      "chi2; a shuffled one scores near 0; incomplete blocks drop") {
    // "sep": treatment g2 > g1 > g0 in EVERY block (n=10 blocks,
    // k=3) -> chi2 = n(k-1) = 20 at its maximum
    val sep = for (b <- 0 until 10; t <- 0 until 3)
      yield ("sep", b, s"g$t", (t * 100 + b).toLong)
    // "mix": the treatment order rotates per block -> no effect
    val mix = for (b <- 0 until 9; t <- 0 until 3)
      yield ("mix", b, s"g$t", (((t + b) % 3) * 100 + b).toLong)
    // "inc": one block misses a treatment -> that block drops and
    // the remaining complete blocks still carry the sep signal
    val inc = sep.map { case (_, b, t, x) => ("inc", b, t, x) }
      .filterNot { case (_, b, t, _) => b == 3 && t == "g1" }
    val out = NonParametric.friedman(
        (sep ++ mix ++ inc).toDF("p", "b", "t", "x"), "p", "b", "t", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("sep").getLong(3) === 20000000L, s"sep: ${out("sep")}")
    assert(math.abs(out("mix").getLong(3)) < 2000000L,
      s"mix: ${out("mix")}")
    assert(out("inc").getLong(1) === 9L, "incomplete block must drop")
    assert(out("inc").getLong(3) === 18000000L, s"inc: ${out("inc")}")
    // untied design: the corrected statistic equals the raw one
    assert(out("sep").getLong(4) === out("sep").getLong(3))
  }

  test("friedman is partitioning-independent, drops NULL values, " +
      "and excludes all-tied partitions") {
    val base = for (b <- 0 until 8; t <- 0 until 4)
      yield ("p", b, s"g$t", ((t * 7 + b * 3) % 13).toLong)
    val df = base.toDF("p", "b", "t", "x")
    val a = NonParametric.friedman(df, "p", "b", "t", "x")
      .collect().toSeq
    val b2 = NonParametric.friedman(df.repartition(7), "p", "b", "t", "x")
      .collect().toSeq
    assert(a === b2 && a.nonEmpty)
    // every value identical -> tie denominator zero -> excluded
    val tied = (for (b <- 0 until 4; t <- 0 until 3)
      yield ("t", b, s"g$t", 5L)).toDF("p", "b", "t", "x")
    assert(NonParametric.friedman(tied, "p", "b", "t", "x")
      .collect().isEmpty)
    // a NULL observation drops its row (making its block incomplete,
    // so the block drops too) — never ranked as smallest
    val withNull = base.map { case (p, b, t, x) =>
      if (b == 0 && t == "g0")
        (p, b, t, null.asInstanceOf[java.lang.Long])
      else (p, b, t, java.lang.Long.valueOf(x))
    }
    val c = NonParametric.friedman(
        withNull.toDF("p", "b", "t", "x"), "p", "b", "t", "x")
      .collect().head
    assert(c.getLong(1) === 7L, s"block 0 must drop: $c")
  }

  // ---- Jonckheere-Terpstra ----

  test("jonckheereTerpstra: a monotone group trend saturates J2 at " +
      "2x the cross-group pairs; reversing the order negates z; " +
      "guards refuse oversized partitions and NULLs") {
    // "up": 4 ordered groups of 5, every later-group value above
    // every earlier one -> gt = all cross pairs, J2 = 2 * (6 * 25)
    val up = for (g <- 0 until 4; i <- 0 until 5)
      yield ("up", g.toLong, (g * 100 + i).toLong)
    val down = up.map { case (_, g, x) => ("down", g, -x) }
    // "mix": same values dealt round-robin across the order -> z ~ 0
    val mix = (0 until 20).map(i => ("mix", (i % 4).toLong, (i / 4).toLong))
    val out = NonParametric.jonckheereTerpstra(
        (up ++ down ++ mix).toDF("p", "o", "x"), "p", "o", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getLong(3) === 300L, s"up: ${out("up")}")
    assert(out("up").getLong(4) === 150L) // E2 = (400 - 100) / 2
    assert(out("up").getLong(5) > 3000000L, "up z must be large +")
    assert(out("down").getLong(5) === -out("up").getLong(5))
    assert(math.abs(out("mix").getLong(5)) <
      out("up").getLong(5) / 3, s"mix: ${out("mix")}")
    intercept[IllegalArgumentException] {
      NonParametric.jonckheereTerpstra(
        (1L to 30L).map(i => ("g", i % 3, i)).toDF("p", "o", "x"),
        "p", "o", "x", maxGroupRows = 5L).collect()
    }
    intercept[IllegalArgumentException] {
      NonParametric.jonckheereTerpstra(
        Seq(("g", java.lang.Long.valueOf(1L), null
          .asInstanceOf[java.lang.Long])).toDF("p", "o", "x"),
        "p", "o", "x").collect()
    }
  }

  test("jonckheereTerpstra: an n=2 partition (two 1-row groups) is " +
      "excluded DELIBERATELY by the n>=3 filter — not dropped by a " +
      "0/0 NaN failing the var>0 comparison; n=3 computes normally") {
    val rows = Seq(
      ("tiny", 0L, 1L), ("tiny", 1L, 2L),               // n=2 -> out
      ("ok", 0L, 1L), ("ok", 1L, 2L), ("ok", 1L, 3L))   // n=3 -> in
    val out = NonParametric.jonckheereTerpstra(
        rows.toDF("p", "o", "x"), "p", "o", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!out.contains("tiny"), s"n=2 must be excluded: $out")
    val ok = out("ok")
    assert(ok.getLong(1) === 3L && ok.getLong(2) === 2L)
    assert(ok.getLong(3) === 4L, s"J2 = 2 gt pairs: $ok")
    assert(!ok.anyNull && ok.getLong(5) > 0L, s"finite z: $ok")
  }

  test("wilcoxonSignedRank: all-positive differences saturate W2 at " +
      "n(n+1); swapping the columns negates z; zeros and NULL pairs " +
      "drop; ties shrink var_num") {
    // d = {1..5} all positive: W2+ = sum of doubled ranks = 30,
    // E2 = 15, var_num = 2*5*6*11 = 660, z = 14/sqrt(55) = 1.8877596
    val up = (1 to 5).map(i => ("up", 100L, 100L + i))
    val down = up.map { case (_, x, y) => ("down", y, x) }
    val out = NonParametric.wilcoxonSignedRank(
        (up ++ down).toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getLong(1) === 5L)
    assert(out("up").getLong(2) === 30L, s"${out("up")}")
    assert(out("up").getLong(3) === 15L && out("up").getLong(4) === 660L)
    assert(out("up").getLong(5) === 1887760L, s"${out("up")}")
    assert(out("down").getLong(5) === -out("up").getLong(5))
    // zero differences and NULL pairs drop before ranking
    def lf(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    val dirty: Seq[(String, java.lang.Long, java.lang.Long)] =
      up.map { case (g, x, y) => (g, lf(x), lf(y)) } ++
        Seq(("up", lf(7L), lf(7L)), ("up", null, lf(1L)),
          ("up", lf(1L), null))
    val cleaned = NonParametric.wilcoxonSignedRank(
        dirty.toDF("g", "x", "y"), "g", "x", "y").collect().head
    assert(cleaned.getLong(1) === 5L && cleaned.getLong(2) === 30L)
    // tied |d| values: d = {1,1,2,2} -> tie term 2*(8-2) = 12,
    // var_num = 2*4*5*9 - 12 = 348
    val tied = Seq(("t", 0L, 1L), ("t", 0L, 1L), ("t", 0L, 2L),
      ("t", 0L, 2L))
    val tr = NonParametric.wilcoxonSignedRank(
        tied.toDF("g", "x", "y"), "g", "x", "y").collect().head
    assert(tr.getLong(4) === 348L, s"$tr")
  }

  test("ansariBradley: a cohort sitting at the pooled extremes " +
      "scores a large negative z (more dispersed); identical " +
      "samples read near 0; all-tied partitions drop") {
    // pooled 1..10, B = {1,2,9,10} (extremes): AB2 = 12, S2 = 60,
    // Q2 = 440, zNum = -120, z = -120/sqrt(6*4*800/9) = -2.598
    val a = Seq(3L, 4L, 5L, 6L, 7L, 8L).map(v => ("p", false, v))
    val b = Seq(1L, 2L, 9L, 10L).map(v => ("p", true, v))
    val same = (1L to 8L).map(v => ("same", v % 2 == 0, v))
    val flat = Seq(("flat", true, 5L), ("flat", false, 5L))
    val out = NonParametric.ansariBradley(
        (a ++ b ++ same ++ flat).toDF("p", "b", "x"),
        "p", col("b"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("p").getLong(1) === 6L && out("p").getLong(2) === 4L)
    assert(out("p").getLong(3) === 12L, s"${out("p")}")
    assert(out("p").getLong(4) === -2598076L, s"${out("p")}")
    assert(math.abs(out("same").getLong(4)) < 1000000L)
    assert(!out.contains("flat"), "all-tied scores have no variance")
  }

  test("moodMedian: perfectly separated groups hit chi2 = N; " +
      "identical groups read 0; the lower-median pin is exact") {
    // sep: a = 1..5, b = 6..10 -> lower median 5, A = 5,
    // chi2 = ((10*0-5*5)^2/5 + (10*5-5*5)^2/5) / (5*5) = 10
    val sep = (1L to 5L).map(v => ("sep", "a", v)) ++
      (6L to 10L).map(v => ("sep", "b", v))
    val same = (1L to 6L).flatMap(v =>
      Seq(("same", "a", v), ("same", "b", v)))
    val out = NonParametric.moodMedian(
        (sep ++ same).toDF("p", "g", "x"), "p", "g", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("sep").getLong(1) === 10L &&
      out("sep").getLong(2) === 2L && out("sep").getLong(3) === 5L)
    assert(out("sep").getLong(4) === 10000000L, s"${out("sep")}")
    assert(out("same").getLong(4) === 0L, s"${out("same")}")
    // every value equal to the median on one side -> no table
    val onesided = (1L to 4L).map(v => ("one", "a", 7L)) ++
      Seq(("one", "b", 7L))
    assert(NonParametric.moodMedian(
      onesided.toDF("p", "g", "x"), "p", "g", "x").count() === 0L)
  }

  test("brunnerMunzel: the shifted-overlap textbook case pins " +
      "p=0.875, W=3, df=6 exactly; swapping cohorts mirrors p and " +
      "negates W; 1-row cohorts and all-tied partitions drop") {
    // A = {1,2,3,4}, B = {3,4,5,6}: doubled pooled sums s_a=24,
    // s_b=48, V2 = 96 both sides, u = 8 each ->
    // p = 28/32 = 0.875, W = 16*(12-6)/(8*4) = 3, df = 256/(128/3) = 6
    val a = Seq(1L, 2L, 3L, 4L).map(v => ("p", false, v))
    val b = Seq(3L, 4L, 5L, 6L).map(v => ("p", true, v))
    val swapped = (a ++ b).map { case (_, t, v) => ("q", !t, v) }
    val lone = Seq(("lone", false, 1L), ("lone", false, 2L),
      ("lone", true, 9L))
    val flat = Seq(("flat", false, 5L), ("flat", false, 5L),
      ("flat", true, 5L), ("flat", true, 5L))
    val out = NonParametric.brunnerMunzel(
        (a ++ b ++ swapped ++ lone ++ flat).toDF("p", "b", "x"),
        "p", col("b"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("p").getLong(1) === 4L && out("p").getLong(2) === 4L)
    assert(out("p").getLong(3) === 875000L, s"${out("p")}")
    assert(out("p").getLong(4) === 3000000L, s"${out("p")}")
    assert(out("p").getLong(5) === 6000000L, s"${out("p")}")
    assert(out("q").getLong(3) === 125000L, s"${out("q")}")
    assert(out("q").getLong(4) === -3000000L)
    assert(!out.contains("lone"), "n_b = 1 has no rank variance")
    assert(!out.contains("flat"), "all-tied pooled values have no test")
  }

  test("quade: range-weighted blocks pin F = 9.75 on the worked " +
      "3x3 fixture; within-block-constant partitions drop; " +
      "incomplete blocks drop first") {
    // b1 = (1,2,3) range 2, b2 = (2,4,6) range 4, b3 = (1,1,7)
    // range 6 -> Q2 = {2,4,6}, S4 per treatment {-18,-6,24},
    // A4 = 376, SB4 = 936, F = 2*936/(3*376-936) = 9.75
    val fix = Seq(
      ("w", "b1", "t1", 1L), ("w", "b1", "t2", 2L), ("w", "b1", "t3", 3L),
      ("w", "b2", "t1", 2L), ("w", "b2", "t2", 4L), ("w", "b2", "t3", 6L),
      ("w", "b3", "t1", 1L), ("w", "b3", "t2", 1L), ("w", "b3", "t3", 7L),
      // an incomplete block must drop before ranking
      ("w", "b4", "t1", 9L), ("w", "b4", "t2", 9L))
    val const = Seq(
      ("c", "b1", "t1", 5L), ("c", "b1", "t2", 5L),
      ("c", "b2", "t1", 8L), ("c", "b2", "t2", 8L))
    val out = NonParametric.quade(
        (fix ++ const).toDF("p", "blk", "t", "x"), "p", "blk", "t", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("w").getLong(1) === 3L, s"${out("w")}")
    assert(out("w").getLong(2) === 3L)
    assert(out("w").getLong(3) === 9750000L, s"${out("w")}")
    assert(!out.contains("c"),
      "all-tied within-block ranks sit on the perfect-agreement " +
        "boundary and drop")
  }

  test("hodgesLehmannShift: even pair counts sum the two middle " +
      "order statistics, odd counts double the middle one; the " +
      "guard refuses oversized cohorts") {
    // A = {1,4}, B = {3,5}: diffs {-1,1,2,4} -> hl2 = 1 + 2 = 3
    val even = Seq(("e", false, 1L), ("e", false, 4L),
      ("e", true, 3L), ("e", true, 5L))
    // A = {0}, B = {5,7,9}: diffs {5,7,9} -> hl2 = 14
    val odd = Seq(("o", false, 0L), ("o", true, 5L), ("o", true, 7L),
      ("o", true, 9L))
    val out = NonParametric.hodgesLehmannShift(
        (even ++ odd).toDF("g", "t", "x"), "g", col("t"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("e").getLong(3) === 4L && out("e").getLong(4) === 3L,
      s"${out("e")}")
    assert(out("o").getLong(1) === 1L && out("o").getLong(2) === 3L)
    assert(out("o").getLong(3) === 3L && out("o").getLong(4) === 14L,
      s"${out("o")}")
    val big = (1L to 12L).map(v => ("g", v % 2 == 0, v))
    val e = intercept[IllegalArgumentException] {
      NonParametric.hodgesLehmannShift(
        big.toDF("g", "t", "x"), "g", col("t"), "x", maxGroupRows = 5L)
    }
    assert(e.getMessage.contains("maxGroupRows"))
  }

  test("benjaminiHochberg: strong signals pass, nulls don't, the " +
      "step-up boundary is the MAX flagged rank, p is symmetric in " +
      "±z, and the battery guard refuses oversized input") {
    val battery = Seq(("a", 5000000L), ("b", -4500000L),
      ("c", 4200000L), ("d", 0L), ("e", 100000L))
    val out = NonParametric.benjaminiHochberg(
        battery.toDF("test_id", "z_micro"), "test_id", "z_micro")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // |z| >= 4.2 -> p < 3e-5 << i*0.05/5: discoveries
    assert(out("a")._3 && out("b")._3 && out("c")._3, s"$out")
    // z = 0 -> p ~ 1; z = 0.1 -> p ~ 0.92: no discovery
    assert(!out("d")._3 && !out("e")._3, s"$out")
    assert(out("d")._1 > 990000000L && out("e")._1 > 900000000L)
    // ranks are the deterministic (p, id) order: a < b < c < e < d
    assert(Seq("a", "b", "c", "e", "d").map(k => out(k)._2)
      === Seq(1L, 2L, 3L, 4L, 5L))
    // symmetric in sign: same |z| gives the same p_nano
    val pm = NonParametric.benjaminiHochberg(
        Seq(("p", 3000000L), ("m", -3000000L)).toDF("i", "z_micro"),
        "i", "z_micro")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pm("p") === pm("m"))
    val e = intercept[IllegalArgumentException] {
      NonParametric.benjaminiHochberg(
        battery.toDF("test_id", "z_micro"), "test_id", "z_micro",
        maxTests = 3L)
    }
    assert(e.getMessage.contains("maxTests"))
  }

  test("conoverIman: the untied 3x2 hand fixture pins all three " +
      "pairwise t values; equal groups read 0; a separated 2-group " +
      "partition pins the classic -2.828") {
    // groups a={1,2}, b={3,4}, c={5,6}: S2=3.5, Hc=4.571428...,
    // factor = 0.5 -> t_ab = -2/sqrt(0.5) = -2.828427,
    // t_ac = -4/sqrt(0.5) = -5.656854, t_bc = -2.828427
    val hand = Seq(("h", "a", 1L), ("h", "a", 2L), ("h", "b", 3L),
      ("h", "b", 4L), ("h", "c", 5L), ("h", "c", 6L))
    val same = Seq("x", "y").flatMap(g =>
      (1L to 4L).map(v => ("s", g, v)))
    val sep = Seq(("p", "lo", 1L), ("p", "lo", 2L),
      ("p", "hi", 9L), ("p", "hi", 10L))
    val out = NonParametric.conoverIman(
        (hand ++ same ++ sep).toDF("p", "g", "x"), "p", "g", "x")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(5)).toMap
    assert(out(("h", "a", "b")) === -2828427L, s"$out")
    assert(out(("h", "a", "c")) === -5656854L, s"$out")
    assert(out(("h", "b", "c")) === -2828427L, s"$out")
    assert(out(("s", "x", "y")) === 0L, s"$out")
    // k=2 separated: H = 2.4, S2 = 5/3, factor = 0.5 ->
    // t = (1.5 - 3.5)/sqrt(0.5) = -2.828427
    assert(out(("p", "hi", "lo")) === 2828427L, s"$out")
  }

  test("friedmanPosthoc: the 3-block hand fixture pins all three " +
      "pairwise t values; perfect agreement drops (zero denominator)") {
    // blocks rank (t1,t2,t3) as (1,2,3),(1,2,3),(3,2,1):
    // R = {5,6,7}, A1 = 42, n*A1 - sum(R^2) = 16,
    // den = sqrt(2*16/4) = 2.828427 -> t12 = -0.353553,
    // t13 = -0.707107, t23 = -0.353553
    val mixed = Seq(
      ("m", "b1", "t1", 1L), ("m", "b1", "t2", 2L), ("m", "b1", "t3", 3L),
      ("m", "b2", "t1", 1L), ("m", "b2", "t2", 2L), ("m", "b2", "t3", 3L),
      ("m", "b3", "t1", 3L), ("m", "b3", "t2", 2L), ("m", "b3", "t3", 1L))
    val agree = Seq(
      ("a", "b1", "t1", 1L), ("a", "b1", "t2", 2L),
      ("a", "b2", "t1", 5L), ("a", "b2", "t2", 9L))
    val out = NonParametric.friedmanPosthoc(
        (mixed ++ agree).toDF("p", "blk", "t", "x"),
        "p", "blk", "t", "x")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(5)).toMap
    assert(out(("m", "t1", "t2")) === -353553L, s"$out")
    assert(out(("m", "t1", "t3")) === -707107L, s"$out")
    assert(out(("m", "t2", "t3")) === -353553L, s"$out")
    assert(!out.keySet.exists(_._1 == "a"),
      "perfect agreement has no within-treatment variance")
  }

  // ---- Cochran's Q ----

  test("cochranQ: identical filters score exactly 0; a systematic " +
      "disagreement scores large; non-binary outcomes refuse") {
    // "same": equal MARGINAL pass rates (Q tests marginal
    // homogeneity): f1 passes even blocks, f2 odd -> column totals
    // equal, numerator exactly 0. (Identical columns would zero the
    // DENOMINATOR too — every block uniform leaves Q undefined and
    // the partition drops, which is the den > 0 edge, not this one.)
    val same = for (b <- 0 until 20; t <- Seq("f1", "f2"))
      yield ("same", b, t,
        if (t == "f1") b % 2 == 0 else b % 2 == 1)
    // "diff": f1 passes everything, f2 nothing, f3 every other --
    // systematic disagreement, Q near its k-1 ceiling scaled by n
    val diff = for (b <- 0 until 20; t <- Seq("f1", "f2", "f3"))
      yield ("diff", b, t,
        t == "f1" || (t == "f3" && b % 2 == 0))
    val out = NonParametric.cochranQ(
        (same ++ diff).toDF("p", "b", "t", "y"), "p", "b", "t", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("same").getLong(4) === 0L, s"${out("same")}")
    assert(out("diff").getLong(4) > 20000000L, s"${out("diff")}")
    assert(out("diff").getLong(1) === 20L &&
      out("diff").getLong(2) === 3L && out("diff").getLong(3) === 30L)
    intercept[IllegalArgumentException] {
      NonParametric.cochranQ(
        Seq(("p", 1, "t", 2L)).toDF("p", "b", "t", "y"),
        "p", "b", "t", "y").collect()
    }
  }

  // ---- Kendall's W ----

  test("kendallW: identical rankings from every rater read exactly " +
      "1e6 micro; rotating rankings read 0") {
    // raters = blocks, items = treatments: the friedman "sep"
    // fixture IS perfect concordance (chi2 = m(k-1) => W = 1)
    val agree = for (r <- 0 until 10; i <- 0 until 3)
      yield ("agree", r, s"i$i", (i * 100 + r).toLong)
    val rotate = for (r <- 0 until 9; i <- 0 until 3)
      yield ("rotate", r, s"i$i", (((i + r) % 3) * 100 + r).toLong)
    val out = NonParametric.kendallW(
        (agree ++ rotate).toDF("p", "rater", "item", "score"),
        "p", "rater", "item", "score")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(out("agree").getLong(1) === 10L) // n_raters
    assert(out("agree").getLong(2) === 3L) // k_items
    assert(out("agree").getLong(3) === 1000000L, s"${out("agree")}")
    assert(out("rotate").getLong(3) === 0L, s"${out("rotate")}")
  }

  // ---- Page's trend test ----

  test("pageTrend: a block-consistent treatment order maxes L2 with " +
      "the exact closed form; reversal mirrors z; rotation scores 0") {
    // ordered: treatment o ranks (o+1) in EVERY block (n=10, k=3):
    // R2_j = 2(j+1)n, L2 = 20*(1+4+9) = 280, E2 = 240,
    // Var = 10*9*16*2/144 = 20, z = 40/(2*sqrt(20)) = 4.472136
    val up = for (b <- 0 until 10; o <- 0 until 3)
      yield ("up", b, o.toLong, (o * 100 + b).toLong)
    val down = up.map { case (_, b, o, x) => ("down", b, o, -x) }
    val mix = for (b <- 0 until 9; o <- 0 until 3)
      yield ("mix", b, o.toLong, (((o + b) % 3) * 100 + b).toLong)
    val out = NonParametric.pageTrend(
        (up ++ down ++ mix).toDF("p", "b", "o", "x"), "p", "b", "o", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("up").getLong(3) === 280L, s"up: ${out("up")}")
    assert(out("up").getLong(4) === 240L)
    assert(out("up").getLong(5) === 4472136L)
    assert(out("down").getLong(5) === -out("up").getLong(5))
    assert(out("mix").getLong(5) === 0L, s"mix: ${out("mix")}")
    // gapped order values weigh by dense rank, not raw value
    val gapped = up.map { case (_, b, o, x) => ("g", b, o * 50, x) }
    val g = NonParametric.pageTrend(
        gapped.toDF("p", "b", "o", "x"), "p", "b", "o", "x")
      .collect().head
    assert(g.getLong(3) === 280L && g.getLong(5) === 4472136L)
  }

  // ---- Brown-Forsythe ----

  test("brownForsythe: unequal spreads score a large F; identical " +
      "spreads at different levels score exactly 0") {
    // "eq": two groups with the SAME shape shifted by +1000 — a mean
    // test fires, a spread test must not: deviation multisets are
    // identical, so SS_between on deviations is exactly 0
    val eq = (0 until 21).map(i => ("eq", "a", i.toLong)) ++
      (0 until 21).map(i => ("eq", "b", (1000 + i).toLong))
    val eqOut = NonParametric.brownForsythe(
      eq.toDF("p", "g", "x").filter(col("p") === "eq"), "g", "x")
      .collect().head
    assert(eqOut.getLong(0) === 2L && eqOut.getLong(1) === 42L)
    assert(eqOut.getDouble(2) === 0.0, s"ss_between: $eqOut")
    // unequal: same medians, 10x the spread in one group
    val uneq = (0 until 21).map(i => ("g1", (100 + i).toLong)) ++
      (0 until 21).map(i => ("g2", (i * 10).toLong))
    val uneqOut = NonParametric.brownForsythe(
      uneq.toDF("g", "x"), "g", "x").collect().head
    assert(uneqOut.getDouble(4) > 40.0, s"F: $uneqOut")
    // the doubled-median lattice: even-n group median m2 = lo + hi,
    // partitioning-independent result
    val even = (0 until 20).map(i => ("g1", i.toLong)) ++
      (0 until 20).map(i => ("g2", (i * 3).toLong))
    val a = NonParametric.brownForsythe(
      even.toDF("g", "x"), "g", "x").collect().toSeq
    val b = NonParametric.brownForsythe(
      even.toDF("g", "x").repartition(7), "g", "x").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("kruskalWallis is partitioning-independent and rejects " +
      "fractional values") {
    val df = (0 until 60).map(i => ("p", s"g${i % 4}", (i * 7 % 23).toLong))
      .toDF("p", "g", "x")
    val a = NonParametric.kruskalWallis(df, "p", "g", "x").collect().toSeq
    val b = NonParametric.kruskalWallis(df.repartition(7), "p", "g", "x")
      .collect().toSeq
    assert(a === b && a.nonEmpty)
    intercept[IllegalArgumentException] {
      NonParametric.kruskalWallis(
        Seq(("p", "g", 1.5)).toDF("p", "g", "x"), "p", "g", "x")
    }
  }
}

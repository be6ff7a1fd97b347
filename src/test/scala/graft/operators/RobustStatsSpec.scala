package graft.operators

import graft.SparkSuite

class RobustStatsSpec extends SparkSuite {
  import spark.implicits._

  test("outlier is clipped to the p-boundary, mean robust") {
    // 1..9 plus a wild 1000: p10/p90 of the 10 values bound the
    // outlier; the winsorized mean must stay near the bulk.
    val df = ((1 to 9).map(i => ("g", i.toDouble)) :+ ("g", 1000.0))
      .toDF("g", "v")
    val r = RobustStats.winsorizedMean(df, "g", "v", 0.1, 0.9)
      .collect().head
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("n_hi") === 1L) // only the outlier clipped
    // p90 of 1..9,1000 (linear interpolation) = 9 + 0.1*(1000-9)
    val p90 = 9 + 0.1 * 991
    assert(r.getAs[Long]("hi_micro") === math.round(p90 * 1e6))
    val mean = r.getAs[Long]("wmean_micro") / 1e6
    assert(mean < 20.0, s"winsorized mean not robust: $mean")
  }

  test("no clipping when values sit inside the band") {
    val df = (1 to 100).map(i => ("g", 50.0)).toDF("g", "v")
    val r = RobustStats.winsorizedMean(df, "g", "v", 0.05, 0.95)
      .collect().head
    assert(r.getAs[Long]("n_lo") === 0L && r.getAs[Long]("n_hi") === 0L)
    assert(r.getAs[Long]("wmean_micro") === 50000000L)
  }

  test("groups clip against their OWN percentiles") {
    val df = ((1 to 10).map(i => ("small", i.toDouble)) ++
      (1 to 10).map(i => ("big", i * 1000.0))).toDF("g", "v")
    val out = RobustStats.winsorizedMean(df, "g", "v", 0.1, 0.9)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("hi_micro"))
      .toMap
    assert(out("big") > out("small") * 100)
  }

  test("partitioning-invariant (integer interior)") {
    val df = (1 to 500).map(i => (s"g${i % 3}", (i * 37 % 97) / 7.0))
      .toDF("g", "v")
    val a = RobustStats
      .winsorizedMean(df.repartition(1), "g", "v", 0.05, 0.95)
      .orderBy("g").collect().toSeq
    val b = RobustStats
      .winsorizedMean(df.repartition(11), "g", "v", 0.05, 0.95)
      .orderBy("g").collect().toSeq
    assert(a === b)
  }

  test("sort-based boundary selection replays the percentile " +
      "aggregate bit-for-bit (adversarial n, ties, integral and " +
      "fractional positions, extreme band)") {
    import org.apache.spark.sql.functions._
    // group sizes 1..7 plus a 400-row group with heavy ties; values
    // include duplicates so neighbor ranks share values
    val rows = (1 to 7).flatMap(n =>
      (1 to n).map(i => (s"n$n", ((i * 13) % 5).toDouble + i * 0.25))) ++
      (1 to 400).map(i => ("big", ((i * 37) % 23).toDouble / 7.0))
    val df = rows.toDF("g", "v")
    for ((pLo, pHi) <- Seq((0.05, 0.95), (0.25, 0.75), (0.0, 1.0),
        (0.1, 0.9))) {
      val ours = RobustStats.winsorizedMean(df, "g", "v", pLo, pHi)
        .select(col("g"), col("lo_micro"), col("hi_micro"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("lo_micro"), r.getAs[Long]("hi_micro"))).toMap
      val agg = df.groupBy(col("g"))
        .agg(
          round(expr(s"percentile(CAST(v AS DOUBLE), $pLo)") * lit(1e6))
            .cast("long").as("lo"),
          round(expr(s"percentile(CAST(v AS DOUBLE), $pHi)") * lit(1e6))
            .cast("long").as("hi"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
      assert(ours === agg, s"band ($pLo,$pHi)")
    }
  }

  test("null handling matches the aggregate+inner-join form: null " +
      "values skipped, an all-null group keeps null bounds, a null " +
      "group key drops") {
    val rows: Seq[(String, java.lang.Double)] =
      (1 to 9).map(i => ("g", java.lang.Double.valueOf(i.toDouble))) ++
        Seq(("g", null: java.lang.Double),
          ("allnull", null: java.lang.Double),
          ("allnull", null: java.lang.Double),
          (null: String, java.lang.Double.valueOf(7.0)))
    val df = rows.toDF("g", "v")
    val out = RobustStats.winsorizedMean(df, "g", "v", 0.1, 0.9)
      .collect().map(r => r.getString(0) -> r).toMap
    // null group key: dropped, exactly as the inner join on the
    // group column did
    assert(out.keySet === Set("g", "allnull"))
    // null values don't count toward n or the percentile positions:
    // p10/p90 of 1..9 (null skipped, as the percentile agg skips it)
    assert(out("g").getAs[Long]("n") === 10L) // rows survive the join
    assert(out("g").getAs[Long]("lo_micro") ===
      math.round((1 + 0.1 * 8) * 1e6))
    assert(out("g").getAs[Long]("hi_micro") ===
      math.round((1 + 0.9 * 8) * 1e6))
    // all-null group: emitted with null bounds (the aggregate form's
    // behavior), not dropped
    assert(out("allnull").isNullAt(out("allnull").fieldIndex("lo_micro")))
  }

  test("invalid percentile band rejected") {
    val df = Seq(("g", 1.0)).toDF("g", "v")
    intercept[IllegalArgumentException] {
      RobustStats.winsorizedMean(df, "g", "v", 0.9, 0.1)
    }
  }

  test("theilSen: one wild outlier cannot move the median slope") {
    // 9 points on y = 2x + 1, one outlier at (100, -999)
    val clean = (1L to 9L).map(i => ("g", i, i, 2 * i + 1))
    val df = (clean :+ (("g", 10L, 100L, -999L)))
      .toDF("g", "id", "x", "y")
    val r = RobustStats.theilSen(df, "g", "id", "x", "y").collect().head
    assert(r.getDouble(3) === 2.0, s"slope ${r.getDouble(3)}")
    assert(r.getDouble(4) === 1.0, s"intercept ${r.getDouble(4)}")
    // OLS on the same data is dragged far from 2
    val ols = GroupedOls.fit(df, "g", "x", "y").collect().head
    assert(math.abs(ols.getDouble(2) - 2.0) > 1.0)
  }

  test("theilSen: vertical pairs excluded; stratum guard refuses " +
      "oversized groups; fractional input rejected") {
    val dup = Seq(("g", 1L, 5L, 1L), ("g", 2L, 5L, 9L), ("g", 3L, 6L, 2L))
      .toDF("g", "id", "x", "y")
    val r = RobustStats.theilSen(dup, "g", "id", "x", "y").collect().head
    assert(r.getLong(2) === 2L) // only the two x=5 vs x=6 pairs
    val big = (1L to 30L).map(i => ("g", i, i, i)).toDF("g", "id", "x", "y")
    intercept[IllegalArgumentException] {
      RobustStats.theilSen(big, "g", "id", "x", "y", maxGroupRows = 10L)
    }
    intercept[IllegalArgumentException] {
      RobustStats.theilSen(Seq(("g", 1L, 1.5, 2.0)).toDF("g", "id", "x", "y"),
        "g", "id", "x", "y")
    }
  }

  test("theilSen is partitioning-independent") {
    val df = (1L to 40L).map(i => ("s", i, i % 13, (i * 7) % 19))
      .toDF("g", "id", "x", "y")
    val a = RobustStats.theilSen(df, "g", "id", "x", "y").collect().toSeq
    val b = RobustStats.theilSen(df.repartition(9), "g", "id", "x", "y")
      .collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("weightedQuantiles: a heavy tail value owns the weighted " +
      "median while the unweighted median sits low; boundary " +
      "quantiles pin the extremes; zero weights drop") {
    // values 1..4, weights 1,1,1,7: W=10; weighted p50 = 4 (cum at
    // 3 is only 3), p10 = 1, p100 = 4
    val tail = Seq(("t", 1L, 1L), ("t", 2L, 1L), ("t", 3L, 1L),
      ("t", 4L, 7L), ("t", 5L, 0L))
    val even = (1L to 4L).map(v => ("e", v, 5L))
    val out = RobustStats.weightedQuantiles(
        (tail ++ even).toDF("g", "x", "w"), "g", "x", "w",
        Seq(100000L, 500000L, 1000000L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("t") === ((10L, 1L, 4L, 4L)), s"$out")
    // even weights: p50 threshold 10 of 20 -> value 2 (cum 5,10,..)
    assert(out("e") === ((20L, 1L, 2L, 4L)), s"$out")
  }

  test("weightedQuantiles: fractional value or weight columns are " +
      "refused eagerly (silent long-truncation guard), and the " +
      "cross-multiplied threshold survives >9.2e12 total weight") {
    val frac = Seq(("g", 1.5, 1L)).toDF("g", "x", "w")
    intercept[IllegalArgumentException] {
      RobustStats.weightedQuantiles(frac, "g", "x", "w", Seq(500000L))
    }
    val fracW = Seq(("g", 1L, 1.5)).toDF("g", "x", "w")
    intercept[IllegalArgumentException] {
      RobustStats.weightedQuantiles(fracW, "g", "x", "w", Seq(500000L))
    }
    // Two values carrying 5e12 weight each: total weight 1e13 would
    // wrap cumW*1e6 in pure long math (1e19 > Long.MaxValue); the
    // DECIMAL widening must still pin the median to the first value
    // (its cumulative 5e12 * 1e6 >= 1e13 * 500000 exactly at parity).
    val heavy = Seq(("h", 1L, 5000000000000L), ("h", 2L, 5000000000000L))
      .toDF("g", "x", "w")
    val r = RobustStats.weightedQuantiles(heavy, "g", "x", "w",
      Seq(500000L, 1000000L)).collect().head
    assert(r.getLong(1) === 10000000000000L)
    assert(r.getLong(2) === 1L && r.getLong(3) === 2L, s"$r")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-free inference the monitoring layer runs when the
  * parametric assumptions of [[DistributionTests]] don't hold:
  * monotone-trend detection (Mann-Kendall), rank-based k-group ANOVA
  * (Kruskal-Wallis), and an ordinal effect size (Cliff's delta) —
  * the companions to [[RankCorrelation]] and [[RobustStats]] with the
  * same determinism contract: exact integer/DECIMAL sufficient
  * statistics, comparison-based pair concordance (never the
  * overflow-prone difference product — the kendallTauB lesson), and a
  * single micro-lattice-snapped IEEE sequence at the output edge.
  */
object NonParametric {

  private[operators] def requireIntegral(df: DataFrame, cols: String*): Unit =
    cols.foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case dt => throw new IllegalArgumentException(
          s"NonParametric: column '$c' is $dt; fractional inputs need " +
            "an explicit integer lattice first (the GroupedOls.fit policy)")
      }
    }

  private def snapMicro(c: org.apache.spark.sql.Column) =
    round(c * lit(1e6)).cast("long")

  /** Mann-Kendall trend test per group (Mann 1945; Kendall 1975) —
    * "is this series monotonically drifting", the alarm a feed-health
    * monitor wants on daily volumes/latencies without assuming
    * linearity (where [[GroupedOls]] fits a line, MK counts pair
    * directions and survives any monotone transform of the values).
    *
    *   S      = Σ_{i<j by idx} sign(x_j − x_i)  (comparison-based)
    *   Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18  (tie-corrected)
    *   z      = (S∓1)/√Var(S)  (continuity-corrected, 0 when S=0)
    *
    * S and the variance NUMERATOR are exact integers; z is one
    * written IEEE sequence snapped to z_micro. Pairs are ordered by
    * the integer `idxCol` (strictly increasing within a group —
    * duplicate indexes are rejected: with tied timestamps "before"
    * is undefined in any engine). Like every exact pairwise statistic
    * here, O(nᵍ²) BY DEFINITION → the maxGroupRows guard refuses
    * unbounded groups; aggregate upstream (MK is usually run on a
    * daily/hourly rollup, which keeps n at the calendar's size no
    * matter the corpus scale). The default ceiling is 10,000 rows —
    * already 5·10⁷ pair rows per group; a caller raising it accepts
    * the quadratic pair cost knowingly. NULL indexes or values are
    * REJECTED (not silently tied): a NULL comparison would fall
    * through to the "tie" branch while n still counts the row,
    * quietly biasing S and Var(S).
    *
    * Output: (group, n, s_stat, var_num, z_micro), var_num > 0 rows
    * only (all-tied groups have no sampling distribution).
    */
  def mannKendall(
      df: DataFrame, groupCol: String, idxCol: String, valueCol: String,
      maxGroupRows: Long = 10000L): DataFrame = {
    require(maxGroupRows >= 2, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    requireIntegral(df, idxCol, valueCol)
    val rows = df.select(col(groupCol).as("__g"),
      col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__x"))
      .transform(Par.pin)
    val oversized = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), countDistinct(col("__i")).as("__d"),
        sum(when(col("__i").isNull || col("__x").isNull, 1L)
          .otherwise(0L)).as("__nulls"))
      .filter(col("__n") > maxGroupRows || col("__d") < col("__n") ||
        col("__nulls") > 0)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"mannKendall: group '${oversized.headOption.map(_.get(0))
          .getOrElse("?")}' " +
        s"exceeds maxGroupRows=$maxGroupRows (the pair set is " +
        "O(n^2) per group — n=10000 already means 5e7 pairs), has " +
        "duplicate indexes (with tied timestamps \"before\" is " +
        "undefined), or carries NULL idx/value rows (a NULL " +
        "comparison would silently count as a tie) — roll the " +
        "series up (daily/hourly) and null-filter upstream")
    mkZEdge(mkStats(rows, Seq("__g")), groupCol, Seq(col("__g")))
  }

  /** Exact per-stratum MK sufficient statistics over pre-validated
    * rows (__i, __x plus the stratum key columns): pairwise S by
    * comparison, tie-corrected variance numerator, n — shared by
    * [[mannKendall]] (stratum = group) and [[seasonalMannKendall]]
    * (stratum = group × season; the pair join never crosses a
    * stratum, which is the whole Hirsch-Slack point). A 1-row
    * stratum yields no pair rows, so s_stat arrives via LEFT join
    * and coalesces to 0 — the stratum still contributes (n=1, S=0,
    * Var=0) instead of vanishing from the seasonal sums (for plain
    * MK a 1-row group has var_num=0 and drops at the z edge either
    * way, so the left join only matters seasonally).
    */
  private def mkStats(
      rows: DataFrame, keys: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val a = rows.select(keyCols :+ col("__i").as("__ia") :+
      col("__x").as("__xa"): _*)
    val b = rows.select(keyCols :+ col("__i").as("__ib") :+
      col("__x").as("__xb"): _*)
    val sStat = a.join(b, keys)
      .filter(col("__ia") < col("__ib"))
      .groupBy(keyCols: _*)
      .agg(sum(when(col("__xb") > col("__xa"), 1L)
        .when(col("__xb") < col("__xa"), -1L).otherwise(0L)).as("s_stat"))
    val ties = rows.groupBy(keyCols :+ col("__x"): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(keyCols: _*)
      .agg(sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__tie"))
    rows.groupBy(keyCols: _*).agg(count(lit(1)).as("n"))
      .join(sStat, keys, "left").join(ties, keys)
      .select(keyCols :+ col("n") :+
        coalesce(col("s_stat"), lit(0L)).as("s_stat") :+
        (expr("n * (n - 1) * (2 * n + 5)") - col("__tie"))
          .as("var_num"): _*)
  }

  /** The shared MK output edge: var_num > 0 filter, continuity-
    * corrected z snapped to micro — applied to (possibly
    * season-summed) exact integer statistics.
    */
  private def mkZEdge(
      stats: DataFrame, groupCol: String,
      groupExpr: Seq[org.apache.spark.sql.Column]): DataFrame =
    stats
      .filter(col("var_num") > 0)
      .select(groupExpr.head.as(groupCol) +: Seq(col("n"),
        col("s_stat"), col("var_num"),
        snapMicro(
          when(col("s_stat") > 0,
            (col("s_stat") - lit(1)).cast("double"))
            .when(col("s_stat") < 0,
              (col("s_stat") + lit(1)).cast("double"))
            .otherwise(lit(0.0))
            / sqrt(col("var_num").cast("double") / lit(18.0)))
          .as("z_micro")): _*)

  /** Seasonal Mann-Kendall per group (Hirsch & Slack 1984) — the
    * trend alarm for series with a KNOWN cycle: plain MK reads a
    * weekly rhythm as ties/noise and a strong seasonal pattern can
    * mask or fake a trend. Pairs are compared only WITHIN each
    * season (same weekday with daily data, same month with monthly),
    * and the exact integer statistics sum across seasons:
    *
    *   S = Σ_seasons S_season,  Var = Σ_seasons Var_season
    *
    * (independence across seasons under H0 — the Hirsch-Slack
    * additivity), with ONE continuity-corrected z over the summed
    * statistics at the micro edge. All the [[mannKendall]] contracts
    * hold per (group, season): strict index order, NULL refusal, the
    * O(n²)-pairs guard (now per season — the seasonal split also
    * cuts the pair cost by the season count). All-tied and 1-row
    * seasons contribute S = 0, Var = 0 — their points still count
    * in n but drop out of both statistic sums exactly.
    *
    * Output: (group, n, s_stat, var_num, z_micro) — n totals every
    * seasonal point; groups where every season is all-tied drop.
    */
  def seasonalMannKendall(
      df: DataFrame, groupCol: String, seasonCol: String, idxCol: String,
      valueCol: String, maxGroupRows: Long = 10000L): DataFrame = {
    require(maxGroupRows >= 2, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    requireIntegral(df, idxCol, valueCol)
    val rows = df.select(col(groupCol).as("__g"),
      col(seasonCol).as("__season"),
      col(idxCol).cast("long").as("__i"),
      col(valueCol).cast("long").as("__x"))
      .transform(Par.pin)
    val oversized = rows.groupBy(col("__g"), col("__season"))
      .agg(count(lit(1)).as("__n"), countDistinct(col("__i")).as("__d"),
        sum(when(col("__i").isNull || col("__x").isNull, 1L)
          .otherwise(0L)).as("__nulls"))
      .filter(col("__n") > maxGroupRows || col("__d") < col("__n") ||
        col("__nulls") > 0)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"seasonalMannKendall: (group, season) '${oversized.headOption
          .map(r => (r.get(0), r.get(1))).getOrElse("?")}' " +
        s"exceeds maxGroupRows=$maxGroupRows, has duplicate indexes, " +
        "or carries NULL idx/value rows — roll up and null-filter " +
        "upstream (the mannKendall contracts, per season)")
    val summed = mkStats(rows, Seq("__g", "__season"))
      .groupBy(col("__g"))
      .agg(sum(col("n")).as("n"), sum(col("s_stat")).as("s_stat"),
        sum(col("var_num")).as("var_num"))
    mkZEdge(summed, groupCol, Seq(col("__g")))
  }

  /** Cliff's delta per group (Cliff 1993) — the ordinal effect size
    * an A/B readout reports next to [[AbTest]]'s rank-sum p-value:
    * δ = (#(x₁ > x₀) − #(x₁ < x₀)) / (n₁·n₀) ∈ [−1, 1], the
    * probability a treatment draw beats a control draw minus the
    * reverse. Pure comparison counts (exact integers); the output
    * rides the signed ppm lattice via sign·(|·| div m) so Spark's
    * truncating `div` and a flooring replay agree on negatives (the
    * q_source_anomaly convention).
    *
    * `treatCol` must be a boolean column (true = treatment); rows
    * where it evaluates NULL join neither cohort (the
    * [[AbTest.rankSum]] convention), and NULL values are REJECTED —
    * a NULL comparison would silently count as a tie in the pair
    * counts while n still counts the row. O(n₀·n₁) cross pairs per
    * group BY DEFINITION → maxGroupRows guards each side; the 10,000
    * default already allows 10⁸ pairs per group — sample upstream
    * past it.
    *
    * Output: (group, n0, n1, gt, lt, delta_ppm).
    */
  def cliffsDelta(
      df: DataFrame, groupCol: String, treatCol: org.apache.spark.sql.Column,
      valueCol: String, maxGroupRows: Long = 10000L): DataFrame = {
    require(maxGroupRows >= 1, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val rows = df.select(col(groupCol).as("__g"), treatCol.as("__t"),
      col(valueCol).cast("long").as("__x"))
      .filter(col("__t").isNotNull)
      .transform(Par.pin)
    val oversized = rows.groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__x").isNull, 1L).otherwise(0L)).as("__nulls"))
      .filter(col("__n") > maxGroupRows || col("__nulls") > 0)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"cliffsDelta: group '${oversized.headOption.map(_.get(0))
          .getOrElse("?")}' " +
        s"exceeds maxGroupRows=$maxGroupRows on one side (the cross " +
        "pair set is O(n0*n1) by definition) or has NULL values (a " +
        "NULL comparison would silently tie) — sample and " +
        "null-filter upstream")
    val t = rows.filter(col("__t")).select(col("__g"), col("__x").as("__x1"))
    val c = rows.filter(!col("__t")).select(col("__g"), col("__x").as("__x0"))
    t.join(c, "__g")
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__pairs"),
        sum(when(col("__x1") > col("__x0"), 1L).otherwise(0L)).as("gt"),
        sum(when(col("__x1") < col("__x0"), 1L).otherwise(0L)).as("lt"))
      .join(rows.filter(!col("__t")).groupBy(col("__g"))
        .agg(count(lit(1)).as("n0")), "__g")
      .join(rows.filter(col("__t")).groupBy(col("__g"))
        .agg(count(lit(1)).as("n1")), "__g")
      .select(col("__g").as(groupCol), col("n0"), col("n1"),
        col("gt"), col("lt"),
        (signum((col("gt") - col("lt")).cast("double")).cast("long") *
          expr("(abs(gt - lt) * CAST(1000000 AS BIGINT)) div __pairs"))
          .as("delta_ppm"))
  }

  /** Kruskal-Wallis rank one-way ANOVA per partition (Kruskal &
    * Wallis 1952) — "do the k sources draw from the same length/
    * quality distribution", the rank twin of
    * [[DistributionTests.oneWayAnova]] that ignores outliers and any
    * monotone rescaling. Average-rank ties ride the doubled-rank
    * integer lattice of [[RankCorrelation.spearman]] (2·rank_min +
    * tieCount − 1 — exact integers), so with R2ᵢ = 2Rᵢ:
    *
    *   H = 3/(N(N+1)) · Σᵢ R2ᵢ²/nᵢ − 3(N+1)
    *
    * Σ R2ᵢ²/nᵢ is kept EXACT until the last step: each group
    * contributes the integer quotient R2ᵢ² div nᵢ (DECIMAL-summed)
    * plus a remainder fraction < 1 snapped alone to the nano lattice
    * and integer-summed — the sum is order-free in both engines, and
    * only then does ONE written IEEE sequence form H. Tie-corrected
    * H_c = H / (1 − Σ(t³−t)/(N³−N)). Both snap to micro at the edge.
    *
    * R2ᵢ² is squared in DECIMAL(38,0) — the doubled-rank SUM reaches
    * N(N+1), so a LONG square wraps silently near N ≈ 55k rows per
    * partition (nowhere near the 1.5M an earlier doc claimed); the
    * DECIMAL square is exact to N ≈ 3e9. Shape: two rank windows +
    * node-keyed aggregates — no pairwise join, scale-safe.
    *
    * Rows with a NULL value are dropped BEFORE ranking (the
    * [[AbTest.rankSum]] convention — ranked, a NULL would sort first
    * and shift every rank; dropped lazily, no extra job): n counts
    * only ranked rows, so the statistic stays unbiased.
    *
    * Output: (partCol, n, k_groups, h_micro, h_tie_corrected_micro),
    * partitions with ≥ 2 groups and a nonzero tie denominator.
    */
  def kruskalWallis(
      df: DataFrame, partCol: String, groupCol: String, valueCol: String)
      : DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val wRank = Window.partitionBy(col("__p")).orderBy(col("__x"))
    val wTie = Window.partitionBy(col("__p"), col("__x"))
    val ranked = df.filter(col(valueCol).isNotNull)
      .select(col(partCol).as("__p"), col(groupCol).as("__g"),
      col(valueCol).cast("long").as("__x"))
      .select(col("__p"), col("__g"), col("__x"),
        (lit(2L) * rank().over(wRank).cast("long") +
          count(lit(1)).over(wTie).cast("long") - lit(1L)).as("__r2"))
    val d38 = DecimalType(38, 0)
    // remainder fraction < 1, snapped alone to nano then integer-summed
    val perGroup = ranked.groupBy(col("__p"), col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__r2")).as("__rsum"))
      .select(col("__p"), col("__ng"),
        // DECIMAL(38,0) square: __rsum reaches N(N+1), so a LONG
        // square wraps silently near N ≈ 55k rows per partition
        expr("(CAST(__rsum AS DECIMAL(38,0)) * __rsum) div __ng")
          .as("__q"),
        round(expr("(CAST(__rsum AS DECIMAL(38,0)) * __rsum) % __ng")
          .cast("double") /
          col("__ng").cast("double") * lit(1e9)).cast("long")
          .as("__remnano"))
    val ties = ranked.groupBy(col("__p"), col("__x"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__p"))
      .agg(sum(expr("__t * __t * __t - __t")).as("__tie"))
    val stats = perGroup.groupBy(col("__p"))
      .agg(sum(col("__ng")).as("n"),
        count(lit(1)).as("k_groups"),
        sum(col("__q").cast(d38)).as("__qsum"),
        sum(col("__remnano")).as("__remsum"))
      .join(ties, "__p")
      .filter(col("k_groups") >= 2 && col("n") >= 2)
    val nD = col("n").cast("double")
    val sumR2OverN = col("__qsum").cast("double") +
      col("__remsum").cast("double") / lit(1e9)
    val h = lit(3.0) * sumR2OverN / (nD * (nD + lit(1.0))) -
      lit(3.0) * (nD + lit(1.0))
    val tieDen = lit(1.0) -
      col("__tie").cast("double") / (nD * nD * nD - nD)
    stats
      .filter(col("__tie") < expr("n * n * n - n"))
      .select(col("__p").as(partCol), col("n"), col("k_groups"),
        snapMicro(h).as("h_micro"),
        snapMicro(h / tieDen).as("h_tie_corrected_micro"))
  }

  /** Friedman test per partition (Friedman 1937) — the BLOCKED rank
    * ANOVA: "do the k treatments differ once the per-block level is
    * ranked away", the within-subjects twin of [[kruskalWallis]]
    * (KW pools all rows into one ranking; Friedman ranks the k
    * treatments INSIDE each block, so day-to-day level shifts cannot
    * masquerade as treatment effects — the right test for "does
    * event-type mix differ, controlling for the day").
    *
    * Expects ONE observation per (partition, block, treatment) —
    * aggregate upstream (the daily-rollup convention). Blocks missing
    * any of the partition's treatments are DROPPED before ranking
    * (Friedman is undefined on incomplete blocks; the drop is
    * deterministic and oracle-replayable). NULL values drop lazily
    * (the [[kruskalWallis]] convention). With doubled ranks
    * R2ⱼ = 2·Rⱼ (the [[RankCorrelation.spearman]] integer tie
    * lattice) the statistic is
    *
    *   χ²_F = 3·Σⱼ R2ⱼ² / (n·k·(k+1)) − 3·n·(k+1)
    *
    * where Σ R2ⱼ² is an exact integer (DECIMAL-summed squares) and
    * ONE written IEEE sequence forms χ². Tie-corrected χ²_c =
    * χ²_F / (1 − Σ_blocks Σ(t³−t) / (n·k·(k²−1))). Shape: two rank
    * windows + keyed aggregates — no pairwise join, scale-safe at
    * any corpus size (n is the calendar's size, k the treatment
    * cardinality).
    *
    * Output: (partCol, n_blocks, k_treatments, chi2_micro,
    * chi2_tie_corrected_micro) — partitions with ≥ 2 complete
    * blocks, ≥ 2 treatments, and a nonzero tie denominator.
    */
  /** Shared complete-block doubled-rank chain for the blocked tests
    * ([[friedman]], [[pageTrend]], [[quade]]): NULL values drop,
    * blocks missing any of the partition's treatments drop,
    * treatments rank inside each block on the doubled tie lattice.
    * Returns (kept rows, ranked(__p,__b,__t,__x,__r2), complete
    * blocks(__p,__b)).
    */
  private def blockedRanks(
      df: DataFrame, partCol: String, blockCol: String, treatCol: String,
      valueCol: String): (DataFrame, DataFrame, DataFrame) = {
    val obs = df.filter(col(valueCol).isNotNull)
      .select(col(partCol).as("__p"), col(blockCol).as("__b"),
        col(treatCol).as("__t"), col(valueCol).cast("long").as("__x"))
    val kPer = obs.groupBy(col("__p"))
      .agg(countDistinct(col("__t")).as("__k"))
    // completeness = k rows AND k DISTINCT treatments: a plain row
    // count would let a block with a duplicated treatment masking a
    // missing one pass as complete and silently corrupt every
    // blocked statistic downstream
    val complete = obs.groupBy(col("__p"), col("__b"))
      .agg(count(lit(1)).as("__c"),
        countDistinct(col("__t")).as("__cd"))
      .join(kPer, "__p")
      .filter(col("__c") === col("__k") && col("__cd") === col("__k"))
      .select(col("__p"), col("__b"))
    val kept = obs.join(complete, Seq("__p", "__b"))
    val wRank = Window.partitionBy(col("__p"), col("__b"))
      .orderBy(col("__x"))
    val wTie = Window.partitionBy(col("__p"), col("__b"), col("__x"))
    val ranked = kept.select(col("__p"), col("__b"), col("__t"),
      col("__x"),
      (lit(2L) * rank().over(wRank).cast("long") +
        count(lit(1)).over(wTie).cast("long") - lit(1L)).as("__r2"))
    (kept, ranked, complete)
  }

  def friedman(
      df: DataFrame, partCol: String, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val (kept, ranked, complete) =
      blockedRanks(df, partCol, blockCol, treatCol, valueCol)
    val d38 = DecimalType(38, 0)
    val perTreat = ranked.groupBy(col("__p"), col("__t"))
      .agg(sum(col("__r2")).as("__rt"))
    val ties = kept.groupBy(col("__p"), col("__b"), col("__x"))
      .agg(count(lit(1)).as("__tt"))
      .groupBy(col("__p"))
      .agg(sum(expr("__tt * __tt * __tt - __tt")).as("__tie"))
    val nBlocks = complete.groupBy(col("__p"))
      .agg(count(lit(1)).as("n_blocks"))
    val stats = perTreat.groupBy(col("__p"))
      .agg(count(lit(1)).as("k_treatments"),
        sum(col("__rt").cast(d38) * col("__rt").cast(d38)).as("__s"))
      .join(nBlocks, "__p").join(ties, "__p")
      .filter(col("k_treatments") >= 2 && col("n_blocks") >= 2)
    val nD = col("n_blocks").cast("double")
    val kD = col("k_treatments").cast("double")
    val chi2 = lit(3.0) * col("__s").cast("double") /
      (nD * kD * (kD + lit(1.0))) - lit(3.0) * nD * (kD + lit(1.0))
    val tieDen = lit(1.0) - col("__tie").cast("double") /
      (nD * kD * (kD * kD - lit(1.0)))
    stats
      .filter(col("__tie") <
        expr("n_blocks * k_treatments * " +
          "(k_treatments * k_treatments - 1)"))
      .select(col("__p").as(partCol), col("n_blocks"),
        col("k_treatments"),
        snapMicro(chi2).as("chi2_micro"),
        snapMicro(chi2 / tieDen).as("chi2_tie_corrected_micro"))
  }

  /** Brown-Forsythe robust variance-homogeneity test (Brown &
    * Forsythe 1974) — "do the k groups have the same SPREAD", the
    * assumption check a reader runs beside
    * [[DistributionTests.oneWayAnova]]'s mean comparison (classical
    * ANOVA assumes homoscedasticity; this is the median-centered
    * Levene variant, robust where the mean-centered original is
    * itself outlier-sensitive). W = the one-way ANOVA F statistic
    * computed on per-row absolute deviations from the GROUP MEDIAN.
    *
    * Exactness: the group median comes by positional order-statistic
    * SELECTION (never interpolation — the [[RobustStats]] policy) on
    * the DOUBLED lattice: m2 = x_(⌈n/2⌉) + x_(⌊n/2⌋+1) is an exact
    * integer for odd and even n alike, so the deviation
    * d = |2x − m2| is an exact integer, and because F is
    * scale-invariant, F(d) ≡ F(d/2) — the doubling never reaches
    * the statistic. The ANOVA decomposition itself is delegated to
    * [[DistributionTests.oneWayAnova]] (exact integer sufficient
    * statistics, per-group 9-dp snap, DECIMAL accumulation), so both
    * tests share one arithmetic contract. NULL values drop lazily
    * (the [[kruskalWallis]] convention).
    *
    * Shape: one rank window for the medians + the ANOVA's map-side
    * combined aggregation — no pairwise join, scale-safe.
    *
    * Output: one row (k_groups, n, ss_between, ss_within, f_stat)
    * on the doubled-deviation lattice, 6-dp edge; no row when k < 2
    * or every deviation is 0.
    */
  def brownForsythe(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__x"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x"))
    val ranked = rows
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
    // doubled median: the one (odd n) or two (even n) central order
    // statistics; when they coincide the single row counts twice
    val m2 = ranked
      .filter(col("__r") === expr("(__n + 1) div 2") ||
        col("__r") === expr("__n div 2 + 1"))
      .groupBy(col("__g"))
      .agg(sum(col("__x")).as("__ms"), count(lit(1)).as("__mc"))
      .select(col("__g"), expr("__ms * 2 div __mc").as("__m2"))
    val dev = rows.join(m2, "__g")
      .select(col("__g").as(groupCol),
        abs(lit(2L) * col("__x") - col("__m2")).as("dev2"))
    DistributionTests.oneWayAnova(dev, groupCol, "dev2")
  }

  /** Cochran's Q per partition (Cochran 1950) — the BLOCKED test for
    * BINARY outcomes: "do the k treatments produce the same pass
    * rate, block by block" — [[friedman]]'s dichotomous sibling and
    * [[DistributionTests]]' McNemar generalized past two treatments.
    * The curation reading: blocks = documents, treatments = quality
    * filters, outcome = flagged; Q asks whether the filters disagree
    * systematically (χ²_{k−1} under H0).
    *
    *   Q = (k−1)·[k·ΣⱼCⱼ² − N²] / [k·N − ΣᵢRᵢ²]
    *
    * Cⱼ = per-treatment success totals, Rᵢ = per-block success
    * totals, N = ΣCⱼ — EVERY term an exact integer (DECIMAL-summed
    * squares; no ranks, no pairs, no floats until the single output
    * division), so unlike the rank family this is pure aggregation:
    * scale-safe at ANY block count, no window, no guard needed.
    * Blocks missing any treatment drop (the [[friedman]]
    * complete-block rule); NULL outcomes drop lazily (dropping the
    * block with them). `outcomeCol` must be boolean or integral 0/1
    * (validated: any other integer REFUSES — a silent ≥1 coercion
    * would double-count multi-flag blocks).
    *
    * Output: (partCol, n_blocks, k_treatments, n_success, q_micro);
    * partitions with ≥ 2 treatments, ≥ 2 blocks, and a nonzero
    * denominator (all-uniform blocks everywhere leave Q undefined).
    */
  def cochranQ(
      df: DataFrame, partCol: String, blockCol: String, treatCol: String,
      outcomeCol: String): DataFrame = {
    Reserved.check("input" -> df)
    val outcome = df.schema(outcomeCol).dataType match {
      case org.apache.spark.sql.types.BooleanType =>
        col(outcomeCol).cast("long")
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => col(outcomeCol).cast("long")
      case dt => throw new IllegalArgumentException(
        s"cochranQ: outcome column '$outcomeCol' is $dt; need boolean " +
          "or integral 0/1")
    }
    val obs = df.filter(col(outcomeCol).isNotNull)
      .select(col(partCol).as("__p"), col(blockCol).as("__b"),
        col(treatCol).as("__t"), outcome.as("__y"))
    val bad = obs.filter(col("__y") =!= 0L && col("__y") =!= 1L)
      .limit(1).collect()
    require(bad.isEmpty,
      s"cochranQ: outcome value '${bad.headOption.map(_.get(3))
          .getOrElse("?")}' is not 0/1 — binarize upstream (a silent " +
        ">=1 coercion would double-count multi-flag blocks)")
    val kPer = obs.groupBy(col("__p"))
      .agg(countDistinct(col("__t")).as("__k"))
    // completeness = k rows AND k DISTINCT treatments: a plain row
    // count would let a block with a duplicated treatment masking a
    // missing one pass as complete and silently corrupt every
    // blocked statistic downstream
    val complete = obs.groupBy(col("__p"), col("__b"))
      .agg(count(lit(1)).as("__c"),
        countDistinct(col("__t")).as("__cd"))
      .join(kPer, "__p")
      .filter(col("__c") === col("__k") && col("__cd") === col("__k"))
      .select(col("__p"), col("__b"))
    val kept = obs.join(complete, Seq("__p", "__b"))
    val d38 = DecimalType(38, 0)
    val colTot = kept.groupBy(col("__p"), col("__t"))
      .agg(sum(col("__y")).as("__cj"))
      .groupBy(col("__p"))
      .agg(count(lit(1)).as("k_treatments"),
        sum(col("__cj")).as("n_success"),
        sum(col("__cj").cast(d38) * col("__cj").cast(d38)).as("__c2"))
    val rowTot = kept.groupBy(col("__p"), col("__b"))
      .agg(sum(col("__y")).as("__ri"))
      .groupBy(col("__p"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__ri").cast(d38) * col("__ri").cast(d38)).as("__r2"))
    val stats = colTot.join(rowTot, "__p")
      .filter(col("k_treatments") >= 2 && col("n_blocks") >= 2)
      // exact integer numerator/denominator in DECIMAL
      .withColumn("__num",
        (col("k_treatments") - 1).cast(d38) *
          (col("k_treatments").cast(d38) * col("__c2") -
            col("n_success").cast(d38) * col("n_success").cast(d38)))
      .withColumn("__den",
        col("k_treatments").cast(d38) * col("n_success").cast(d38) -
          col("__r2"))
      .filter(col("__den") > 0)
    stats.select(col("__p").as(partCol), col("n_blocks"),
      col("k_treatments"), col("n_success"),
      snapMicro(col("__num").cast("double") / col("__den").cast("double"))
        .as("q_micro"))
  }

  /** Kendall's coefficient of concordance W per partition (Kendall &
    * Babington Smith 1939) — multi-rater ORDINAL agreement: "do the
    * m raters rank the k items the same way", the many-rater ordinal
    * companion to [[Agreement]]'s two-rater nominal Cohen's κ. W ∈
    * [0, 1]: 1 = every rater produces the identical ranking, 0 = no
    * agreement beyond chance.
    *
    * Computed through the [[friedman]] identity χ²_F = m·(k−1)·W
    * with raters as BLOCKS and items as TREATMENTS — one statistic
    * chain, two readings (and the tie-corrected W uses the
    * tie-corrected χ², the standard correction). The division rides
    * the already-snapped micro lattice as an exact integer quotient
    * (chi2_micro div (m·(k−1))), so both engines agree bit-for-bit
    * and W keeps 6-dp resolution.
    *
    * Raters missing any item drop (the complete-block rule — W is
    * undefined on incomplete rankings); NULL scores drop lazily.
    * Output: (partCol, n_raters, k_items, w_micro,
    * w_tie_corrected_micro).
    */
  def kendallW(
      df: DataFrame, partCol: String, raterCol: String, itemCol: String,
      scoreCol: String): DataFrame =
    // sign·(|·| div m): χ² is theoretically ≥ 0 but its micro snap
    // can land epsilon-negative, where Spark's truncating div and
    // DuckDB's flooring // disagree (the q_source_anomaly convention)
    friedman(df, partCol, raterCol, itemCol, scoreCol)
      .select(col(partCol),
        col("n_blocks").as("n_raters"),
        col("k_treatments").as("k_items"),
        expr("sign(chi2_micro) * (abs(chi2_micro) div " +
          "(n_blocks * (k_treatments - 1)))").cast("long")
          .as("w_micro"),
        expr("sign(chi2_tie_corrected_micro) * " +
          "(abs(chi2_tie_corrected_micro) div " +
          "(n_blocks * (k_treatments - 1)))").cast("long")
          .as("w_tie_corrected_micro"))

  /** Page's trend test per partition (Page 1963) — the ORDERED
    * alternative for the BLOCKED design, completing the 2×2 with its
    * neighbors: [[kruskalWallis]] (pooled, unordered),
    * [[jonckheereTerpstra]] (pooled, ordered), [[friedman]] (blocked,
    * unordered). "Does the metric trend with the treatment order,
    * once each block's level is ranked away" — the sharper question
    * when the alternative IS the ordering (curation stages, model
    * sizes, date-ordered sources).
    *
    *   L = Σ_j c_j·R_j,  c_j = 1..k by ascending treatment order
    *
    * rides the doubled lattice L2 = Σ c_j·R2ⱼ (exact — R2ⱼ are the
    * [[friedman]] doubled rank sums), E2 = n·k·(k+1)²/2 is exact
    * (k(k+1) is even), and z = (L2−E2)/(2·√Var) with the classical
    * null variance Var = n·k²·(k+1)²·(k−1)/144 — the untied formula,
    * as conventionally reported: average-rank ties still make L
    * exact, only the variance keeps the classical form (documented
    * approximation, same convention as R's published implementations).
    * ONE written IEEE sequence forms z at the micro edge.
    *
    * `ordCol` is both the treatment identity and its order (integral
    * — the [[jonckheereTerpstra]] contract); coefficients are the
    * dense rank of the order values, so gaps in the ordering don't
    * distort the weights. Complete-block and NULL policy are
    * [[friedman]]'s. Shape: the shared blocked-rank chain + k-row
    * aggregates — no pairwise join, scale-safe.
    *
    * Output: (partCol, n_blocks, k_treatments, l2, e2, z_micro),
    * partitions with ≥ 2 complete blocks and ≥ 2 treatments.
    */
  def pageTrend(
      df: DataFrame, partCol: String, blockCol: String, ordCol: String,
      valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, ordCol, valueCol)
    val (_, ranked, complete) =
      blockedRanks(df, partCol, blockCol, ordCol, valueCol)
    val perTreat = ranked.groupBy(col("__p"), col("__t"))
      .agg(sum(col("__r2")).as("__rt"))
    val wOrd = Window.partitionBy(col("__p")).orderBy(col("__t"))
    val withC = perTreat
      .withColumn("__c", dense_rank().over(wOrd).cast("long"))
    val nBlocks = complete.groupBy(col("__p"))
      .agg(count(lit(1)).as("n_blocks"))
    val stats = withC.groupBy(col("__p"))
      .agg(count(lit(1)).as("k_treatments"),
        sum(col("__c") * col("__rt")).as("l2"))
      .join(nBlocks, "__p")
      .filter(col("k_treatments") >= 2 && col("n_blocks") >= 2)
    val nD = col("n_blocks").cast("double")
    val kD = col("k_treatments").cast("double")
    val varD = nD * kD * kD * (kD + lit(1.0)) * (kD + lit(1.0)) *
      (kD - lit(1.0)) / lit(144.0)
    val e2 = expr("n_blocks * k_treatments * (k_treatments + 1) * " +
      "(k_treatments + 1) div 2")
    stats.select(col("__p").as(partCol), col("n_blocks"),
      col("k_treatments"), col("l2"), e2.as("e2"),
      snapMicro((col("l2") - e2).cast("double") /
        (lit(2.0) * sqrt(varD))).as("z_micro"))
  }

  /** Jonckheere-Terpstra ordered-alternative test per partition
    * (Jonckheere 1954; Terpstra 1952) — "does the metric TREND with
    * the group ORDER": where [[kruskalWallis]] asks "any difference
    * among the k groups", JT asks the sharper one-directional
    * question against an a-priori group ordering (do doc lengths
    * grow with source index, does quality rise across curation
    * stages) and has strictly more power when that order is the
    * alternative. `ordCol` must be an integral column carrying the
    * group order.
    *
    *   J  = Σ_{i<j by ord} [#(x_i < x_j) + ½·#(x_i = x_j)]
    *
    * rides the DOUBLED lattice J2 = 2·gt + eq (exact integer; the
    * ½-tie convention with no float), E2 = 2·E[J] = (N² − Σnᵢ²)/2 is
    * exact (N² − Σnᵢ² is always even), and the tie-corrected null
    * variance (Hollander & Wolfe 1999, eq. 6.19) is three exact
    * integer aggregates
    *
    *   A = N(N−1)(2N+5) − Σᵢ nᵢ(nᵢ−1)(2nᵢ+5) − Σⱼ tⱼ(tⱼ−1)(2tⱼ+5)
    *   B = [Σᵢ nᵢ(nᵢ−1)(nᵢ−2)]·[Σⱼ tⱼ(tⱼ−1)(tⱼ−2)]
    *   C = [Σᵢ nᵢ(nᵢ−1)]·[Σⱼ tⱼ(tⱼ−1)]
    *   Var = A/72 + B/(36·N(N−1)(N−2)) + C/(8·N(N−1))
    *
    * with ONE written IEEE sequence forming z = (J2−E2)/(2·√Var) at
    * the micro edge (nᵢ = group sizes, tⱼ = value-tie multiplicities
    * within the partition; B's factors multiply as doubles — each
    * factor is an exact long, the product would overflow it).
    *
    * Cross-group pairs are O(nᵖ²) per partition BY DEFINITION → the
    * [[cliffsDelta]] guard: maxGroupRows refuses oversized
    * partitions, NULL order/value rows are rejected (a NULL
    * comparison would silently tie), aggregate upstream past it.
    *
    * Output: (partCol, n, k_groups, j2, e2, z_micro), Var > 0 rows
    * only; partitions need k ≥ 2 groups AND n ≥ 3 total rows (at
    * n = 2 the normal approximation is meaningless and the B
    * variance term degenerates to 0/0 — excluded deliberately, not
    * dropped by a NaN comparison).
    */
  def jonckheereTerpstra(
      df: DataFrame, partCol: String, ordCol: String, valueCol: String,
      maxGroupRows: Long = 10000L): DataFrame = {
    require(maxGroupRows >= 2, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    requireIntegral(df, ordCol, valueCol)
    val rows = df.select(col(partCol).as("__p"),
      col(ordCol).cast("long").as("__o"),
      col(valueCol).cast("long").as("__x"))
      .transform(Par.pin)
    val oversized = rows.groupBy(col("__p"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__o").isNull || col("__x").isNull, 1L)
          .otherwise(0L)).as("__nulls"))
      .filter(col("__n") > maxGroupRows || col("__nulls") > 0)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"jonckheereTerpstra: partition '${oversized.headOption
          .map(_.get(0)).getOrElse("?")}' " +
        s"exceeds maxGroupRows=$maxGroupRows (cross-group pairs are " +
        "O(n^2) by definition) or has NULL order/value rows — " +
        "aggregate and null-filter upstream")
    val a = rows.select(col("__p"), col("__o").as("__oa"),
      col("__x").as("__xa"))
    val b = rows.select(col("__p"), col("__o").as("__ob"),
      col("__x").as("__xb"))
    val j2 = a.join(b, "__p")
      .filter(col("__oa") < col("__ob"))
      .groupBy(col("__p"))
      .agg(sum(when(col("__xb") > col("__xa"), 2L)
        .when(col("__xb") === col("__xa"), 1L)
        .otherwise(0L)).as("j2"))
    val groups = rows.groupBy(col("__p"), col("__o"))
      .agg(count(lit(1)).as("__ng"))
      .groupBy(col("__p"))
      .agg(count(lit(1)).as("k_groups"),
        sum(col("__ng")).as("n"),
        sum(expr("__ng * __ng")).as("__sn2"),
        sum(expr("__ng * (__ng - 1) * (2 * __ng + 5)")).as("__ga"),
        sum(expr("__ng * (__ng - 1) * (__ng - 2)")).as("__gb"),
        sum(expr("__ng * (__ng - 1)")).as("__gc"))
    val ties = rows.groupBy(col("__p"), col("__x"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__p"))
      .agg(sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__ta"),
        sum(expr("__t * (__t - 1) * (__t - 2)")).as("__tb"),
        sum(expr("__t * (__t - 1)")).as("__tc"))
    val joined = groups.join(ties, "__p").join(j2, "__p")
      .filter(col("k_groups") >= 2 && col("n") >= 3)
    val nD = col("n").cast("double")
    // At n=2 the B numerator is provably 0 (no group or tie class can
    // reach size 3) while its denominator hits n−2 = 0 → 0/0 = NaN
    // that the var>0 filter would swallow SILENTLY; the n>=3 filter
    // above excludes that case deliberately, and the when() keeps the
    // term well-defined even if the bound is ever relaxed.
    val bTerm = when(col("n") > 2,
      col("__gb").cast("double") * col("__tb").cast("double") /
        (lit(36.0) * nD * (nD - lit(1.0)) * (nD - lit(2.0))))
      .otherwise(lit(0.0))
    val varD =
      (expr("n * (n - 1) * (2 * n + 5)") - col("__ga") - col("__ta"))
        .cast("double") / lit(72.0) +
      bTerm +
      col("__gc").cast("double") * col("__tc").cast("double") /
        (lit(8.0) * nD * (nD - lit(1.0)))
    joined
      .select(col("__p").as(partCol), col("n"), col("k_groups"),
        col("j2"), expr("(n * n - __sn2) div 2").as("e2"),
        varD.as("__var"),
        snapMicro((col("j2") - expr("(n * n - __sn2) div 2"))
          .cast("double") / (lit(2.0) * sqrt(varD))).as("z_micro"))
      .filter(col("__var") > 0)
      .select(col(partCol), col("n"), col("k_groups"),
        col("j2"), col("e2"), col("z_micro"))
  }

  /** Wilcoxon signed-rank test per group (Wilcoxon 1945) — the
    * PAIRED two-sample test this family was missing: where
    * [[AbTest.rankSum]]/Mann-Whitney compares two independent
    * samples, signed-rank asks "did the metric move within the SAME
    * unit" (pre vs post cents per user, before/after a rollout) and
    * gains its power from differencing away the per-unit level.
    *
    * d = y − x per pair; ZERO differences drop (Wilcoxon's own
    * convention — a zero carries no sign information), pairs with
    * NULL x or y drop entirely (the [[AbTest.cuped]] unit policy).
    * |d| ranks on the doubled average-rank lattice of
    * [[kruskalWallis]] (2·rank_min + tieCount − 1 — exact integers)
    * and the DOUBLED statistic is
    *
    *   W2⁺ = Σ_{d>0} r2ᵢ,   E2 = n(n+1)/2  (both exact integers)
    *   var_num = 2n(n+1)(2n+1) − Σ(t³−t),  Var(W2⁺) = var_num/12
    *
    * (the tie term over |d| tie groups; var_num is the exact integer
    * 12·Var on the doubled lattice). z = (W2⁺ − E2 ∓ 1)/√(var_num/12)
    * with the ±1 continuity correction (= ±½ in single-rank units),
    * ONE written IEEE sequence snapped to micro. n(n+1)(2n+1) stays
    * in long only to n ≈ 1.3M nonzero pairs per group (var_num =
    * 2n(n+1)(2n+1) crosses Long.MaxValue at n ≈ 1.32·10⁶); larger
    * groups need the DECIMAL widening documented at
    * [[kruskalWallis]].
    *
    * Shape: one rank window inside the group + keyed aggregates — no
    * pairwise join, scale-safe at any corpus size.
    *
    * Output: (group, n_pairs, w2_plus, e2, var_num, z_micro) —
    * groups with ≥ 1 nonzero difference and var_num > 0 (all-tied
    * |d| with n ≥ 2 keeps var_num > 0; var_num = 0 only when every
    * difference was zero-dropped; a lone nonzero pair keeps
    * var_num = 12 and saturates |z| at its continuity-corrected 0).
    */
  def wilcoxonSignedRank(
      df: DataFrame, groupCol: String, xCol: String, yCol: String)
      : DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, xCol, yCol)
    val diffs = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"),
        (col(yCol).cast("long") - col(xCol).cast("long")).as("__d"))
      .filter(col("__d") =!= 0L)
      .withColumn("__a", abs(col("__d")))
    val wRank = Window.partitionBy(col("__g")).orderBy(col("__a"))
    val wTie = Window.partitionBy(col("__g"), col("__a"))
    val ranked = diffs.select(col("__g"), col("__d"),
      (lit(2L) * rank().over(wRank).cast("long") +
        count(lit(1)).over(wTie).cast("long") - lit(1L)).as("__r2"))
    val ties = diffs.groupBy(col("__g"), col("__a"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__g"))
      .agg(sum(expr("__t * __t * __t - __t")).as("__tie"))
    val stats = ranked.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__d") > 0, col("__r2")).otherwise(0L))
          .as("w2_plus"))
      .join(ties, "__g")
      .select(col("__g"), col("n_pairs"), col("w2_plus"),
        expr("n_pairs * (n_pairs + 1) div 2").as("e2"),
        (expr("2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1)") -
          col("__tie")).as("var_num"))
    stats
      .filter(col("var_num") > 0)
      .select(col("__g").as(groupCol), col("n_pairs"), col("w2_plus"),
        col("e2"), col("var_num"),
        snapMicro(
          when(col("w2_plus") > col("e2"),
            (col("w2_plus") - col("e2") - lit(1L)).cast("double"))
            .when(col("w2_plus") < col("e2"),
              (col("w2_plus") - col("e2") + lit(1L)).cast("double"))
            .otherwise(lit(0.0))
            / sqrt(col("var_num").cast("double") / lit(12.0)))
          .as("z_micro"))
  }

  /** Ansari-Bradley scale test per partition (Ansari & Bradley
    * 1960) — "do the two cohorts differ in DISPERSION around a
    * common center": the rank-based companion to [[brownForsythe]]
    * (which compares spreads via |x − median| means) that needs no
    * moments at all. Pooled values rank on the doubled average-rank
    * lattice; each row scores from BOTH ENDS of the ranking
    *
    *   a2ᵢ = min(r2ᵢ, 2(N+1) − r2ᵢ)   (doubled midrank AB score)
    *
    * (small scores at the extremes, large in the middle — a cohort
    * concentrated mid-ranking has LOW dispersion), and the doubled
    * statistic AB2 = Σ_{cohort B} a2ᵢ compares against its exact
    * conditional null moments given the observed (tie-shared) score
    * multiset:
    *
    *   E[AB2]   = m·S2/N           (S2 = Σ a2ᵢ, m = |B|)
    *   Var(AB2) = m·n·(N·Q2 − S2²) / (N²·(N−1))   (Q2 = Σ a2ᵢ²)
    *
    * z = (N·AB2 − m·S2) / √(m·n·(N·Q2 − S2²)/(N−1)) multiplies both
    * sides by N so EVERY sufficient statistic (AB2, S2, Q2 and the
    * DECIMAL products) is an exact integer, with ONE written IEEE
    * sequence at the micro edge. This conditional-moment form is
    * exactly R's `ansari.test` normal approximation with midrank
    * ties. Rows with NULL value or NULL cohort drop (the
    * [[cliffsDelta]] convention).
    *
    * Shape: one rank window + keyed aggregates — no pairwise join,
    * scale-safe. Q2 terms square doubled ranks (≤ 2N), so N·Q2 stays
    * in long to N ≈ 1M rows per partition — DECIMAL-summed beyond.
    *
    * Output: (part, n_a, n_b, ab2, z_micro) — partitions with both
    * cohorts populated and a nonzero score variance (all-tied
    * pooled values make every score equal → no test).
    */
  def ansariBradley(
      df: DataFrame, partCol: String, inB: org.apache.spark.sql.Column,
      valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val d38 = DecimalType(38, 0)
    val rows = df
      .filter(inB.isNotNull && col(valueCol).isNotNull)
      .select(col(partCol).as("__p"), inB.as("__b"),
        col(valueCol).cast("long").as("__x"))
    val wRank = Window.partitionBy(col("__p")).orderBy(col("__x"))
    val wTie = Window.partitionBy(col("__p"), col("__x"))
    val wN = Window.partitionBy(col("__p"))
    val scored = rows.select(col("__p"), col("__b"),
      (lit(2L) * rank().over(wRank).cast("long") +
        count(lit(1)).over(wTie).cast("long") - lit(1L)).as("__r2"),
      count(lit(1)).over(wN).cast("long").as("__nn"))
      .withColumn("__a2",
        least(col("__r2"), lit(2L) * (col("__nn") + 1L) - col("__r2")))
    val stats = scored.groupBy(col("__p"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__b"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__b"), col("__a2")).otherwise(0L)).as("ab2"),
        sum(col("__a2")).as("__s2"),
        sum(col("__a2").cast(d38) * col("__a2").cast(d38)).as("__q2"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    val zNum = (col("__n").cast(d38) * col("ab2").cast(d38) -
      col("n_b").cast(d38) * col("__s2").cast(d38)).cast("double")
    val varTerm = (col("__n").cast(d38) * col("__q2") -
      col("__s2").cast(d38) * col("__s2").cast(d38)).cast("double")
    stats
      .filter(col("__n").cast(d38) * col("__q2") >
        col("__s2").cast(d38) * col("__s2").cast(d38))
      .select(col("__p").as(partCol), col("n_a"), col("n_b"),
        col("ab2"),
        snapMicro(zNum /
          sqrt(col("n_a").cast("double") * col("n_b").cast("double") *
            varTerm / (col("__n").cast("double") - lit(1.0))))
          .as("z_micro"))
  }

  /** Mood's median test per partition (Mood 1950) — the bluntest
    * k-group location test: dichotomize every value against the
    * partition's POOLED median and chi-square the resulting 2×k
    * table. Far less powerful than [[kruskalWallis]] but immune to
    * anything but the center — the sanity check a monitor runs when
    * even rank sums are suspect (extreme outliers, heavily censored
    * values).
    *
    * The pooled median is pinned EXACTLY as the lower median: the
    * smallest value v with #(x ≤ v) ≥ ⌈N/2⌉ — a deterministic
    * order statistic both engines compute by cumulative value
    * counts (no averaging of middle pairs, so no fractional values
    * and no engine-variant interpolation). With A = #(x > m) total,
    * B = N − A, aᵍ = #(x > m) in group g:
    *
    *   χ² = Σ_g (N·aᵍ − nᵍ·A)² / nᵍ / (A·B)
    *
    * — the algebraic collapse of the 2×k Pearson statistic in which
    * every numerator (N·aᵍ − nᵍ·A)² is an exact DECIMAL integer;
    * the per-group quotient rides [[kruskalWallis]]'s div+remnano
    * lattice (integer quotient DECIMAL-summed, remainder fraction
    * snapped alone to nano and integer-summed) and ONE written IEEE
    * sequence forms χ² at the micro edge. NULL values drop (the
    * [[kruskalWallis]] convention).
    *
    * Shape: a value-count aggregate + a cumulative window for the
    * median, then keyed aggregates — no pairwise join, scale-safe
    * (the window runs over DISTINCT values per partition, not rows).
    *
    * Output: (part, n, k_groups, above_total, chi2_micro) —
    * partitions with ≥ 2 groups and both median sides populated
    * (A = 0 — every value equal to the median — has no table).
    */
  def moodMedian(
      df: DataFrame, partCol: String, groupCol: String, valueCol: String)
      : DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val d38 = DecimalType(38, 0)
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(partCol).as("__p"), col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__x"))
    val byValue = rows.groupBy(col("__p"), col("__x"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__p")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy(col("__p"))
    val medians = byValue
      .select(col("__p"), col("__x"),
        sum(col("__c")).over(wCum).as("__cum"),
        sum(col("__c")).over(wN).as("__N"))
      .filter(col("__cum") * 2 >= col("__N"))
      .groupBy(col("__p"))
      .agg(min(col("__x")).as("__m"))
    val tagged = rows.join(medians, "__p")
    val perGroup = tagged.groupBy(col("__p"), col("__g"))
      .agg(count(lit(1)).as("__ng"),
        sum(when(col("__x") > col("__m"), 1L).otherwise(0L)).as("__ag"))
    val totals = perGroup.groupBy(col("__p"))
      .agg(sum(col("__ng")).as("n"), count(lit(1)).as("k_groups"),
        sum(col("__ag")).as("above_total"))
    val joined = perGroup.join(totals, "__p")
      .withColumn("__num",
        (col("n").cast(d38) * col("__ag").cast(d38) -
          col("__ng").cast(d38) * col("above_total").cast(d38)))
      .withColumn("__num2", col("__num") * col("__num"))
    val agg = joined.groupBy(col("__p"))
      .agg(first(col("n")).as("n"), first(col("k_groups")).as("k_groups"),
        first(col("above_total")).as("above_total"),
        sum((col("__num2") - pmod(col("__num2"), col("__ng").cast(d38)))
          / col("__ng").cast(d38)).as("__qsum"),
        sum(round(pmod(col("__num2"), col("__ng").cast(d38))
          .cast("double") / col("__ng").cast("double") * lit(1e9))
          .cast("long")).as("__remsum"))
      .filter(col("k_groups") >= 2 && col("above_total") > 0 &&
        col("above_total") < col("n"))
    val aD = col("above_total").cast("double")
    val bD = (col("n") - col("above_total")).cast("double")
    agg.select(col("__p").as(partCol), col("n"), col("k_groups"),
      col("above_total"),
      snapMicro((col("__qsum").cast("double") +
        col("__remsum").cast("double") / lit(1e9)) / (aD * bD))
        .as("chi2_micro"))
  }

  /** Brunner-Munzel test per partition (Brunner & Munzel 2000) — the
    * modern replacement for Mann-Whitney when the two cohorts may
    * differ in SHAPE as well as location: MW's variance assumes
    * exchangeability under H0, BM estimates a separate rank variance
    * per cohort (the rank-world Welch correction) and tests the
    * stochastic-superiority probability p = P(A < B) + ½P(A = B)
    * directly.
    *
    * Everything rides the doubled average-rank lattice: pooled
    * midranks r2 and WITHIN-cohort midranks r2w are exact integers,
    * d = r2 − r2w ≥ 0, and the rank-variance numerator expands to
    * per-cohort integer aggregates with no join-back:
    *
    *   cᵢ = sᵢ − nᵢ(nᵢ+1)            (sᵢ = Σ r2 over cohort i)
    *   V2ᵢ = nᵢ²·Σd² − 2nᵢcᵢ·Σd + nᵢcᵢ²   (= Σ(nᵢ·devᵢₖ)², exact)
    *   uᵢ = V2ᵢ / (nᵢ(nᵢ−1))          (= 4nᵢ·Sᵢ² of the paper)
    *
    *   p̂ = (s_b − n_b(n_b+1)) / (2·n_a·n_b)        (exact rational)
    *   W = n_a·n_b·(s_b/n_b − s_a/n_a) / (N·√(u_a + u_b))
    *   df = (u_a+u_b)² / (u_a²/(n_a−1) + u_b²/(n_b−1))   (Welch)
    *
    * p̂ lands on the exact ppm lattice via (num·10⁶) div (2·n_a·n_b)
    * (num ≥ 0 always, so truncating and flooring division agree); W
    * and df are ONE written IEEE sequence each over exact integer
    * sufficient statistics, snapped to micro. V2 terms reach n²·4N³
    * ≈ 4N⁵ — DECIMAL(38,0) accumulation from the start (long
    * overflows past N ≈ 4k). Rows with NULL cohort or NULL value
    * drop entirely (the [[cliffsDelta]] convention).
    *
    * Shape: two rank windows + keyed aggregates — no pairwise join,
    * scale-safe at any corpus size.
    *
    * Output: (part, n_a, n_b, p_ppm, w_micro, df_micro) —
    * partitions with both cohorts ≥ 2 rows and a positive variance
    * sum (all-tied pooled values have no test).
    */
  def brunnerMunzel(
      df: DataFrame, partCol: String, inB: org.apache.spark.sql.Column,
      valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val d38 = DecimalType(38, 0)
    val rows = df
      .filter(inB.isNotNull && col(valueCol).isNotNull)
      .select(col(partCol).as("__p"), inB.as("__b"),
        col(valueCol).cast("long").as("__x"))
    val wPool = Window.partitionBy(col("__p")).orderBy(col("__x"))
    val wPoolTie = Window.partitionBy(col("__p"), col("__x"))
    val wIn = Window.partitionBy(col("__p"), col("__b"))
      .orderBy(col("__x"))
    val wInTie = Window.partitionBy(col("__p"), col("__b"), col("__x"))
    val ranked = rows.select(col("__p"), col("__b"),
      (lit(2L) * rank().over(wPool).cast("long") +
        count(lit(1)).over(wPoolTie).cast("long") - lit(1L)).as("__r2"),
      (lit(2L) * rank().over(wIn).cast("long") +
        count(lit(1)).over(wInTie).cast("long") - lit(1L)).as("__r2w"))
      .withColumn("__d", col("__r2") - col("__r2w"))
    val perCohort = ranked.groupBy(col("__p"), col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__r2")).as("__s"),
        sum(col("__d")).as("__sd"),
        sum(col("__d").cast(d38) * col("__d").cast(d38)).as("__sd2"))
      .withColumn("__c",
        col("__s").cast(d38) - col("__n").cast(d38) * (col("__n") + 1L))
      .withColumn("__v2",
        col("__n").cast(d38) * col("__n").cast(d38) * col("__sd2") -
          lit(2L).cast(d38) * col("__n").cast(d38) * col("__c") *
            col("__sd").cast(d38) +
          col("__n").cast(d38) * col("__c") * col("__c"))
    val a = perCohort.filter(!col("__b"))
      .select(col("__p"), col("__n").as("n_a"), col("__s").as("__sa"),
        col("__v2").as("__va"))
    val b = perCohort.filter(col("__b"))
      .select(col("__p"), col("__n").as("n_b"), col("__s").as("__sb"),
        col("__v2").as("__vb"))
    val joined = a.join(b, "__p")
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
      .withColumn("__ua", col("__va").cast("double") /
        (col("n_a").cast("double") * (col("n_a").cast("double") - 1.0)))
      .withColumn("__ub", col("__vb").cast("double") /
        (col("n_b").cast("double") * (col("n_b").cast("double") - 1.0)))
      .filter(col("__ua") + col("__ub") > 0.0)
      .withColumn("__pnum",
        col("__sb") - col("n_b") * (col("n_b") + lit(1L)))
    val nD = (col("n_a") + col("n_b")).cast("double")
    joined.select(col("__p").as(partCol), col("n_a"), col("n_b"),
      expr("(__pnum * CAST(1000000 AS BIGINT)) div (2 * n_a * n_b)")
        .as("p_ppm"),
      snapMicro(
        col("n_a").cast("double") * col("n_b").cast("double") *
          (col("__sb").cast("double") / col("n_b").cast("double") -
            col("__sa").cast("double") / col("n_a").cast("double")) /
          (nD * sqrt(col("__ua") + col("__ub")))).as("w_micro"),
      snapMicro(
        (col("__ua") + col("__ub")) * (col("__ua") + col("__ub")) /
          (col("__ua") * col("__ua") /
            (col("n_a").cast("double") - 1.0) +
            col("__ub") * col("__ub") /
              (col("n_b").cast("double") - 1.0))).as("df_micro"))
  }

  /** Quade test per partition (Quade 1979) — the blocked-design test
    * that WEIGHTS blocks by how much signal they carry: where
    * [[friedman]] gives every block one vote, Quade multiplies each
    * block's centered within-block ranks by the rank of the block's
    * RANGE, so blocks where the treatments actually spread apart
    * dominate — markedly more powerful than Friedman at small k.
    *
    * All statistics ride exact integer lattices: within-block
    * doubled midranks r2 (so r2 − (k+1) doubles the centered rank),
    * block ranges max−min (exact longs), doubled range midranks Q2
    * across blocks, and the 4×-scaled scores
    *
    *   S4ᵢⱼ = Q2ᵢ·(r2ᵢⱼ − (k+1))       (exact integer)
    *   A4 = Σᵢⱼ S4ᵢⱼ²,  SB4 = Σⱼ(Σᵢ S4ᵢⱼ)²   (DECIMAL, exact)
    *   F = (n−1)·SB4 / (n·A4 − SB4)
    *
    * — the 16× scale of A and B cancels in F, so the doubled
    * lattices never reach the statistic: ONE written IEEE division
    * forms F at the micro edge. Incomplete blocks drop and NULLs
    * drop per the [[blockedRanks]] contract (the Friedman family
    * policy).
    *
    * Shape: the shared blocked-rank window + one range window across
    * blocks + keyed aggregates — no pairwise join, scale-safe.
    *
    * Output: (part, n_blocks, k_treatments, f_micro) — partitions
    * with ≥ 2 complete blocks, ≥ 2 treatments, and n·A4 > SB4 (the
    * perfect-agreement boundary, where F diverges, drops; Conover
    * treats it as p = (1/k!)^(n-1) by convention, a decision left
    * to the caller).
    */
  def quade(
      df: DataFrame, partCol: String, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val d38 = DecimalType(38, 0)
    val (kept, ranked, _) =
      blockedRanks(df, partCol, blockCol, treatCol, valueCol)
    val kPer = ranked.groupBy(col("__p"))
      .agg(countDistinct(col("__t")).as("__k"))
    val ranges = kept.groupBy(col("__p"), col("__b"))
      .agg((max(col("__x")) - min(col("__x"))).as("__range"))
    val wQ = Window.partitionBy(col("__p")).orderBy(col("__range"))
    val wQTie = Window.partitionBy(col("__p"), col("__range"))
    val weights = ranges.select(col("__p"), col("__b"),
      (lit(2L) * rank().over(wQ).cast("long") +
        count(lit(1)).over(wQTie).cast("long") - lit(1L)).as("__q2"))
    val scored = ranked.join(weights, Seq("__p", "__b")).join(kPer, "__p")
      .select(col("__p"), col("__b"), col("__t"),
        (col("__q2") * (col("__r2") - (col("__k") + 1L))).as("__s4"))
    val perTreat = scored.groupBy(col("__p"), col("__t"))
      .agg(sum(col("__s4").cast(d38)).as("__sj"),
        sum(col("__s4").cast(d38) * col("__s4").cast(d38)).as("__a4j"),
        count(lit(1)).as("__nb"))
    val stats = perTreat.groupBy(col("__p"))
      .agg(count(lit(1)).as("k_treatments"),
        max(col("__nb")).as("n_blocks"),
        sum(col("__a4j")).as("__a4"),
        sum(col("__sj") * col("__sj")).as("__sb4"))
      .filter(col("k_treatments") >= 2 && col("n_blocks") >= 2)
      .filter(col("n_blocks").cast(d38) * col("__a4") > col("__sb4"))
    stats.select(col("__p").as(partCol), col("n_blocks"),
      col("k_treatments"),
      snapMicro(
        (col("n_blocks").cast("double") - 1.0) *
          col("__sb4").cast("double") /
          (col("n_blocks").cast("double") * col("__a4").cast("double") -
            col("__sb4").cast("double"))).as("f_micro"))
  }

  /** Hodges-Lehmann two-sample shift estimator per group (Hodges &
    * Lehmann 1963) — the EFFECT SIZE in the original units that
    * [[cliffsDelta]]'s dimensionless δ cannot give: the median of
    * all treatment-minus-control pairwise differences, the amount
    * you'd subtract from every treatment row to best align the two
    * distributions. Robust (50% breakdown on pairs) where the
    * difference of means follows every outlier.
    *
    * The median of the n₀·n₁ differences is pinned EXACTLY on the
    * doubled lattice of [[brownForsythe]]'s median policy: hl2 =
    * d₍⌈P/2⌉₎ + d₍⌊P/2⌋+1₎ (sum of the two middle order statistics —
    * equal for odd P), selected by cumulative value counts, never
    * interpolated, so every output cell is an exact integer and the
    * true estimator is hl2/2. O(n₀·n₁) pairs BY DEFINITION →
    * maxGroupRows guards each cohort (the [[cliffsDelta]] contract);
    * sample upstream past it. NULL cohorts and values drop.
    *
    * Output: (group, n0, n1, pairs, hl2_shift).
    */
  def hodgesLehmannShift(
      df: DataFrame, groupCol: String, treatCol: org.apache.spark.sql.Column,
      valueCol: String, maxGroupRows: Long = 10000L): DataFrame = {
    require(maxGroupRows >= 1, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val rows = df.select(col(groupCol).as("__g"), treatCol.as("__t"),
      col(valueCol).cast("long").as("__x"))
      .filter(col("__t").isNotNull && col("__x").isNotNull)
      .transform(Par.pin)
    val oversized = rows.groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxGroupRows)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"hodgesLehmannShift: group '${oversized.headOption.map(_.get(0))
          .getOrElse("?")}' " +
        s"exceeds maxGroupRows=$maxGroupRows on one side (the cross " +
        "pair set is O(n0*n1) by definition) — sample upstream")
    val t = rows.filter(col("__t"))
      .select(col("__g"), col("__x").as("__x1"))
    val c = rows.filter(!col("__t"))
      .select(col("__g"), col("__x").as("__x0"))
    val diffCounts = t.join(c, "__g")
      .groupBy(col("__g"), (col("__x1") - col("__x0")).as("__d"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wP = Window.partitionBy(col("__g"))
    val cum = diffCounts.select(col("__g"), col("__d"),
      sum(col("__c")).over(wCum).as("__cum"),
      sum(col("__c")).over(wP).as("__pairs"))
    val lo = cum.filter(col("__cum") * 2 >= col("__pairs"))
      .groupBy(col("__g"))
      .agg(min(col("__d")).as("__dlo"), first(col("__pairs")).as("__pr"))
    val hi = cum.filter(col("__cum") * 2 > col("__pairs"))
      .groupBy(col("__g"))
      .agg(min(col("__d")).as("__dhi"))
    val sizes = rows.groupBy(col("__g"))
      .agg(sum(when(!col("__t"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n1"))
      .filter(col("n0") > 0 && col("n1") > 0)
    sizes.join(lo, "__g").join(hi, "__g")
      .select(col("__g").as(groupCol), col("n0"), col("n1"),
        col("__pr").as("pairs"),
        (col("__dlo") + col("__dhi")).as("hl2_shift"))
  }

  /** Benjamini-Hochberg step-up FDR control (Benjamini & Hochberg
    * 1995) over a battery of z-scored tests — the layer a monitor
    * needs the moment it runs one of this family's tests per source/
    * segment: at 20 groups and α = 0.05, one "significant" cell per
    * readout is EXPECTED under the global null. BH sorts the
    * two-sided p-values ascending and discovers every test up to
    * k* = max{ i : pᵢ ≤ i·α/m }.
    *
    * p comes from z via the PINNED Abramowitz-Stegun 7.1.26 erfc
    * polynomial (|ε| ≤ 1.5·10⁻⁷): p = erfc(|z|/√2) with
    * t = 1/(1 + 0.3275911·x) and the Horner sequence
    * ((((a₅t + a₄)t + a₃)t + a₂)t + a₁)t · e^(−x²) — ONE written
    * IEEE sequence both engines replay verbatim (the [[snapMicro]]
    * contract, at nano here for small-p resolution; the q_nb log10
    * precedent covers the transcendental). After the nano snap every
    * BH comparison is EXACT integer arithmetic:
    * p_nano·m ≤ rank·alphaPpm·1000.
    *
    * Shape: the battery is the TEST LIST — m rows, one per already-
    * aggregated test — so the unpartitioned rank window is m-bounded
    * by construction; `maxTests` refuses batteries that should have
    * been sharded (the [[mannKendall]] guard precedent).
    *
    * Output: (idCol, p_nano, p_rank, discovery) — `p_rank` the
    * deterministic (p, id) order, `discovery` the step-up verdict.
    */
  def benjaminiHochberg(
      df: DataFrame, idCol: String, zMicroCol: String,
      alphaPpm: Long = 50000L, maxTests: Long = 100000L): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000L, s"alphaPpm: $alphaPpm")
    Reserved.check("input" -> df)
    val rows = df.select(col(idCol).as("__id"),
      col(zMicroCol).cast("long").as("__z"))
      .transform(Par.pin)
    val bad = rows.agg(count(lit(1)).as("__n"),
      sum(when(col("__z").isNull, 1L).otherwise(0L)).as("__nulls"))
      .filter(col("__n") > maxTests || col("__nulls") > 0)
      .limit(1).collect()
    require(bad.isEmpty,
      s"benjaminiHochberg: battery exceeds maxTests=$maxTests or " +
        "carries NULL z — shard or null-filter upstream (the battery " +
        "is a test list, not a corpus)")
    val x = abs(col("__z").cast("double")) / lit(1e6) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val erfc =
      ((((lit(1.061405429) * t - lit(1.453152027)) * t +
        lit(1.421413741)) * t - lit(0.284496736)) * t +
        lit(0.254829592)) * t * exp(-(x * x))
    val withP = rows.select(col("__id"),
      round(erfc * lit(1e9)).cast("long").as("p_nano"))
    val wRank = Window.orderBy(col("p_nano"), col("__id"))
    val wAll = Window.partitionBy()
    val ranked = withP.select(col("__id"), col("p_nano"),
      row_number().over(wRank).cast("long").as("p_rank"),
      count(lit(1)).over(wAll).as("__m"))
      .withColumn("__flag",
        when(col("p_nano") * col("__m") <=
          col("p_rank") * lit(alphaPpm) * lit(1000L), col("p_rank"))
          .otherwise(lit(0L)))
    ranked
      .withColumn("__kstar", max(col("__flag")).over(wAll))
      .select(col("__id").as(idCol), col("p_nano"), col("p_rank"),
        (col("p_rank") <= col("__kstar")).as("discovery"))
  }

  /** Conover's post-hoc pairwise comparisons for the BLOCKED design
    * (Conover 1999, §5.8) — the step after a significant
    * [[friedman]]: which treatment PAIRS differ, once each block's
    * level is ranked away. On within-block midranks with treatment
    * rank sums R_j and A1 = ΣΣ R²:
    *
    *   t_ij = (R_i − R_j) / √(2(n·A1 − ΣR_j²)/((n−1)(k−1)))
    *
    * Everything exact until one IEEE sequence per pair: the shared
    * [[blockedRanks]] doubled lattice makes n·A1₂ − ΣR2_j² an exact
    * DECIMAL integer (= 4× the classical quantity; the /4 happens
    * inside the written sequence). Perfect agreement (every block
    * ranks the treatments identically) zeroes the denominator and
    * the partition DROPS — there is no within-treatment variance to
    * test against. Incomplete blocks and NULLs drop per the
    * [[blockedRanks]] contract.
    *
    * Shape: the shared blocked-rank window + keyed aggregates; pair
    * enumeration is k²-bounded over the treatment-stats table.
    *
    * Output: (part, g1, g2, n_blocks, k_treatments, t_micro) for
    * every treatment pair g1 < g2.
    */
  def friedmanPosthoc(
      df: DataFrame, partCol: String, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val d38 = DecimalType(38, 0)
    val (_, ranked, complete) =
      blockedRanks(df, partCol, blockCol, treatCol, valueCol)
    val perTreat = ranked.groupBy(col("__p"), col("__t"))
      .agg(sum(col("__r2")).as("__rt"))
    val a12 = ranked.groupBy(col("__p"))
      .agg(sum(col("__r2").cast(d38) * col("__r2").cast(d38))
        .as("__a12"))
    val rsq = perTreat.groupBy(col("__p"))
      .agg(sum(col("__rt").cast(d38) * col("__rt").cast(d38))
        .as("__rsq"), count(lit(1)).as("k_treatments"))
    val nBlocks = complete.groupBy(col("__p"))
      .agg(count(lit(1)).as("n_blocks"))
    val den = a12.join(rsq, "__p").join(nBlocks, "__p")
      .filter(col("n_blocks") >= 2 && col("k_treatments") >= 2)
      .withColumn("__numer",
        col("n_blocks").cast(d38) * col("__a12") - col("__rsq"))
      .filter(col("__numer") > 0)
    val a = perTreat.select(col("__p"), col("__t").as("g1"),
      col("__rt").as("__s1"))
    val b = perTreat.select(col("__p"), col("__t").as("g2"),
      col("__rt").as("__s2"))
    a.join(b, "__p").filter(col("g1") < col("g2"))
      .join(den.select(col("__p"), col("n_blocks"),
        col("k_treatments"), col("__numer")), "__p")
      .select(col("__p").as(partCol), col("g1"), col("g2"),
        col("n_blocks"), col("k_treatments"),
        snapMicro(
          (col("__s1") - col("__s2")).cast("double") / lit(2.0) /
            sqrt(lit(2.0) * (col("__numer").cast("double") / lit(4.0)) /
              ((col("n_blocks").cast("double") - lit(1.0)) *
                (col("k_treatments").cast("double") - lit(1.0)))))
          .as("t_micro"))
  }

  /** Conover-Iman post-hoc pairwise comparisons (Conover & Iman
    * 1979) — the step AFTER a significant [[kruskalWallis]]: KW says
    * "some group differs", Conover-Iman says WHICH pairs, on the
    * SAME pooled midranks (more powerful than re-running pairwise
    * Mann-Whitney, and the comparison Conover recommends):
    *
    *   t_ij = (R̄_i − R̄_j) / √(S²·(N−1−H_c)/(N−k)·(1/nᵢ+1/nⱼ))
    *   S² = (ΣR² − N(N+1)²/4)/(N−1)
    *
    * with H_c the tie-corrected KW statistic. Every sufficient
    * statistic rides the exact lattices: pooled doubled midranks,
    * Σ(2R)² in DECIMAL, the [[kruskalWallis]] div+remnano quotient
    * lattice for ΣR²ᵢ/nᵢ inside H_c, and ONE written IEEE sequence
    * per output cell at the micro edge. Pairs enumerate over the
    * GROUP-STATS table (k²-bounded — the table of groups, never the
    * corpus). NULL values drop pre-ranking (the family convention).
    *
    * Output: (part, g1, g2, n1, n2, t_micro) for every g1 < g2 —
    * partitions with ≥ 2 groups, untied variance, N > k, and a
    * positive scale factor (perfect separation pins H_c at its
    * maximum and leaves no within-group variance to test against).
    */
  def conoverIman(
      df: DataFrame, partCol: String, groupCol: String, valueCol: String)
      : DataFrame = {
    Reserved.check("input" -> df)
    requireIntegral(df, valueCol)
    val d38 = DecimalType(38, 0)
    val wRank = Window.partitionBy(col("__p")).orderBy(col("__x"))
    val wTie = Window.partitionBy(col("__p"), col("__x"))
    val ranked = df.filter(col(valueCol).isNotNull)
      .select(col(partCol).as("__p"), col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__x"))
      .select(col("__p"), col("__g"), col("__x"),
        (lit(2L) * rank().over(wRank).cast("long") +
          count(lit(1)).over(wTie).cast("long") - lit(1L)).as("__r2"))
    val perGroup = ranked.groupBy(col("__p"), col("__g"))
      .agg(count(lit(1)).as("__ng"), sum(col("__r2")).as("__rsum"))
    val latticed = perGroup
      .select(col("__p"), col("__ng"),
        // DECIMAL(38,0) square: __rsum reaches N(N+1), so a LONG
        // square wraps silently near N ≈ 55k rows per partition
        expr("(CAST(__rsum AS DECIMAL(38,0)) * __rsum) div __ng")
          .as("__q"),
        round(expr("(CAST(__rsum AS DECIMAL(38,0)) * __rsum) % __ng")
          .cast("double") /
          col("__ng").cast("double") * lit(1e9)).cast("long")
          .as("__remnano"))
    val ties = ranked.groupBy(col("__p"), col("__x"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__p"))
      .agg(sum(expr("__t * __t * __t - __t")).as("__tie"))
    val sq = ranked.groupBy(col("__p"))
      .agg(sum(col("__r2").cast(d38) * col("__r2").cast(d38))
        .as("__sumr2sq"))
    val partStats = latticed.groupBy(col("__p"))
      .agg(sum(col("__ng")).as("__n"), count(lit(1)).as("__k"),
        sum(col("__q").cast(d38)).as("__qsum"),
        sum(col("__remnano")).as("__remsum"))
      .join(ties, "__p").join(sq, "__p")
      .filter(col("__k") >= 2 && col("__n") > col("__k") &&
        col("__tie") < expr("__n * __n * __n - __n"))
    val nD = col("__n").cast("double")
    val kD = col("__k").cast("double")
    val sumR2OverN = col("__qsum").cast("double") +
      col("__remsum").cast("double") / lit(1e9)
    val hc = (lit(3.0) * sumR2OverN / (nD * (nD + lit(1.0))) -
      lit(3.0) * (nD + lit(1.0))) /
      (lit(1.0) - col("__tie").cast("double") / (nD * nD * nD - nD))
    val s2v = (col("__sumr2sq").cast("double") / lit(4.0) -
      nD * (nD + lit(1.0)) * (nD + lit(1.0)) / lit(4.0)) /
      (nD - lit(1.0))
    val withFactor = partStats
      .withColumn("__factor",
        s2v * (nD - lit(1.0) - hc) / (nD - kD))
      .filter(col("__factor") > 0.0)
      .select(col("__p"), col("__factor"))
    val a = perGroup.select(col("__p"), col("__g").as("g1"),
      col("__ng").as("n1"), col("__rsum").as("__s1"))
    val b = perGroup.select(col("__p"), col("__g").as("g2"),
      col("__ng").as("n2"), col("__rsum").as("__s2"))
    a.join(b, "__p").filter(col("g1") < col("g2"))
      .join(withFactor, "__p")
      .select(col("__p").as(partCol), col("g1"), col("g2"),
        col("n1"), col("n2"),
        snapMicro(
          (col("__s1").cast("double") / col("n1").cast("double") -
            col("__s2").cast("double") / col("n2").cast("double")) /
            lit(2.0) /
            sqrt(col("__factor") *
              (lit(1.0) / col("n1").cast("double") +
                lit(1.0) / col("n2").cast("double"))))
          .as("t_micro"))
  }
}

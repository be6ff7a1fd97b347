package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winsorized (percentile-clipped) robust statistics per group — the
  * outlier treatment a metrics pipeline applies before averaging
  * heavy-tailed numerics (latencies, prices, token counts): clip to
  * the group's own [pLo, pHi] percentiles, then aggregate, so a
  * single corrupt row cannot move the mean arbitrarily.
  *
  * Cross-engine exactness: the percentile boundaries are the ONLY
  * float in the chain and are snapped immediately to an integer
  * micro lattice (×1e6, round-to-integer — the engine-agnostic form;
  * `ROUND(x, 6)` itself skews between engines at these magnitudes).
  * Values enter micro space by exact decimal scaling, clipping is
  * integer min/max, and the winsorized mean is integer floor
  * division — nothing downstream of the snap can diverge.
  *
  * Scale: the boundaries come from a per-group SORT (window rank +
  * rank selection), not the `percentile` aggregate — the aggregate
  * buffers every value of a group in one in-memory map on a single
  * reducer and shuffles that whole histogram as partial state
  * (profiled r20: 1.3 s buffer build + a 10.7 MB state exchange on
  * the bench corpus), while the sort-based rank spills gracefully
  * and selects k rows per group. The selection replays
  * `Percentile`'s own arithmetic bit-for-bit (position
  * p·(n−1), floor/ceil neighbor ranks, the same
  * (hi−pos)·v_lo + (pos−lo)·v_hi IEEE interpolation — verified
  * against the aggregate in RobustStatsSpec). Each group still
  * funnels through one sort partition — fine to low GBs per group;
  * at 100 TB swap in `approx_percentile`, the proven GK path of
  * q_quantile_sketch, and keep everything else. The boundary table
  * is group-count-sized and broadcasts back onto the scan.
  */
object RobustStats {

  /** (groupCol, n, lo_micro, hi_micro, n_lo, n_hi, wmean_micro):
    * clip boundaries, clipped-row counts on each side, and the
    * winsorized mean — all on the integer micro lattice. The mean is
    * integer `div` (truncation), which equals floor on the
    * non-negative domains this targets; a negative-valued domain
    * must align division semantics with its replay engine (Spark
    * `div` truncates toward zero, SQL `//` floors).
    */
  def winsorizedMean(
      df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, s"percentiles: $pLo,$pHi")
    Reserved.check("df" -> df)
    // Exact percentile by per-group sort + rank selection (scaladoc):
    // nulls are dropped first exactly as the aggregate skips them, so
    // __cnt is the aggregate's count and __rn0 its 0-based sort index.
    val byG = Window.partitionBy(col(groupCol))
    val ranked = df
      .select(col(groupCol), col(valueCol).cast("double").as("__xd"))
      .filter(col("__xd").isNotNull)
      .withColumn("__rn0",
        row_number().over(byG.orderBy(col("__xd"))).cast("long") - lit(1L))
      .withColumn("__cnt", count(lit(1)).over(byG))
    // Percentile's position = p * (count - 1); its neighbors are the
    // floor/ceil ranks. One filter keeps ≤ 4 rows per group.
    val posL = lit(pLo) * (col("__cnt") - lit(1L)).cast("double")
    val posH = lit(pHi) * (col("__cnt") - lit(1L)).cast("double")
    val picked = ranked
      .filter(col("__rn0") === floor(posL) || col("__rn0") === ceil(posL) ||
        col("__rn0") === floor(posH) || col("__rn0") === ceil(posH))
      .groupBy(col(groupCol))
      .agg(max(col("__cnt")).as("__m"),
        max(when(col("__rn0") === floor(posL), col("__xd"))).as("__ll"),
        max(when(col("__rn0") === ceil(posL), col("__xd"))).as("__lh"),
        max(when(col("__rn0") === floor(posH), col("__xd"))).as("__hl"),
        max(when(col("__rn0") === ceil(posH), col("__xd"))).as("__hh"))
    // Percentile.getPercentile verbatim: v_lo when the position is
    // integral, else (hi − pos)·v_lo + (pos − lo)·v_hi — the same
    // multiply/add order, so the double is bit-identical.
    def interp(pos: org.apache.spark.sql.Column,
        lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column) =
      when(floor(pos) === ceil(pos), lo)
        .otherwise((ceil(pos) - pos) * lo + (pos - floor(pos)) * hi)
    val pL2 = lit(pLo) * (col("__m") - lit(1L)).cast("double")
    val pH2 = lit(pHi) * (col("__m") - lit(1L)).cast("double")
    val bounds = picked.select(col(groupCol),
      round(interp(pL2, col("__ll"), col("__lh")) * lit(1e6))
        .cast("long").as("lo_micro"),
      round(interp(pH2, col("__hl"), col("__hh")) * lit(1e6))
        .cast("long").as("hi_micro"))
    val xMicro = (col(valueCol) * lit(1000000)).cast("long")
    // left join: a group whose values are ALL null has no rank rows,
    // but the aggregate form emitted it with null bounds — preserved.
    // NULL group keys never matched the aggregate form's inner join,
    // so they are filtered (a left join would newly keep them).
    df.filter(col(groupCol).isNotNull)
      .join(broadcast(bounds), Seq(groupCol), "left")
      .select(col(groupCol), col("lo_micro"), col("hi_micro"),
        xMicro.as("__x"),
        greatest(col("lo_micro"), least(col("hi_micro"), xMicro))
          .as("__cv"))
      .groupBy(col(groupCol), col("lo_micro"), col("hi_micro"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__x") < col("lo_micro"), 1L).otherwise(0L))
          .as("n_lo"),
        sum(when(col("__x") > col("hi_micro"), 1L).otherwise(0L))
          .as("n_hi"),
        sum(col("__cv")).as("__sum"))
      .select(col(groupCol), col("n"), col("lo_micro"), col("hi_micro"),
        col("n_lo"), col("n_hi"),
        expr("__sum div n").as("wmean_micro"))
  }

  /** Theil-Sen robust regression per group (Theil 1950; Sen 1968):
    * slope = the MEDIAN of all pairwise slopes (yⱼ−yᵢ)/(xⱼ−xᵢ),
    * intercept = the median of (y − slope·x) — up to ~29% of the
    * points can be arbitrary outliers before the fit moves, where
    * one bad row drags OLS ([[graft.operators.GroupedOls]])
    * anywhere. Like every exact pairwise statistic
    * ([[graft.operators.RankCorrelation.kendallTauB]]), the pair
    * join is O(nᵍ²) BY DEFINITION, so the operator asserts no group
    * exceeds `maxGroupRows` and refuses otherwise — sample the
    * stratum upstream.
    *
    * Determinism: x/y ride the caller's integer lattice (validated);
    * each pairwise slope is ONE correctly-rounded IEEE division of
    * exact integers — bit-identical in any engine — oriented so
    * dx > 0 (ends swapped when xa > xb), which pins dy = 0 slopes to
    * +0.0: a `-0.0` (from dy = 0, dx < 0) sorts differently relative
    * to +0.0 across engines, and if a zero straddles the median rank
    * the SELECTED element differs. Both medians are EXACT
    * LOWER-MEDIAN SELECTION under a total order ((slope, idᵢ, idⱼ)
    * and (residual, id)), rank (m+1) div 2: the q_step_latency
    * convention, because engines disagree on even-n interpolation
    * but never on element selection. The output edge is the explicit
    * micro-lattice snap (×1e6 in double → integer round → one IEEE
    * division back), NOT `round(x, 6)` — Spark rounds HALF_UP on a
    * BigDecimal of the double while DuckDB rounds the double
    * directly, and they disagree at 6-dp magnitudes (the
    * q_quantize/q_bm25 lesson).
    *
    * Output: (group, n, n_pairs, slope, intercept). Groups need ≥ 2
    * distinct x values (vertical-only pairs are excluded; a group
    * with none has no slope in any engine).
    */
  def theilSen(
      df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String, maxGroupRows: Long = 100000L)
      : DataFrame = {
    require(maxGroupRows >= 2, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    Seq(xCol, yCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case dt => throw new IllegalArgumentException(
          s"theilSen: column '$c' is $dt; fractional inputs need an " +
            "explicit integer lattice first (the GroupedOls.fit policy)")
      }
    }
    import org.apache.spark.sql.expressions.Window
    // pin FIRST, widen the pinned leaf: the O(n²/group) pair
    // expansion below is map-side over this frame (the small side
    // broadcasts), so a one-split input would run it in one task
    // (measured: a single task emitting the full 65 MB slope-pair
    // exchange in the r19 profile; guide §2.5). The checkpoint comes
    // before the widen because the caller's frame can carry
    // exchanges, and Par.widen's width probe must not (and now does
    // not) plan through those — the pinned LogicalRDD is a leaf the
    // probe reads for free (r19 advice: the probe on a shuffle-
    // bearing frame double-executed its subtree under AQE).
    val rows = Par.widen(
      df.select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
        .transform(Par.pin))
    val oversized = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxGroupRows)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"theilSen: group '${oversized.headOption.map(_.get(0))}' exceeds " +
        s"maxGroupRows=$maxGroupRows — exact Theil-Sen is O(n^2) per " +
        "group; sample the stratum upstream")

    val a = rows.select(col("__g"), col("__id").as("__ia"),
      col("__x").as("__xa"), col("__y").as("__ya"))
    val b = rows.select(col("__g"), col("__id").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val slopes = a.join(b, "__g")
      .filter(col("__ia") < col("__ib") && col("__xa") =!= col("__xb"))
      .select(col("__g"), col("__ia"), col("__ib"),
        when(col("__xa") < col("__xb"),
          (col("__yb") - col("__ya")).cast("double") /
            (col("__xb") - col("__xa")).cast("double"))
          .otherwise(
            (col("__ya") - col("__yb")).cast("double") /
              (col("__xa") - col("__xb")).cast("double")).as("__s"))
    val wS = Window.partitionBy(col("__g"))
      .orderBy(col("__s"), col("__ia"), col("__ib"))
    val slopeMed = slopes
      .withColumn("__rk", row_number().over(wS))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__rk") === expr("(__m + 1) div 2"))
      .select(col("__g"), col("__m").as("n_pairs"), col("__s").as("__slope"))
    val resid = rows.join(slopeMed, "__g")
      .select(col("__g"), col("n_pairs"), col("__slope"), col("__id"),
        (col("__y").cast("double") -
          col("__slope") * col("__x").cast("double")).as("__r"))
    val wR = Window.partitionBy(col("__g")).orderBy(col("__r"), col("__id"))
    resid
      .withColumn("__rk", row_number().over(wR))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__g"))))
      .filter(col("__rk") === expr("(__n + 1) div 2"))
      .select(col("__g").as(groupCol), col("__n").as("n"), col("n_pairs"),
        (round(col("__slope") * lit(1e6)).cast("long").cast("double")
          / lit(1e6)).as("slope"),
        (round(col("__r") * lit(1e6)).cast("long").cast("double")
          / lit(1e6)).as("intercept"))
      // the result is group-count-sized; pin it so a caller's global
      // sort cannot re-execute the O(n²/group) slope windows through
      // its range-partitioner sampling pass (measured: the full
      // 65 MB window chain ran twice per query before this)
      .transform(Par.pin)
  }

  /** Exact WEIGHTED quantiles per group — "the median document by
    * TOKEN MASS, not by document count": the question a corpus audit
    * actually asks, since a handful of huge documents can carry most
    * of the training tokens while the unweighted median looks
    * reassuring. Each requested quantile q (in ppm) is pinned as the
    * weighted lower order statistic: the smallest value v whose
    * cumulative weight reaches ⌈q·W/10⁶⌉ — a deterministic selection
    * (never interpolation, the [[brownForsythe]] median policy), so
    * every output is an exact integer both engines agree on.
    *
    * Threshold arithmetic stays integral via cross-multiplication —
    * cumW·10⁶ ≥ W·q_ppm, exactly equivalent to the ceiling form for
    * integer weights; both sides widen to DECIMAL(38,0) first, so a
    * group whose total weight exceeds Long.MaxValue/10⁶ ≈ 9.2·10¹²
    * (plausible token mass) cannot silently wrap the product.
    * Value and weight columns must already be integral (the
    * [[NonParametric]] refusal policy — a fractional weight would
    * silently truncate). Shape: one per-(group, value) weight rollup +
    * one cumulative window over DISTINCT values — never a row-level
    * sort of the corpus, scale-safe.
    *
    * Output: (group, w_total, q_<ppm> per requested quantile).
    */
  def weightedQuantiles(
      df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q > 0 && q <= 1000000L),
      s"qsPpm: $qsPpm")
    Reserved.check("input" -> df)
    NonParametric.requireIntegral(df, valueCol, weightCol)
    val rows = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__x"),
        col(weightCol).cast("long").as("__w"))
    val byValue = rows.groupBy(col("__g"), col("__x"))
      .agg(sum(col("__w")).as("__wv"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(col("__g"))
    val cum = byValue.select(col("__g"), col("__x"),
      sum(col("__wv")).over(wCum).as("__cw"),
      sum(col("__wv")).over(wG).as("__wt"))
    val d38w = org.apache.spark.sql.types.DecimalType(38, 0)
    val picks = qsPpm.map { q =>
      cum.filter(col("__cw").cast(d38w) * lit(1000000L) >=
          col("__wt").cast(d38w) * lit(q))
        .groupBy(col("__g"))
        .agg(min(col("__x")).as(s"q_$q"))
    }
    val totals = rows.groupBy(col("__g"))
      .agg(sum(col("__w")).as("w_total"))
    picks.foldLeft(totals)((acc, p) => acc.join(p, "__g"))
      .select(col("__g").as(groupCol) +: col("w_total") +:
        qsPpm.map(q => col(s"q_$q")): _*)
  }
}

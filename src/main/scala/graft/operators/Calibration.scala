package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Monotone (isotonic) calibration over binned classifier output —
  * the standard recalibration step a model-labeled data pipeline
  * runs before trusting confidence scores as probabilities: raw
  * per-bin positive rates wobble, but the true relationship between
  * score and outcome is monotone, and isotonic regression is its
  * least-squares monotone projection (the PAV solution).
  *
  * Instead of the sequential pool-adjacent-violators sweep (which
  * does not distribute), this computes the IDENTICAL solution by
  * the minimax characterization
  *
  *   ŷᵢ = max_{j ≤ i} min_{k ≥ i} mean(y_j..y_k)
  *
  * (Barlow et al. 1972, the closed form of weighted isotonic
  * regression) over the BIN table: range means come from prefix
  * sums, and the (j, i, k) enumeration is O(B³) in the BIN count —
  * bins are a calibration artifact (tens, bounded by construction
  * upstream), never the corpus, so the cost is fixed no matter the
  * data scale. A `maxBins` guard refuses inputs that should have
  * been binned coarser (the battery-guard precedent).
  *
  * Exactness: prefix sums are exact integers; each range mean is
  * ONE IEEE division of exact integers (identical in both engines);
  * min/max over those doubles is order-free; the ppm edge rounds
  * once. Raw rates ride the exact integer div lattice.
  *
  * Output: (group, bin, n, pos, raw_ppm, iso_ppm) — iso_ppm is
  * nondecreasing in bin within every group.
  */
object Calibration {

  /** @param df per-bin aggregates: one row per (group, bin) with
    *   integral trial and positive counts (aggregate the corpus
    *   upstream — this operator's input IS the calibration table)
    */
  def isotonicBins(
      df: DataFrame, groupCol: String, binCol: String, nCol: String,
      posCol: String, maxBins: Long = 1000L): DataFrame = {
    require(maxBins >= 1, s"maxBins: $maxBins")
    Reserved.check("bins" -> df)
    val bins = df.select(col(groupCol).as("__g"),
      col(binCol).cast("long").as("__b"),
      col(nCol).cast("long").as("__n"),
      col(posCol).cast("long").as("__pos"))
      .filter(col("__n") > 0)
      .transform(Par.pin)
    val oversized = bins.groupBy(col("__g"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") > maxBins)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"isotonicBins: group '${oversized.headOption.map(_.get(0))
          .getOrElse("?")}' exceeds maxBins=$maxBins — the minimax " +
        "enumeration is O(B^3) in the bin count; bin coarser upstream")
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = bins.select(col("__g"), col("__b"), col("__n"),
      col("__pos"),
      sum(col("__n")).over(wCum).as("__cn"),
      sum(col("__pos")).over(wCum).as("__cp"))
    // range (j..k) means from prefix sums: join start bins (their
    // EXCLUSIVE prefix = cum - own) to end bins
    val starts = pref.select(col("__g"), col("__b").as("__j"),
      (col("__cn") - col("__n")).as("__cnj"),
      (col("__cp") - col("__pos")).as("__cpj"))
    val ends = pref.select(col("__g"), col("__b").as("__k"),
      col("__cn").as("__cnk"), col("__cp").as("__cpk"))
    val ranges = starts.join(ends, "__g")
      .filter(col("__j") <= col("__k"))
      .select(col("__g"), col("__j"), col("__k"),
        ((col("__cpk") - col("__cpj")).cast("double") /
          (col("__cnk") - col("__cnj")).cast("double")).as("__mean"))
    // for each i: min over k >= i (per start j <= i), then max over j
    val innerMin = ranges
      .join(bins.select(col("__g"), col("__b").as("__i")), "__g")
      .filter(col("__j") <= col("__i") && col("__i") <= col("__k"))
      .groupBy(col("__g"), col("__i"), col("__j"))
      .agg(min(col("__mean")).as("__lo"))
    val iso = innerMin.groupBy(col("__g"), col("__i"))
      .agg(max(col("__lo")).as("__iso"))
      .select(col("__g"), col("__i").as("__b"), col("__iso"))
    bins.join(iso, Seq("__g", "__b"))
      .select(col("__g").as(groupCol), col("__b").as(binCol),
        col("__n").as("n"), col("__pos").as("pos"),
        expr("(__pos * CAST(1000000 AS BIGINT)) div __n").as("raw_ppm"),
        round(col("__iso") * lit(1e6)).cast("long").as("iso_ppm"))
  }

  /** Exact ROC AUC per group via the midrank identity — the
    * threshold-free ranking-quality number beside [[liftCurve]]'s
    * decile readout: AUC = P(score⁺ > score⁻) + ½·P(tie), computed
    * WITHOUT forming pairs through the Mann-Whitney relationship
    *
    *   AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻),   R⁺ = Σ midranks of
    *                                              the positives
    *
    * Doubling the midranks clears the halves: a distinct score v
    * with l_v rows (p_v positive) and cb_v rows strictly below
    * contributes p_v·(2·cb_v + l_v + 1) to 2R⁺ — exact integers
    * (DECIMAL(38,0)-summed, order-free), so
    *
    *   AUC = (2R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻)
    *
    * is ONE division at the micro edge. Ties are handled by the
    * midrank definition itself — no tie-break column, and the
    * result is independent of any intra-tie order.
    *
    * Output: (groupCol, n_pos, n_neg, auc_micro). Groups missing a
    * class drop (AUC undefined). Shape: one distinct-score
    * aggregation + one group-keyed cumulative window — never a
    * pos×neg pair join.
    */
  def auc(
      df: DataFrame, groupCol: String, label: Column,
      scoreCol: String): DataFrame = {
    Reserved.check("input" -> df)
    graft.operators.NonParametric.requireIntegral(df, scoreCol)
    // NULL scores drop alongside NULL labels: a NULL score would
    // otherwise form its own distinct __s bucket that Spark's window
    // orders nulls-first while DuckDB orders nulls-last — every
    // midrank below it silently shifts and the engines desync.
    aucFromValueCounts(
      df.where(label.isNotNull && col(scoreCol).isNotNull)
        .select(col(groupCol), when(label, 1L).otherwise(0L).as("__y"),
          col(scoreCol).cast("long").as("__s"))
        .groupBy(col(groupCol), col("__s"))
        .agg(sum(col("__y")).as("__pv"), count(lit(1)).as("__lv")),
      groupCol)
  }

  /** [[auc]]'s combine over an already-aggregated per-score table
    * `(groupCol, __s, __pv, __lv)` — the distinct-score (positives,
    * rows) counts are the statistic's complete sufficient statistics
    * (a pure commutative fold), so the streaming twin accumulates
    * them keyed by (group, score) and replays THIS code at every
    * trigger, sharing the batch oracle. The doubled-midrank lattice
    * is identical by construction.
    */
  def aucFromValueCounts(
      perVal: DataFrame, groupCol: String): DataFrame = {
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = perVal
      .withColumn("__cb", sum(col("__lv")).over(wCum) - col("__lv"))
    marked.groupBy(col(groupCol))
      .agg(sum(col("__pv")).as("n_pos"),
        (sum(col("__lv")) - sum(col("__pv"))).as("n_neg"),
        sum(col("__pv").cast(d) *
          (lit(2L) * col("__cb") + col("__lv") + 1L).cast(d))
          .as("__r2"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        round((col("__r2") -
          col("n_pos").cast(d) * (col("n_pos") + 1L).cast(d))
          .cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double")) * lit(1e6))
          .cast("long").as("auc_micro"))
  }

  /** Cumulative lift/gains curve — the targeting-eval readout: rank
    * units by a model score, cut into `k` equal-population buckets,
    * and ask "if I act on only the top b buckets, what multiple of
    * the base rate do I capture?" (campaign targeting, review-queue
    * sizing, quality-threshold sweeps):
    *
    *   lift_b = (cumPos_b / cumN_b) / (totPos / totN)
    *   gain_b = cumPos_b / totPos
    *
    * Buckets come from `ntile(k)` over the (score DESC, tieCol ASC)
    * TOTAL order — deterministic and identically defined in any
    * engine. Everything after bucketing is exact integer counts and
    * cumulative sums over ≤ k rows; lift/gain are single divisions
    * at the ppm edge (lift as cross-multiplied integers would also
    * work, but the ppm value itself is the deliverable here).
    *
    * Output: one row per bucket 1..k — (bucket, n, pos, cum_n,
    * cum_pos, gain_ppm, lift_ppm). Empty input → no rows; a zero
    * total positive count drops the group (lift undefined).
    *
    * Shape: one ntile window over the scored units (the ranking IS
    * the operator), then a k-row aggregation + cumulative window.
    */
  def liftCurve(
      df: DataFrame, scoreCol: String, tieCol: String, label: Column,
      k: Int = 10): DataFrame = {
    require(k >= 2 && k <= 1000, s"k: $k")
    Reserved.check("input" -> df)
    // two-pass global ntile (GlobalIds.withNtile, r20): the naive
    // ntile window has an empty partition spec and funnels every
    // scored unit into ONE partition — the 100-TB cliff; the
    // decomposition is bit-identical (spec-pinned). Descending score
    // = ascending negated score.
    val bucketed = GlobalIds.withNtile(
      df.where(label.isNotNull)
        .withColumn("__y", when(label, 1L).otherwise(0L))
        .withColumn("__negscore", negate(col(scoreCol))),
      Seq("__negscore", tieCol), k, "__bk0")
      .withColumn("__bk", col("__bk0").cast("long"))
      .drop("__negscore", "__bk0")
    val perBucket = bucketed.groupBy(col("__bk"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"))
    val wc = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy()
    perBucket
      .withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("pos")).over(wc))
      .withColumn("__totn", sum(col("n")).over(wt))
      .withColumn("__totpos", sum(col("pos")).over(wt))
      .filter(col("__totpos") > 0)
      .select(col("__bk").as("bucket"), col("n"), col("pos"),
        col("cum_n"), col("cum_pos"),
        expr("(cum_pos * CAST(1000000 AS BIGINT)) div __totpos")
          .as("gain_ppm"),
        round(col("cum_pos").cast("double") / col("cum_n").cast("double") /
          (col("__totpos").cast("double") / col("__totn").cast("double")) *
          lit(1e6)).cast("long").as("lift_ppm"))
  }
}

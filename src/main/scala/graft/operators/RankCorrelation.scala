package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Spearman rank correlation per group — the monotone-association
  * monitor (does doc length track token count within each source?)
  * that is robust to outliers and nonlinearity where Pearson
  * (q_correlation) is not.
  *
  * Determinism: ties take the AVERAGE rank (the classical Spearman
  * convention). Average ranks are half-integers, so both variables
  * ride a doubled-rank integer lattice:
  *
  *   r2 = 2·rank_min + (tieCount − 1)
  *
  * (a tie block occupying positions p..p+c−1 has average p+(c−1)/2,
  * doubled = 2p+c−1 — an exact integer). Scaling both variables by
  * ½ cancels in the correlation, so Pearson over the doubled ranks
  * IS Spearman. The five sufficient statistics are exact integer /
  * DECIMAL(38) aggregates (order-free); the final combine casts each
  * exact sum to double once and applies one written IEEE op sequence,
  * mirrored verbatim in the oracle SQL — the q_correlation policy.
  *
  * Scale shape: two rank windows per variable, each a shuffle on
  * (group) with an in-partition sort — no all-pairs, no collect. A
  * single group too large for one task moves to the sharded
  * range-rank decomposition (GlobalIds.assignIds): range-exchange on
  * the value, local ranks, broadcast per-shard prefix counts.
  */
object RankCorrelation {

  /** (groupCol, n, rho) for each group with ≥ 2 rows and nonzero rank
    * variance on both sides, 6-dp at the edge.
    */
  def spearman(
      df: DataFrame, groupCol: String,
      xCol: String, yCol: String): DataFrame = {
    Reserved.check("spearman" -> df)
    val d38 = DecimalType(38, 0)
    def doubledRank(c: String) = {
      val wRank = Window.partitionBy(col(groupCol)).orderBy(col(c))
      val wTie = Window.partitionBy(col(groupCol), col(c))
      lit(2L) * rank().over(wRank).cast("long") +
        count(lit(1)).over(wTie).cast("long") - lit(1L)
    }
    val ranked = df
      .select(col(groupCol), col(xCol).as("__xv"), col(yCol).as("__yv"))
      .select(col(groupCol),
        doubledRank("__xv").as("__rx"), doubledRank("__yv").as("__ry"))
    val stats = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
        sum((col("__rx").cast(d38) * col("__ry").cast(d38))).as("__sxy"),
        sum((col("__rx").cast(d38) * col("__rx").cast(d38))).as("__sxx"),
        sum((col("__ry").cast(d38) * col("__ry").cast(d38))).as("__syy"))
    val nD = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxy = col("__sxy").cast("double")
    val sxx = col("__sxx").cast("double")
    val syy = col("__syy").cast("double")
    val cov = nD * sxy - sx * sy
    val varx = nD * sxx - sx * sx
    val vary = nD * syy - sy * sy
    stats
      .filter(col("n") >= 2 && varx =!= lit(0.0) && vary =!= lit(0.0))
      .select(col(groupCol), col("n"),
        (round(cov / sqrt(varx * vary) * lit(1e6)).cast("long")
          .cast("double") / lit(1e6)).as("rho"))
  }

  /** Kendall's τ-b per group — [[spearman]]'s sibling with the
    * pair-concordance interpretation auditors actually want ("in
    * what fraction of pairs do the two metrics agree on direction"),
    * and the tie-corrected denominator (Kendall 1945):
    *
    *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂))
    *
    * with n₀ = n(n−1)/2, n₁/n₂ = Σ tᵢ(tᵢ−1)/2 over x-/y-tie blocks.
    * C, D, and all three tie terms are exact BIGINT counts; float
    * appears only in the final sqrt/divide (one written sequence,
    * oracle-mirrored).
    *
    * Scale: C and D come from an in-group pair self-join — O(nᵍ²)
    * per group BY DEFINITION (every exact Kendall is), so the
    * operator REQUIRES bounded strata: it asserts no group exceeds
    * `maxGroupRows` (two group-sized counts, checked before the
    * join is even planned) and refuses otherwise — sample a stratum
    * upstream ([[Sampling]]) rather than letting a 10⁹-row group
    * plan a 10¹⁸-pair join. Ties contribute to neither C nor D.
    */
  def kendallTauB(
      df: DataFrame, groupCol: String,
      xCol: String, yCol: String, maxGroupRows: Long = 100000L): DataFrame = {
    require(maxGroupRows >= 2, s"maxGroupRows: $maxGroupRows")
    Reserved.check("input" -> df)
    Seq(xCol, yCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case dt => throw new IllegalArgumentException(
          s"kendallTauB: column '$c' is $dt; fractional inputs need an " +
            "explicit integer lattice first (the GroupedOls.fit policy)")
      }
    }
    val rows = df.select(col(groupCol).as("__g"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .transform(Par.pin)
    val oversized = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxGroupRows)
      .limit(1).collect()
    require(oversized.isEmpty,
      s"kendallTauB: group '${oversized.headOption.map(_.get(0))}' " +
        s"exceeds maxGroupRows=$maxGroupRows — exact Kendall is " +
        "O(n^2) per group; sample the stratum upstream")

    val a = rows.select(col("__g"), col("__x").as("__xa"),
      col("__y").as("__ya"))
    val b = rows.select(col("__g"), col("__x").as("__xb"),
      col("__y").as("__yb"))
    // each unordered pair appears twice in the full self-join; C and
    // D halve at the end (exact: both counts are even). Concordance
    // is decided by COMPARISONS, never by the (xa−xb)(ya−yb) product:
    // with large lattice values (microsecond timestamps) the BIGINT
    // product exceeds 2^63 and Spark silently wraps (non-ANSI),
    // flipping counts, while a replay engine may promote — the
    // comparison form is overflow-free by construction.
    val pairs = a.join(b, "__g")
      .groupBy(col("__g"))
      .agg(expr("sum(case when (__xa > __xb and __ya > __yb) " +
        "or (__xa < __xb and __ya < __yb) " +
        "then 1 else 0 end) div 2").as("concordant"),
        expr("sum(case when (__xa > __xb and __ya < __yb) " +
          "or (__xa < __xb and __ya > __yb) " +
          "then 1 else 0 end) div 2").as("discordant"))
    def tieTerm(c: String) = rows.groupBy(col("__g"), col(c))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__g"))
      .agg(expr("sum(__t * (__t - 1)) div 2").as(s"__tie$c"))
    val stats = rows.groupBy(col("__g")).agg(count(lit(1)).as("n"))
      .join(pairs, "__g")
      .join(tieTerm("__x"), "__g")
      .join(tieTerm("__y"), "__g")
    val n0 = expr("(n * (n - 1)) div 2")
    val den = sqrt((n0 - col("__tie__x")).cast("double") *
      (n0 - col("__tie__y")).cast("double"))
    stats
      .filter(col("n") >= 2 && n0 > col("__tie__x") && n0 > col("__tie__y"))
      .select(col("__g").as(groupCol), col("n"),
        col("concordant"), col("discordant"),
        (round((col("concordant") - col("discordant")).cast("double") / den
          * lit(1e6)).cast("long").cast("double") / lit(1e6)).as("tau_b"))
  }
}

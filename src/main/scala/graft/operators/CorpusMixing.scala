package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain-mixture shaping for training corpora: deterministic up/down
  * sampling to target per-domain rates (the DoReMi / Pile "mixture
  * weights" step) and top-fraction quality selection within each
  * domain (the FineWeb-style "keep the best q% per source" step).
  *
  * Both are shuffle-minimal: resampling is a codegen'd per-row
  * filter + bounded explode (no shuffle at all); selection is one
  * window exchange on the domain key.
  *
  * The per-row uniform draw uses an md5 content hash of the id — not
  * `rand()` (partitioning-dependent) and not `xxhash64` (engine-
  * specific) — so the SAME rows replicate/survive on any cluster
  * layout and the draw replays bit-for-bit in any engine with md5
  * (see the q_sample_docs oracle for the same trick).
  */
object CorpusMixing {

  /** 16^15: the md5-prefix hash domain. 2^60 fits a signed long and a
    * double converts it with identical rounding in any IEEE engine.
    */
  val HashDomain: Double = math.pow(16.0, 15)

  /** Uniform [0,1) drawn from the row id's md5 — deterministic in the
    * id, independent of partitioning, replayable cross-engine.
    */
  def hashFraction(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(HashDomain)

  /** Resample rows to per-key target rates. A rate r emits
    * `floor(r)` guaranteed copies plus one more with probability
    * `r − floor(r)` (decided by [[hashFraction]]), so the EXPECTED
    * multiplicity is exactly r and the realized multiplicity is
    * deterministic in the id: r=0.25 keeps a fixed quarter of rows,
    * r=1 is the identity, r=2.5 emits 2 or 3 copies per row. Keys
    * absent from `rates` default to 1.0 (pass through unchanged).
    *
    * Adds `copyCol` (1-based copy index) so downstream stages can
    * distinguish replicas. Rows with a realized count of 0 are
    * filtered BEFORE the explode, so `sequence()` never sees an empty
    * bound.
    */
  def resampleByRates(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      rates: Map[String, Double],
      copyCol: String = "copy"): DataFrame = {
    require(rates.values.forall(_ >= 0.0), s"negative rate in $rates")
    Reserved.check("resampleByRates" -> df)

    val rateEntries = rates.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }
    val rate = coalesce(
      element_at(map(rateEntries: _*), col(keyCol)), lit(1.0))
    val u = hashFraction(col(idCol))
    val copies =
      (floor(rate) + when(u < rate - floor(rate), 1L).otherwise(0L))
        .cast("int")

    df.withColumn("__copies", copies)
      .where(col("__copies") > 0)
      .withColumn(copyCol, explode(sequence(lit(1), col("__copies"))))
      .drop("__copies")
  }

  /** Temperature-flattened source sampling rates — the multilingual
    * α-sampling of Conneau & Lample (XLM, 2019) at α = 0.5: target
    * share q_s ∝ √n_s, so head sources shrink and tail sources keep
    * relatively more mass. α is FIXED at 0.5 because √ is the one
    * fractional power with a bit-replayable cross-engine primitive
    * (`sqrt`); arbitrary temperatures would ride `Math.pow` vs libm
    * `pow`, which the engine's oracle discipline avoids (the same
    * reasoning as Bm25's log-base choice).
    *
    * Returns one TINY row per key: (keyCol, n_rows, weight_ppm,
    * rate). `weight_ppm` is the target share on the ppm lattice;
    * `rate` is the per-row keep probability normalized so the
    * most-upweighted (smallest) source keeps everything — the
    * downsample-only, replication-free formulation. Feed `rate` to a
    * [[hashFraction]] filter to materialize the mixture.
    *
    * Determinism: √n snapped to the 9-dp lattice, the share
    * denominator summed in exact DECIMAL, max() is order-free, and
    * every division is written with the same parenthesization the
    * SQL oracle uses. The counts frame is checkpointed so its three
    * consumers (total, max, output) cost one corpus pass.
    */
  def temperatureRatesSqrt(df: DataFrame, keyCol: String): DataFrame = {
    Reserved.check("temperatureRatesSqrt" -> df)
    val u = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__n"))
      .select(col(keyCol), col("__n"),
        round(sqrt(col("__n").cast("double")), 9).as("__u"))
      .transform(Par.pin)
    val tot = u.agg(
      sum(col("__u").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
        .cast("double").as("__su"))
    val mx = u.agg(max(col("__u") / col("__n").cast("double")).as("__m"))
    u.crossJoin(broadcast(tot)).crossJoin(broadcast(mx))
      .select(col(keyCol), col("__n").as("n_rows"),
        round(lit(1e6) * (col("__u") / col("__su"))).cast("long")
          .as("weight_ppm"),
        ((col("__u") / col("__n").cast("double")) / col("__m")).as("rate"))
  }

  /** Keep the best `ceil(fraction · n)` rows of each domain by
    * `scoreCol` (descending, ties broken by ascending `tieCol` so the
    * cut is total and reproducible). One window exchange on
    * `partitionCol`; no driver round-trip.
    *
    * Callers ordering by a float score should pre-round it to the
    * precision they trust (the engine's oracle edge is 6 dp) so rows
    * whose scores differ below that precision fall to the
    * deterministic tie-break instead of float-noise order.
    */
  def selectTopFraction(
      df: DataFrame,
      partitionCol: String,
      scoreCol: String,
      fraction: Double,
      tieCol: String): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, s"fraction: $fraction")
    Reserved.check("selectTopFraction" -> df)

    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partitionCol))
      .orderBy(col(scoreCol).desc, col(tieCol).asc)
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partitionCol))

    // The cutoff is computed in exact decimal, not double: with a
    // double, fractions whose binary representation exceeds the
    // rational value (e.g. 0.35 · 20 → 7.000000000000001 → ceil 8)
    // keep one extra row per partition vs an exact-arithmetic oracle.
    // fraction.toString round-trips the decimal literal the caller
    // wrote, so DECIMAL · BIGINT → CEIL is exact.
    val fracDec = lit(new java.math.BigDecimal(fraction.toString))
    df.withColumn("__rn", row_number().over(byScore))
      .withColumn("__n", count(lit(1)).over(whole))
      .where(col("__rn") <= ceil(fracDec * col("__n")))
      .drop("__rn", "__n")
  }
}

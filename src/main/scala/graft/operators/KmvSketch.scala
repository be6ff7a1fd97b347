package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct sketches with SET OPERATIONS
  * (Bar-Yossef et al. 2002; Beyer et al. 2007) — the cross-source
  * overlap estimator a corpus curator runs when exact
  * `COUNT(DISTINCT)` across every source PAIR would be quadratic
  * scans: each source keeps only its k smallest value hashes, and
  * union/intersection/Jaccard estimates come from merging those
  * k-row sketches — the pair table is sketch-sized (groups²·k),
  * never corpus-sized.
  *
  *   D̂ = (k−1)·2⁶⁰ / h₍k₎          (k-th smallest 60-bit hash)
  *   Ĵ = |both-member rows among the union's k smallest| / k
  *   D̂∩ = Ĵ·D̂∪
  *
  * DETERMINISM over approximation: the hash is the engine's pinned
  * md5-prefix 60-bit lattice (the table-fingerprint convention), so
  * the "estimate" is a pure function of the data both engines
  * compute bit-identically — every output cell rides the exact
  * integer `div` lattice, no IEEE anywhere. When a merged sketch
  * holds FEWER than k hashes the sets were small enough to be exact,
  * and the operator returns the exact counts instead (the estimator
  * degrades gracefully to truth).
  *
  * Shape: one distinct + one rank window build the per-group
  * sketches; pair enumeration joins the k-row sketches against the
  * group list (broadcast — the group list is the TABLE OF SOURCES,
  * not the corpus). Accuracy is the standard KMV bound
  * (σ/D ≈ 1/√(k−2)); raise k for tighter estimates.
  */
object KmvSketch {

  /** The pinned 60-bit hash lattice (md5 prefix, the
    * table-fingerprint convention — replayable bit-identically in
    * any engine with md5).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  private val TWO60 = BigInt("1152921504606846976")

  /** Pairwise set-operation estimates between every ordered pair of
    * groups (g1 < g2 by the group column's own ordering).
    *
    * Output: (g1, g2, est_1, est_2, union_est, shared, inter_est,
    * jaccard_ppm) — `shared` is the both-member count inside the
    * union sketch; all estimates are exact-integer `div` lattice
    * cells; groups smaller than k report exact counts.
    */
  def pairwiseSetOps(
      df: DataFrame, groupCol: String, valueCol: String, k: Int = 128)
      : DataFrame = {
    require(k >= 2, s"k: $k")
    Reserved.check("input" -> df)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val scaleConst = (BigInt(k - 1) * TWO60).toString
    val hashes = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), hash60(col(valueCol)).as("__h"))
      .distinct()
    val w = Window.partitionBy(col("__g")).orderBy(col("__h"))
    val sk = hashes.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .transform(Par.pin)
    def estOf(m: Column, hk: Column): Column =
      when(m < k, m)
        .otherwise(expr(
          s"CAST((CAST('$scaleConst' AS DECIMAL(38,0)) div __hk) " +
            "AS BIGINT)"))
    val grpEst = sk.groupBy(col("__g"))
      .agg(count(lit(1)).as("__m"),
        max(when(col("__r") === k, col("__h"))).as("__hk"))
      .select(col("__g"),
        estOf(col("__m"), col("__hk")).as("__est"))
    val groups = sk.select(col("__g")).distinct()
    val candA = sk
      .join(broadcast(groups.select(col("__g").as("__g2"))),
        col("__g") < col("__g2"))
      .select(col("__g").as("__g1"), col("__g2"), col("__h"),
        lit(1).as("__ina"), lit(0).as("__inb"))
    val candB = sk
      .join(broadcast(groups.select(col("__g").as("__g1"))),
        col("__g1") < col("__g"))
      .select(col("__g1"), col("__g").as("__g2"), col("__h"),
        lit(0).as("__ina"), lit(1).as("__inb"))
    val cand = candA.union(candB)
      .groupBy(col("__g1"), col("__g2"), col("__h"))
      .agg(max(col("__ina")).as("__ina"), max(col("__inb")).as("__inb"))
    val wu = Window.partitionBy(col("__g1"), col("__g2"))
      .orderBy(col("__h"))
    val unionSk = cand.withColumn("__r", row_number().over(wu))
      .filter(col("__r") <= k)
    val perPair = unionSk.groupBy(col("__g1"), col("__g2"))
      .agg(count(lit(1)).as("__m"),
        max(when(col("__r") === k, col("__h"))).as("__hk"),
        sum(when(col("__ina") === 1 && col("__inb") === 1, 1L)
          .otherwise(0L)).as("shared"))
      .withColumn("union_est", estOf(col("__m"), col("__hk")))
      .withColumn("inter_est",
        when(col("__m") < k, col("shared"))
          .otherwise(expr(
            "(shared * union_est) div CAST(" + k + " AS BIGINT)")))
      .withColumn("jaccard_ppm",
        expr("(shared * CAST(1000000 AS BIGINT)) div __m"))
    perPair
      .join(grpEst.select(col("__g").as("__g1"),
        col("__est").as("est_1")), "__g1")
      .join(grpEst.select(col("__g").as("__g2"),
        col("__est").as("est_2")), "__g2")
      .select(col("__g1").as("g1"), col("__g2").as("g2"),
        col("est_1"), col("est_2"), col("union_est"), col("shared"),
        col("inter_est"), col("jaccard_ppm"))
  }
}

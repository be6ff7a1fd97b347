package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic standardized PCA — the ORACLE-REPLAYABLE explained-
  * variance spectrum (reference M10). MLlib's StandardScaler+PCA
  * chain (kept in OkCupidPipeline for the guarded fidelity path)
  * computes its covariance with order-sensitive float treeAggregates;
  * this operator instead forms EXACT integer sufficient statistics —
  * n, per-dim Σx and per-pair Σxy on the micro lattice (the corpus
  * pass is one map-side-combined Θ(n·d²) aggregate to d(d+1)/2 rows,
  * the standard covariance cost; nothing order-dependent ever
  * touches a float) — then builds the correlation matrix and its
  * eigen-spectrum ON THE DRIVER from those exact integers (one
  * deterministic IEEE sequence + LAPACK `dsyevd` via breeze eigSym:
  * same bits in, same spectrum out, every run). Standardizing makes
  * the spectrum the CORRELATION eigenvalues, so explained variance
  * fractions are λᵢ/Σλ with Σλ = the number of non-degenerate
  * dimensions.
  *
  * Because the output is a pure function of the parquet bytes, the
  * DuckDB oracle can PIN the spectrum as constants (the
  * q_tokenize_icu shared-constant precedent) — the driver compare
  * then guards the whole chain (scan → exact moments → eigen) against
  * regression. Zero-variance dimensions contribute r = 0 off-diagonal
  * and 0 on-diagonal (they carry no direction; the OkCupidPipeline
  * zero-var guard policy, quirk Q7).
  *
  * Output: (component ∈ 0..k−1, explained_variance 6-dp) descending.
  */
object SpectralPca {

  def explainedVariance(
      emb: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame = {
    require(k >= 1, s"k: $k")
    Reserved.check("embeddings" -> emb)
    val spark = emb.sparkSession
    val d38 = DecimalType(38, 0)
    val dims = emb
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .select(col("__id"), col("__i"),
        round(col("__x").cast("double") * lit(1e6)).cast("long")
          .as("__xm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val firsts = dims.groupBy(col("__i"))
        .agg(count(lit(1)).as("__n"), sum(col("__xm")).as("__s"))
        .collect()
      require(firsts.nonEmpty, "SpectralPca: empty input")
      val d = firsts.length
      val n = firsts.head.getLong(1)
      val sums = Array.ofDim[BigInt](d)
      firsts.foreach { r =>
        require(r.getLong(1) == n,
          "SpectralPca: ragged embedding lengths")
        sums(r.getInt(0)) = BigInt(r.getLong(2))
      }
      // upper-triangle exact second moments: one self-join on the
      // row id, map-side-combined to d(d+1)/2 output rows
      val a = dims.select(col("__id"), col("__i").as("__ia"),
        col("__xm").as("__xa"))
      val b = dims.select(col("__id"), col("__i").as("__ib"),
        col("__xm").as("__xb"))
      val moments = a.join(b, Seq("__id"))
        .filter(col("__ib") >= col("__ia"))
        .groupBy(col("__ia"), col("__ib"))
        .agg(sum(col("__xa").cast(d38) * col("__xb").cast(d38))
          .as("__sxy"))
        .collect()
      val sxy = Array.ofDim[BigInt](d, d)
      moments.foreach { r =>
        val v = BigInt(r.getDecimal(2).toBigInteger)
        sxy(r.getInt(0))(r.getInt(1)) = v
        sxy(r.getInt(1))(r.getInt(0)) = v
      }
      // correlation matrix from the exact integers: cov numerator
      // n·Σxy − Σx·Σy (BigInt, exact), ONE IEEE division + sqrt per
      // cell — deterministic bits every run
      val nB = BigInt(n)
      val varNum = Array.tabulate(d)(i =>
        nB * sxy(i)(i) - sums(i) * sums(i))
      val m = breeze.linalg.DenseMatrix.zeros[Double](d, d)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          if (varNum(i).signum > 0 && varNum(j).signum > 0) {
            val num = (nB * sxy(i)(j) - sums(i) * sums(j)).toDouble
            m(i, j) = num / math.sqrt(
              varNum(i).toDouble * varNum(j).toDouble)
          }
          j += 1
        }
        i += 1
      }
      val spectrum = breeze.linalg.eigSym(m).eigenvalues
        .toArray.sorted(Ordering[Double].reverse)
      val trace = (0 until d).count(varNum(_).signum > 0).toDouble
      import spark.implicits._
      spectrum.take(k).zipWithIndex
        .map { case (ev, c) =>
          (c, BigDecimal(ev / trace)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .toSeq.toDF("component", "explained_variance")
    } finally dims.unpersist()
  }
}

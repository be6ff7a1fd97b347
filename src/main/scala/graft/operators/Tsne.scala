package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact t-SNE (van der Maaten & Hinton, JMLR 2008) — the reference's
  * `Rtsne(all.tokens.matrix)` step (`/root/reference/Week5_datingNLP
  * .R:318-322`), previously substituted with PCA-2D (SURVEY H3).
  *
  * Scale honesty: t-SNE is inherently O(n²)-interactive — every point's
  * gradient needs the global partition function Z. The reference ran it
  * single-threaded on a densified 6.17-GB matrix; this implementation
  * makes the driver-sized nature EXPLICIT instead of accidental:
  *
  *  - [[embedSampled]] takes a deterministic content-hash sample
  *    (lowest xxhash64 ranks — partitioning-independent, planned as
  *    TakeOrderedAndProject) of at most `maxRows` vectors, collects
  *    that bounded set, and runs [[embed]] on the driver. The sample
  *    bound is a named parameter, not a hope.
  *  - [[embed]] is the textbook exact algorithm: per-row σ by binary
  *    search to the target perplexity, symmetrized affinities, early
  *    exaggeration (×12 for the first 100 iters), momentum 0.5→0.8 at
  *    iter 250, per-iteration recentering. Deterministic for a fixed
  *    seed. O(n) memory per gradient row (Q is recomputed, not stored).
  *
  * BIT-reproducibility across environments (what lets q_tsne's
  * oracle pin constants): every transcendental is `StrictMath`
  * (fdlibm, spec-fixed on every JVM/ISA — `Math.exp/log` intrinsics
  * may differ by an ulp across platforms, which 300+ coupled
  * gradient iterations would amplify chaotically); FP arithmetic is
  * always strict on Java 17+ (JEP 306); `java.util.Random
  * .nextGaussian` is spec-pinned (defined in terms of StrictMath);
  * the sample is collected in content-hash order. The solve is
  * therefore a pure function of (data, seed, params) — the same
  * contract as SpectralPca's pinned spectrum.
  */
object Tsne {

  /** 2-D embedding of `x` (n × d). Returns n × 2. */
  def embed(
      x: Array[Array[Double]],
      perplexity: Double = 30.0,
      iterations: Int = 500,
      seed: Long = 42L,
      learningRate: Double = 200.0): Array[Array[Double]] = {
    val n = x.length
    require(n >= 4, s"t-SNE needs at least 4 rows, got $n")
    require(perplexity >= 2 && 3 * perplexity < n - 1,
      s"perplexity $perplexity out of range for n=$n (need 3·perp < n−1)")

    // pairwise squared euclidean distances
    val d2 = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val a = x(i); val b = x(j)
        var s = 0.0
        var k = 0
        while (k < a.length) { val t = a(k) - b(k); s += t * t; k += 1 }
        d2(i)(j) = s; d2(j)(i) = s
        j += 1
      }
      i += 1
    }

    // conditional affinities: binary-search beta = 1/(2σ²) per row to
    // match H(P_i) = log(perplexity)
    val p = Array.ofDim[Double](n, n)
    val logPerp = StrictMath.log(perplexity)
    i = 0
    while (i < n) {
      var beta = 1.0
      var betaMin = Double.NegativeInfinity
      var betaMax = Double.PositiveInfinity
      var it = 0
      while (it < 50) {
        var sum = 0.0
        var dot = 0.0
        var j = 0
        while (j < n) {
          if (j != i) {
            val e = StrictMath.exp(-beta * d2(i)(j))
            p(i)(j) = e; sum += e; dot += e * d2(i)(j)
          }
          j += 1
        }
        val h = StrictMath.log(sum) + beta * dot / sum
        if (math.abs(h - logPerp) < 1e-5) it = 50
        else {
          if (h > logPerp) {
            betaMin = beta
            beta = if (betaMax.isPosInfinity) beta * 2 else (beta + betaMax) / 2
          } else {
            betaMax = beta
            beta = if (betaMin.isNegInfinity) beta / 2 else (beta + betaMin) / 2
          }
        }
        it += 1
      }
      var j = 0
      var sum = 0.0
      while (j < n) { if (j != i) sum += p(i)(j); j += 1 }
      j = 0
      while (j < n) { if (j != i) p(i)(j) /= sum else p(i)(j) = 0.0; j += 1 }
      i += 1
    }
    // symmetrize, normalize, floor
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val v = math.max((p(i)(j) + p(j)(i)) / (2.0 * n), 1e-12)
        p(i)(j) = v; p(j)(i) = v
        j += 1
      }
      p(i)(i) = 0.0
      i += 1
    }

    gradientLoop(p, iterations, seed, learningRate)
  }

  /** The t-SNE gradient descent over a symmetrized affinity matrix
    * `p` (n × n, floored, row/col sums normalized), run by [[embed]].
    * Exact repulsion (Q recomputed per pair, no n² Q storage);
    * deterministic for a fixed seed.
    */
  private def gradientLoop(
      p: Array[Array[Double]],
      iterations: Int,
      seed: Long,
      learningRate: Double): Array[Array[Double]] = {
    val n = p.length
    // seeded init ~ N(0, 1e-4)
    val rnd = new java.util.Random(seed)
    val y = Array.fill(n, 2)(rnd.nextGaussian() * 1e-2)
    val vel = Array.ofDim[Double](n, 2)
    val grad = Array.ofDim[Double](n, 2)

    var i = 0
    var iter = 0
    while (iter < iterations) {
      val exag = if (iter < 100) 12.0 else 1.0
      val momentum = if (iter < 250) 0.5 else 0.8
      // pass 1: partition function Z = Σ_{i≠j} (1+||yi−yj||²)⁻¹
      var z = 0.0
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val dx = y(i)(0) - y(j)(0); val dy = y(i)(1) - y(j)(1)
          z += 2.0 / (1.0 + dx * dx + dy * dy)
          j += 1
        }
        i += 1
      }
      // pass 2: gradients (Q recomputed — no n² Q storage)
      i = 0
      while (i < n) { grad(i)(0) = 0.0; grad(i)(1) = 0.0; i += 1 }
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val dx = y(i)(0) - y(j)(0); val dy = y(i)(1) - y(j)(1)
          val qn = 1.0 / (1.0 + dx * dx + dy * dy)
          val c = 4.0 * (exag * p(i)(j) - qn / z) * qn
          grad(i)(0) += c * dx; grad(i)(1) += c * dy
          grad(j)(0) -= c * dx; grad(j)(1) -= c * dy
          j += 1
        }
        i += 1
      }
      // momentum update + recenter
      var mx = 0.0
      var my = 0.0
      i = 0
      while (i < n) {
        vel(i)(0) = momentum * vel(i)(0) - learningRate * grad(i)(0)
        vel(i)(1) = momentum * vel(i)(1) - learningRate * grad(i)(1)
        y(i)(0) += vel(i)(0); y(i)(1) += vel(i)(1)
        mx += y(i)(0); my += y(i)(1)
        i += 1
      }
      mx /= n; my /= n
      i = 0
      while (i < n) { y(i)(0) -= mx; y(i)(1) -= my; i += 1 }
      iter += 1
    }
    y
  }

  /** Deterministic bounded-sample wrapper: the `maxRows` vectors with
    * the smallest xxhash64(id) (content-hash order — stable across
    * partitioning, planned as TakeOrderedAndProject), embedded on the
    * driver, returned as (id, tsne_x, tsne_y).
    */
  def embedSampled(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      maxRows: Int,
      perplexity: Double = 30.0,
      iterations: Int = 500,
      seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(maxRows)
      .as[(Long, Array[Double])]
      .collect()
    val y = embed(rows.map(_._2), perplexity, iterations, seed)
    spark.createDataFrame(
      rows.indices.map(k => (rows(k)._1, y(k)(0), y(k)(1))))
      .toDF(idCol, "tsne_x", "tsne_y")
  }
}

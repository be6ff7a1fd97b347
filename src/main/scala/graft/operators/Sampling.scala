package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling for training-data pipelines.
  *
  * `df.sample(fraction)` draws per-partition from a seeded RNG, so the
  * SAME row can land in different samples as partitioning changes
  * (repartition, AQE, input splits) — unacceptable when the sample
  * defines a held-out set that must stay fixed across reruns and
  * cluster layouts. Every draw here is a content hash of the row's id
  * instead (the cross-engine md5 pattern): same id → same draw, on any
  * cluster, at any parallelism, in any engine run. [[weightedSample]]
  * and [[epochShuffle]] draw that way; [[neymanAllocation]] plans the
  * per-stratum budgets exactly, on an integer lattice.
  */
object Sampling {

  /** Weighted sampling WITHOUT replacement, k rows, inclusion odds ∝
    * `weightCol` — Efraimidis-Spirakis (2006) reservoir keys, made
    * deterministic: each row's uniform draw comes from the md5
    * content hash ([[CorpusMixing.hashFraction]] domain, offset by
    * +0.5 so the draw is strictly positive — Spark's log10 returns
    * NULL at 0 where DuckDB returns -inf, so a zero draw would
    * diverge between engines), and the selection key is the
    * log-space equivalent log10(u)/w, whose descending order equals
    * the paper's u^(1/w) order monotonically.
    *
    * Scale shape: one map-side key computation + a bounded
    * TakeOrdered top-k — no shuffle of the corpus, no per-partition
    * reservoir to merge (the key trick makes global top-k ≡ the
    * sequential weighted draw). Ties (measure-zero on real weights)
    * break on the id. Rows with weight ≤ 0 are excluded, matching
    * the algorithm's domain.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      keyOut: String = "es_key"): DataFrame = {
    require(k > 0, s"k: $k")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") + lit(0.5)) /
      lit(CorpusMixing.HashDomain)
    df.filter(col(weightCol) > 0)
      .withColumn(keyOut,
        round(log10(u) / col(weightCol).cast("double"), 9))
      .orderBy(col(keyOut).desc, col(idCol))
      .limit(k)
  }

  /** Deterministic per-epoch training-order shuffle: every epoch
    * deals each row to a shard (epoch-salted md5 hash) and positions
    * it within the shard by a second hash — a training loop reads
    * shards in (shard, pos) order and sees a different, reproducible
    * global permutation each epoch. The expensive alternative — one
    * global row_number per epoch — is a single-partition sort (the
    * GlobalIds cliff); here the only exchange is the (epoch, shard)
    * window, whose parallelism is epochs × shards. The draw is the
    * cross-engine md5 pattern, so the permutation is a pure function
    * of (id, epoch) — any engine, any partitioning, same order.
    *
    * Output: input columns + (epoch, shard, pos) with pos 1-based
    * within (epoch, shard).
    */
  def epochShuffle(
      df: DataFrame, idCol: String, epochs: Int, shards: Int): DataFrame = {
    require(epochs >= 1, s"epochs: $epochs")
    require(shards >= 1, s"shards: $shards")
    Reserved.check("epochShuffle" -> df)
    import org.apache.spark.sql.expressions.Window
    def draw(tag: String) =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(tag),
        col("epoch").cast("string"))), 1, 15), 16, 10).cast("long")
    val dealt = df
      .withColumn("epoch", explode(sequence(lit(1), lit(epochs))))
      .withColumn("shard", pmod(draw("#"), lit(shards.toLong)).cast("int"))
    dealt.withColumn("pos", row_number().over(
      Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(draw("@"), col(idCol))))
  }

  /** Neyman-optimal stratified sample allocation (Neyman 1934): the
    * per-stratum sample quota that minimizes estimator variance at a
    * fixed budget is nₕ ∝ Nₕ·σₕ — big AND noisy strata get the
    * samples; a uniform or proportional split wastes budget on
    * homogeneous strata. The statistic a data pipeline uses to plan
    * QA/eval label budgets over sources.
    *
    * Chain: per-stratum exact (n, Σx, Σx²) sufficient statistics →
    * sd via one written IEEE sequence (sqrt is correctly rounded
    * where log is not) → weight = round(n·σ·10⁶) on the micro
    * lattice → [[Apportionment.largestRemainder]], so quotas are
    * integers summing EXACTLY to `budget` and the whole allocation
    * replays in any engine. Strata with n < 2 (sd undefined) or zero
    * variance carry weight 0 — nothing to learn from sampling them
    * beyond one row, which the caller can add back explicitly.
    *
    * One map-side-combined aggregation + the group-sized remainder
    * rank — `valueCol` must be integral (the GroupedOls policy).
    */
  def neymanAllocation(
      df: DataFrame, stratumCol: String, valueCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget: $budget")
    df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"neymanAllocation: column '$valueCol' is $dt; fractional " +
          "inputs need an explicit integer lattice first")
    }
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = col(valueCol).cast("long")
    val stats = df
      .select(col(stratumCol), x.as("__x"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s"),
        sum(col("__x").cast(d38) * col("__x").cast(d38)).as("__ss"))
    val nD = col("n").cast("double")
    // greatest(·, 0): for a zero-variance stratum the two
    // independently rounded doubles can leave a tiny NEGATIVE
    // difference, and sqrt(-eps) = NaN -> round(NaN).cast(long) =
    // NULL weight, which would corrupt the largest-remainder quota
    // sum downstream; the clamp makes zero-variance strata
    // deterministically weight 0.
    val varD = greatest(
      (nD * col("__ss").cast("double") -
        col("__s").cast("double") * col("__s").cast("double")) /
        (nD * (nD - lit(1.0))),
      lit(0.0))
    val weights = stats.select(col(stratumCol), col("n"),
      when(col("n") >= 2,
        round(nD * sqrt(varD) * lit(1e6)).cast("long"))
        .otherwise(0L).as("weight_micro"))
    Apportionment.largestRemainder(
        weights.select(col(stratumCol), col("weight_micro")),
        stratumCol, "weight_micro", budget)
      .join(weights.select(col(stratumCol), col("n")), stratumCol)
      .select(col(stratumCol), col("n"), col("weight_micro"),
        col("quota"))
  }
}

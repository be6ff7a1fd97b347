package graft.operators

import graft.SparkSuite

class SamplingSpec extends SparkSuite {
  import spark.implicits._

  test("weightedSample: heavier rows win more often; k and " +
      "determinism hold") {
    import spark.implicits._
    // 50 heavy rows (w=100) vs 50 light (w=1): the top-20 should be
    // dominated by heavy rows (odds ratio 100:1 per ES key).
    val df = ((1L to 50L).map(i => (i, 100L)) ++
      (51L to 100L).map(i => (i, 1L))).toDF("id", "w")
    val a = Sampling.weightedSample(df, "id", "w", 20).collect()
    assert(a.length === 20)
    val heavy = a.count(_.getLong(0) <= 50L)
    assert(heavy >= 15, s"only $heavy/20 heavy rows sampled")
    // deterministic: same input (any partitioning) → same sample
    val b = Sampling.weightedSample(df.repartition(7), "id", "w", 20)
      .collect()
    assert(a.map(_.getLong(0)).toSet === b.map(_.getLong(0)).toSet)
    // zero/negative weights are excluded
    val c = Sampling.weightedSample(
      Seq((1L, 0L), (2L, -5L), (3L, 1L)).toDF("id", "w"), "id", "w", 10)
      .collect()
    assert(c.map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("epochShuffle: per-epoch permutations differ, are dense in " +
      "(shard, pos), and are partitioning-independent") {
    import spark.implicits._
    val ids = (1L to 500L).toDF("id")
    val out = Sampling.epochShuffle(ids, "id", epochs = 2, shards = 4)
      .cache()
    try {
      assert(out.count() === 1000L) // every row dealt every epoch
      // positions are 1..count within each (epoch, shard)
      val dense = out.groupBy("epoch", "shard")
        .agg(org.apache.spark.sql.functions.count("*").as("n"),
          org.apache.spark.sql.functions.max("pos").as("maxp"),
          org.apache.spark.sql.functions.min("pos").as("minp"))
        .collect()
      assert(dense.forall(r => r.getLong(2) == r.getInt(3) &&
        r.getInt(4) == 1))
      // epochs yield different global orders for the same ids
      val e1 = out.filter($"epoch" === 1).orderBy("shard", "pos")
        .select("id").as[Long].collect().toSeq
      val e2 = out.filter($"epoch" === 2).orderBy("shard", "pos")
        .select("id").as[Long].collect().toSeq
      assert(e1 !== e2)
      assert(e1.toSet === e2.toSet)
      // deterministic under repartitioning
      val again = Sampling
        .epochShuffle(ids.repartition(7), "id", 2, 4)
        .select("id", "epoch", "shard", "pos").collect().toSet
      assert(again === out.select("id", "epoch", "shard", "pos")
        .collect().toSet)
    } finally { out.unpersist(); () }
  }

  test("neymanAllocation: budget goes where the variance is and " +
      "quotas sum exactly to the budget") {
    // stratum "noisy": values swing 0/100; "flat": constant;
    // "tiny": single row (sd undefined -> weight 0)
    val df = ((1 to 40).map(i => ("noisy", if (i % 2 == 0) 100 else 0)) ++
      (1 to 40).map(_ => ("flat", 50)) ++ Seq(("tiny", 7)))
      .toDF("s", "v")
    val out = Sampling.neymanAllocation(df, "s", "v", budget = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("noisy")._3 === 100L) // all budget: only nonzero sd
    assert(out("flat")._3 === 0L && out("flat")._2 === 0L)
    assert(out("tiny")._3 === 0L && out("tiny")._2 === 0L)
    assert(out.values.map(_._3).sum === 100L)
  }

  test("neymanAllocation: proportional to n*sd; fractional rejected") {
    // equal sd, one stratum twice the size -> quota ratio 2:1
    def spread(g: String, n: Int) =
      (1 to n).map(i => (g, if (i % 2 == 0) 10 else 0))
    val df = (spread("big", 60) ++ spread("small", 30)).toDF("s", "v")
    val out = Sampling.neymanAllocation(df, "s", "v", budget = 90L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("big") === 60L && out("small") === 30L)
    intercept[IllegalArgumentException] {
      Sampling.neymanAllocation(Seq(("g", 1.5)).toDF("s", "v"), "s", "v", 10L)
    }
  }
}

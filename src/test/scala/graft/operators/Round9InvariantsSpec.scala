package graft.operators

import graft.SparkSuite

/** Seeded-random structural invariants for the round's operators —
  * the properties that must hold for ANY input, checked over several
  * deterministic draws (Spark-backed, so a handful of seeds rather
  * than a ScalaCheck battery; the pure-JVM kernels get real property
  * suites).
  */
class Round9InvariantsSpec extends SparkSuite {
  import spark.implicits._

  test("survival curves: KM non-increasing in [0,1], NA cumulative " +
      "hazard non-decreasing, risk sets strictly shrinking") {
    for (seed <- Seq(1, 7, 23)) {
      val rng = new scala.util.Random(seed)
      val rows = (1 to 120).map(_ =>
        (rng.nextInt(25).toLong + 1, rng.nextInt(2).toLong))
      val out = Survival.curves(rows.toDF("duration", "event"),
          "duration", "event")
        .orderBy("t").collect()
      val km = out.map(_.getDouble(3))
      val na = out.map(_.getDouble(4))
      val risk = out.map(_.getLong(1))
      assert(km.forall(v => v >= 0.0 && v <= 1.0), s"seed $seed")
      assert(km.zip(km.drop(1)).forall { case (a, b) => b <= a + 1e-9 },
        s"seed $seed: KM increased")
      assert(na.zip(na.drop(1)).forall { case (a, b) => b >= a - 1e-9 },
        s"seed $seed: NA decreased")
      assert(risk.zip(risk.drop(1)).forall { case (a, b) => b < a },
        s"seed $seed: risk set did not shrink")
    }
  }

  test("tableFingerprint: any 2-way split merges back to the whole") {
    for (seed <- Seq(3, 11)) {
      val rng = new scala.util.Random(seed)
      val rows = (1 to 150).map(i => (i.toLong, s"v${rng.nextInt(50)}"))
      val df = rows.toDF("id", "v")
      val cut = rng.nextInt(140) + 5
      def sig(d: org.apache.spark.sql.DataFrame) =
        DataQuality.tableFingerprint(d, Nil, Seq("id", "v"))
          .collect().head
      val whole = sig(df)
      val l = sig(df.filter($"id" <= cut))
      val r = sig(df.filter($"id" > cut))
      assert(l.getLong(0) + r.getLong(0) === whole.getLong(0))
      assert((l.getLong(1) ^ r.getLong(1)) === whole.getLong(1))
      assert((l.getLong(2) + r.getLong(2)) % 2305843009213693952L
        === whole.getLong(2), s"seed $seed")
    }
  }

  test("lengthBuckets: rows conserved, waste non-negative, batch " +
      "ids dense per bucket for any draw") {
    for (seed <- Seq(5, 17)) {
      val rng = new scala.util.Random(seed)
      val rows = (1L to 90L).map(i => (i, rng.nextInt(400).toLong + 1))
      val out = SequencePacking.lengthBuckets(
          rows.toDF("id", "len"), "id", "len", 64L, 7)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(6)))
      assert(out.map(_._3).sum === 90L, s"seed $seed")
      assert(out.forall(_._4 >= 0L), s"seed $seed: negative waste")
      out.groupBy(_._1).foreach { case (b, batches) =>
        val ids = batches.map(_._2).sorted
        assert(ids === ids.indices.map(_.toLong), s"bucket $b: $ids")
      }
    }
  }

  test("dbscan labels: every border's label belongs to some core; " +
      "cores and their labels are closed under the edge set") {
    val rng = new scala.util.Random(29)
    val n = 60
    val edges = (1 to 150).map(_ =>
      (rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
      .filter(p => p._1 != p._2)
    val out = Dbscan.cluster((1L to n.toLong).toDF("id"), "id",
        edges.toDF("a", "b"), "a", "b", minPts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val coreLabels = out.filter(_._3).map(_._2).toSet
    val borders = out.filter(t => !t._3 && t._2 >= 0)
    assert(borders.forall(b => coreLabels.contains(b._2)),
      "border labeled with a non-core component")
    // labels are component minima: every core's label <= its id
    assert(out.filter(_._3).forall(c => c._2 <= c._1))
  }
}

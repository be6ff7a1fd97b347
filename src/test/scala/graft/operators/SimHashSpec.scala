package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** SimHash blocking vs a brute-force Hamming twin, plus the hot-band
  * bucket cap.
  */
class SimHashSpec extends SparkSuite {
  import spark.implicits._

  /** Planted corpus: 8 base docs of 60 tokens each, each with 2
    * near-duplicates (1-2 tokens perturbed — a handful of simhash bits
    * flip), plus 30 unrelated docs. Deterministic.
    */
  private def corpus: Seq[(Long, Seq[String])] = {
    val rng = new scala.util.Random(7)
    def doc(): Seq[String] = Seq.fill(60)("w" + rng.nextInt(5000))
    var id = 0L
    val out = Seq.newBuilder[(Long, Seq[String])]
    (0 until 8).foreach { _ =>
      val base = doc()
      out += ((id, base)); id += 1
      // near-dup A: one token replaced
      out += ((id, base.updated(7, "zz" + rng.nextInt(100)))); id += 1
      // near-dup B: two tokens replaced
      out += ((id, base.updated(3, "yy").updated(41, "xx"))); id += 1
    }
    (0 until 30).foreach { _ => out += ((id, doc())); id += 1 }
    out.result()
  }

  /** Pigeonhole guarantee: with 4 bands over 64 bits, any pair at
    * Hamming ≤ 3 agrees on at least one 16-bit band — so for
    * maxHamming = 3 the blocked output must EQUAL the brute-force
    * all-pairs Hamming answer, not just approximate it.
    */
  test("simhashPairs equals brute-force Hamming pairs for maxHamming <= 3") {
    val df = corpus.toDF("doc_id", "tokens")
    val got = Dedup.simhashPairs(df, "doc_id", "tokens", maxHamming = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val hashes = df
      .select(col("doc_id"), Dedup.simhash64(col("tokens")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, ha) <- hashes
      (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet

    assert(expected.nonEmpty, "planted near-dups produced no close pairs")
    assert(got == expected)
  }

  test("hot band buckets are dropped by maxBucketSize") {
    // 12 identical docs: every band bucket has size 12, so a cap of 4
    // drops them all and no pair survives; an uncapped run finds all 66.
    val same = Seq.fill(12)(Seq("a", "b", "c", "d", "e"))
    val df = same.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "tokens")
    val uncapped = Dedup.simhashPairs(df, "doc_id", "tokens", 3)
    assert(uncapped.count() == 66)
    val capped = Dedup.simhashPairs(df, "doc_id", "tokens", 3,
      maxBucketSize = 4)
    // 0 vs 66 is the cap's behavioral proof. (The anti-join is no
    // longer visible from the returned frame: simhashPairs seals its
    // result via Par.sealAndRelease, so the caller sees a checkpoint scan.)
    assert(capped.count() == 0)
  }
}

package graft.operators

import graft.SparkSuite

class RankFusionSpec extends SparkSuite {
  import spark.implicits._

  test("rrf sums lattice contributions across lists") {
    val la = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "rank")
    val lb = Seq((1L, 10L, 1), (1L, 30L, 2)).toDF("query_id", "doc_id", "rank")
    val out = RankFusion.reciprocalRankFusion(Seq(la, lb), topK = 10)
      .orderBy("rank").collect()
    val r1 = math.round(1e9 / 61.0) // rank-1 contribution
    val r2 = math.round(1e9 / 62.0)
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq(
      (10L, 2 * r1), (20L, r2), (30L, r2)))
    // 20 vs 30 tie on score → doc_id ascending
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
    assert(out.map(_.getInt(3)).toSeq === Seq(1, 2, 3))
  }

  test("single-list fusion preserves the input order") {
    val la = Seq((7L, 3L, 1), (7L, 9L, 2), (7L, 5L, 3))
      .toDF("query_id", "doc_id", "rank")
    val out = RankFusion.reciprocalRankFusion(Seq(la), topK = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(3L, 9L))
  }

  test("RBO: identical top-k scores 1 - 2^-k; disjoint scores 0; " +
      "swapped top-2 matches the closed form") {
    val a10 = (1 to 10).map(r => (1L, 100L + r, r))
      .toDF("query_id", "doc_id", "rank")
    val same = RankFusion.rankBiasedOverlap(a10, a10, k = 10)
      .collect().head
    assert(same.getLong(1) === 10L)
    assert(same.getDouble(2) === 0.999023) // 1 - 2^-10, 6 dp
    val other = (1 to 10).map(r => (1L, 900L + r, r))
      .toDF("query_id", "doc_id", "rank")
    val disj = RankFusion.rankBiasedOverlap(a10, other, k = 10)
      .collect().head
    assert(disj.getLong(1) === 0L && disj.getDouble(2) === 0.0)
    // A=[x,y], B=[y,x] at k=2: depth-1 overlap 0, depth-2 overlap 2
    // → RBO = (1/4)·(2/2) = 0.25
    val ax = Seq((1L, 7L, 1), (1L, 8L, 2)).toDF("query_id", "doc_id", "rank")
    val bx = Seq((1L, 8L, 1), (1L, 7L, 2)).toDF("query_id", "doc_id", "rank")
    val r = RankFusion.rankBiasedOverlap(ax, bx, k = 2).collect().head
    assert(r.getLong(1) === 2L && r.getDouble(2) === 0.25)
  }

  test("RBO emits 0 rows for queries in either list and ignores " +
      "ranks beyond k") {
    val a = Seq((1L, 5L, 1), (2L, 6L, 1), (2L, 7L, 11))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 5L, 1), (3L, 9L, 1), (2L, 7L, 1))
      .toDF("query_id", "doc_id", "rank")
    val out = RankFusion.rankBiasedOverlap(a, b, k = 10)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // query 2: doc 7 has rank 11 on the A side → not matched;
    // query 3 appears only in B → present with 0 overlap
    assert(out === Seq((1L, 1L), (2L, 0L), (3L, 0L)))
  }
}

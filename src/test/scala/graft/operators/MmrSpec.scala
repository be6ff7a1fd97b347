package graft.operators

import graft.SparkSuite

class MmrSpec extends SparkSuite {
  import spark.implicits._

  // doc 10 and 20 share an identical token set (Jaccard 1); doc 30
  // is disjoint from both. rel: 10 → norm 1e6, 20 → norm 400k,
  // 30 → norm 0.
  private def cands = Seq(
    (1L, 10L, 10L), (1L, 20L, 4L), (1L, 30L, 0L)
  ).toDF("query_id", "doc_id", "rel_nano")
  private def toks = Seq(
    (10L, Seq("a", "b", "c")),
    (20L, Seq("a", "b", "c")),
    (30L, Seq("x", "y", "z"))
  ).toDF("doc_id", "tokens")

  test("redundant high-relevance candidate is demoted below a novel one") {
    val out = Mmr.rerank(cands, toks, k = 3).orderBy("pick").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 30L, 20L))
    // pick 1 objective = 7·relNorm = 7e6; pick 2: doc 30 scores
    // 7·0 − 3·0 = 0, beating doc 20's 7·400000 − 3·1000000 = −200000
    assert(out(0).getLong(2) === 7000000L)
    assert(out(1).getLong(2) === 0L)
    assert(out(2).getLong(2) === -200000L)
    assert(out.map(_.getInt(3)).toSeq === Seq(1, 2, 3))
  }

  test("lambda=10 is pure relevance order") {
    val out = Mmr.rerank(cands, toks, k = 3, lambdaTenths = 10)
      .orderBy("pick").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
  }

  test("k beyond candidate count emits each candidate exactly once") {
    val out = Mmr.rerank(cands, toks, k = 5).collect()
    assert(out.map(_.getLong(1)).sorted.toSeq === Seq(10L, 20L, 30L))
  }

  test("equal-relevance group normalizes to 1e6 and ties break by id") {
    val flat = Seq((9L, 5L, 3L), (9L, 4L, 3L))
      .toDF("query_id", "doc_id", "rel_nano")
    val t2 = Seq((5L, Seq("p")), (4L, Seq("q"))).toDF("doc_id", "tokens")
    val out = Mmr.rerank(flat, t2, k = 2).orderBy("pick").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(4L, 5L))
    assert(out(0).getLong(2) === 7000000L)
  }
}

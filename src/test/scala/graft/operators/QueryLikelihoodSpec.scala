package graft.operators

import graft.SparkSuite

class QueryLikelihoodSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = Seq(
    (1L, Seq("spark", "runs", "fast")),
    (2L, Seq("spark", "spark", "shuffles", "data")),
    (3L, Seq("ducks", "swim", "fast")),
    (4L, Seq("data", "ducks", "and", "more", "data", "and", "words",
      "and", "padding", "tokens"))
  ).toDF("doc_id", "tokens")

  test("higher matched tf ranks higher; the query doc is excluded") {
    val qt = Seq((1L, "spark")).toDF("query_id", "term")
    val out = QueryLikelihood.scoreTopK(
        Bm25.postings(corpus, "doc_id", "tokens"), qt, k = 10)
      .orderBy("rank").collect()
    // only doc 2 contains "spark" besides the query doc itself
    assert(out.map(_.getLong(1)).toSeq === Seq(2L))
    assert(out.head.getLong(2) < 0L) // log-probability score
  }

  test("tf vs length trade-off resolves on the exact lattice") {
    val qt = Seq((9L, "data")).toDF("query_id", "term")
    val out = QueryLikelihood.scoreTopK(
        Bm25.postings(corpus, "doc_id", "tokens"), qt, k = 10)
      .orderBy("rank").collect()
    // docs 2 (dl=4, tf=1) and 4 (dl=10, tf=2) match. µp("data") =
    // 2000·(3/20) = 300, so score_micro(2) = lg(301)−lg(2004) →
    // −823332 and score_micro(4) = lg(302)−lg(2010) → −823189 on the
    // micro lattice: doc 4's extra occurrence narrowly outweighs its
    // length penalty.
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((4L, -823189L), (2L, -823332L)))
  }

  test("scores are replayable: two runs produce identical rows") {
    val qt = Seq((1L, "spark"), (1L, "fast"), (9L, "data"))
      .toDF("query_id", "term")
    val idx = Bm25.postings(corpus, "doc_id", "tokens")
    val a = QueryLikelihood.scoreTopK(idx, qt, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    val b = QueryLikelihood.scoreTopK(idx, qt, k = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b)
  }
}

package graft.operators

import graft.SparkSuite

class PercolatorSpec extends SparkSuite {
  import spark.implicits._

  private val batch = Seq(
    (1L, Seq("spark", "shuffle", "join", "skew")),
    (2L, Seq("spark", "streaming", "state")),
    (3L, Seq("duckdb", "oracle", "join"))
  ).toDF("doc_id", "tokens")

  test("a doc routes to exactly the queries whose terms it contains " +
      "ALL of") {
    val queries = Seq(
      (10L, "spark"), (10L, "join"),      // docs 1 only
      (11L, "join"),                      // docs 1, 3
      (12L, "spark"), (12L, "missing")    // nobody
    ).toDF("qid", "term")
    val out = Percolator.percolate(batch, "doc_id", "tokens",
        queries, "qid", "term")
      .orderBy("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out === Seq((10L, 1L), (11L, 1L), (11L, 3L)))
  }

  test("duplicate query terms collapse; null terms are dropped, and " +
      "a query left with no terms matches nothing") {
    val queries = Seq(
      (20L, Some("spark")), (20L, Some("spark")),  // dup → 1 conjunct
      (21L, None: Option[String])                  // all-null → refuse
    ).toDF("qid", "term")
    val out = Percolator.percolate(batch, "doc_id", "tokens",
        queries, "qid", "term")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((20L, 1L), (20L, 2L)))
  }

  test("percolation is partitioning-independent") {
    val docs = (1L to 60L).map(i =>
      (i, (0 to (i % 7).toInt).map(j => s"t${(i + j) % 11}")))
      .toDF("doc_id", "tokens")
    val queries = (100L to 110L).map(q =>
      (q, s"t${q % 11}")).toDF("qid", "term")
    def run(d: org.apache.spark.sql.DataFrame) =
      Percolator.percolate(d, "doc_id", "tokens", queries, "qid", "term")
        .orderBy("query_id", "doc_id").collect().toSeq
    assert(run(docs) === run(docs.repartition(9)) )
    assert(run(docs).nonEmpty)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index-accelerated exact substring search — the `%pattern%` scan
  * killer. A LIKE-contains over 100 TB is a full corpus scan PER
  * QUERY; the standard fix (the pg_trgm / Lucene n-gram trick) is a
  * character-trigram inverted index: a document can contain
  * `pattern` only if it contains EVERY trigram of `pattern`, so the
  * index join produces a small candidate superset and an exact
  * `contains` verification removes the false positives — the same
  * prefilter-then-verify contract as [[BloomJoin]] and the MinHash
  * dedup stack, so the result is bit-identical to the brute scan.
  *
  * Scale shape: the index build is one corpus pass (row-local
  * trigram explode, distinct on (trigram, doc) — map-side combined);
  * it is built ONCE and amortized across query batches. Per batch:
  * the query-trigram frame joins the index on trigram (shuffle key =
  * trigram; a hot trigram like `the` is bounded by dropping
  * stop-trigrams ABOVE `maxDocFreq` from both sides — exactness
  * survives because the conjunction only needs the surviving
  * trigrams, checked against the per-query surviving count), then
  * one (query, doc) count aggregation, then the verify join touches
  * only candidate docs.
  */
object TrigramSearch {

  /** (trigram, doc id) inverted index, distinct. Documents shorter
    * than 3 chars index nothing (they can never contain a 3+-char
    * pattern).
    */
  def index(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    Reserved.check("docs" -> docs)
    Par.widen(docs)
      .select(col(idCol), col(textCol))
      .where(length(col(textCol)) >= 3)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, length($textCol) - 2), " +
          s"i -> substring($textCol, i, 3))")).as("trigram"))
      .distinct()
  }

  /** Exact containment matches (query_id, doc_id) for every query
    * pattern against the indexed corpus: doc contains pattern as a
    * literal substring (`excludeSelf` drops query_id = doc_id rows
    * when queries are drawn from the corpus itself). `queries` carries
    * (query id, pattern); patterns shorter than 3 chars are rejected
    * (they have no trigrams to prefilter on — route them to a
    * dedicated short-pattern scan instead of silently full-scanning).
    *
    * `maxDocFreq` drops trigrams indexed in more than that many
    * documents from BOTH the index side and the query side — the
    * hot-key cap. A pattern whose every trigram is hot has no
    * selective trigram left and falls back to verifying against the
    * docs that match its LEAST frequent trigram... which is also
    * dropped; such patterns (all-stop-trigram, e.g. `" the "`) are
    * excluded by the `n_kept >= 1` guard and reported nowhere — at
    * scale they are the patterns an index CANNOT serve and belong on
    * the scan path. Exactness for every served pattern: a containing
    * doc contains ALL the pattern's trigrams, hence all surviving
    * ones, hence survives the count filter; the verify step then
    * makes the output exact.
    */
  def search(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, patternCol: String,
      maxDocFreq: Long = 1000000L, excludeSelf: Boolean = false): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq: $maxDocFreq")
    Reserved.check("docs" -> docs, "queries" -> queries)

    // pin once (two consumers: hot stats + the candidate join), then
    // widen the pin by doc id: the checkpoint stores at AQE's
    // byte-coalesced width — one partition here — and the candidate
    // join + per-(query, doc) partial aggregation ran single-task
    // over it (r20 profile: 1 task, 1.1 s); doc-hash keeps that
    // partial agg collapsing map-side (the q_rbo diagnosis)
    val idx = Par.widenBy(
      index(docs, idCol, textCol)
        .select(col(idCol).as("__d"), col("trigram").as("__t"))
        .transform(Par.pin),
      col("__d"))
    val hot = idx.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__t"))
    val idxCold = idx.join(hot, Seq("__t"), "left_anti")

    val qt = queries
      .where(length(col(patternCol)) >= 3)
      .select(col(queryIdCol).as("__q"), col(patternCol).as("__pat"))
      .select(col("__q"), col("__pat"), explode(expr(
        "transform(sequence(1, length(__pat) - 2), " +
          "i -> substring(__pat, i, 3))")).as("__t"))
      .distinct()
    val qtCold = qt.join(hot, Seq("__t"), "left_anti")
    val perQuery = qtCold.groupBy(col("__q"), col("__pat"))
      .agg(count(lit(1)).as("__need"))
      .filter(col("__need") >= 1)

    val candidates = qtCold
      .join(idxCold, Seq("__t"))
      .groupBy(col("__q"), col("__pat"), col("__d"))
      .agg(count(lit(1)).as("__got"))
      .join(perQuery, Seq("__q", "__pat"))
      .filter(col("__got") === col("__need"))
      .select(col("__q"), col("__pat"), col("__d"))

    candidates
      .join(docs.select(col(idCol).as("__d"), col(textCol).as("__text")),
        Seq("__d"))
      .filter(col("__text").contains(col("__pat")))
      .filter(if (excludeSelf) col("__q") =!= col("__d") else lit(true))
      .select(col("__q").as("query_id"), col("__d").as("doc_id"))
  }
}

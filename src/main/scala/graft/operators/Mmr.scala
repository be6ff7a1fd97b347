package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
  * SIGIR 1998) — diversify a first-stage top-n: greedily pick
  *
  *   argmax_d [ λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) ]
  *
  * so each successive result is relevant BUT novel w.r.t. what is
  * already selected — the standard answer to near-duplicate result
  * lists (and, in training-data curation, to redundant retrieved
  * context). sim is token-set Jaccard, computed relationally.
  *
  * Scale shape: MMR only ever touches the FIRST-STAGE CANDIDATES
  * (queries × n rows, n ≤ ~100), never the corpus — relevance comes
  * in from [[Bm25]]/[[QueryLikelihood]]/[[Similarity]] which did the
  * corpus-scale work. The greedy loop is k UNROLLED relational stages
  * (anti-join remaining → max-sim-to-selected → lattice argmax):
  * genuinely sequential (pick i+1 depends on pick i, like the
  * [[Tsne]] gradient loop), but each stage is a bounded aggregation
  * on the candidate frame, so the whole re-rank is k tiny jobs — and
  * stays fully declarative (no UDF, no collect).
  *
  * Determinism: everything is exact integer arithmetic. rel is
  * rank-normalized to a micro lattice (min–max over exact longs, one
  * correctly-rounded division, snapped); Jaccard |∩|/|∪| is a
  * division of exact integers, snapped to micro; λ = 7/10 is applied
  * as integer weights (score = 7·relNorm − 3·maxSim, a ×10 rescale of
  * λ=0.7 — rank-preserving); ties break on doc_id ascending via a
  * (score, −doc_id) struct-max. Bit-replayable in any engine.
  */
object Mmr {

  /** Re-rank `candidates` = (query_id, doc_id, rel_nano) using token
    * sets from `docTokens` = (doc_id, tokens). Picks `k` per query
    * (fewer if a query has fewer candidates). λ is `lambdaTenths`/10
    * (default 7 → λ = 0.7). Output: (query_id, doc_id, mmr_score,
    * pick) with pick = 1..k in selection order; mmr_score is the
    * 7·relNorm − 3·maxSim objective in micro/10 units at the moment
    * of selection (pick 1 reports 7·relNorm: nothing is selected yet,
    * so the novelty penalty is zero).
    */
  def rerank(
      candidates: DataFrame, docTokens: DataFrame,
      k: Int, lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0,10], got $lambdaTenths")
    Reserved.check("candidates" -> candidates)
    val lam = lit(lambdaTenths.toLong)
    val oneMinusLam = lit((10 - lambdaTenths).toLong)

    // min–max rank normalization of relevance onto [0, 1e6]
    val bounds = candidates.groupBy(col("query_id"))
      .agg(min(col("rel_nano")).as("__lo"), max(col("rel_nano")).as("__hi"))
    val cand = candidates.join(broadcast(bounds), "query_id")
      .select(col("query_id"), col("doc_id"),
        when(col("__hi") === col("__lo"), lit(1000000L))
          .otherwise(round(
            (col("rel_nano") - col("__lo")).cast("double") * lit(1e6) /
              (col("__hi") - col("__lo")).cast("double")).cast("long"))
          .as("rel_micro"))
      .transform(Par.pin) // candidates are bounded; pin them — every
                          // stage below reuses this frame

    // pairwise candidate Jaccard, relationally: distinct (doc, token)
    // restricted to candidate docs, |∩| by token join, |∪| by
    // inclusion–exclusion. Bounded: candidate docs only.
    val candDocs = cand.select(col("doc_id")).distinct()
    val toks = docTokens
      .join(candDocs, "doc_id")
      .select(col("doc_id"), explode(col("tokens")).as("tok"))
      .distinct()
      .transform(Par.pin)
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = toks.as("a")
      .join(toks.as("b"), col("a.tok") === col("b.tok"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("ix"))
    val simHalf = inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("s1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        round(col("ix").cast("double") * lit(1e6) /
          (col("s1") + col("s2") - col("ix")).cast("double"))
          .cast("long").as("sim_micro"))
    // symmetrize; pairs with empty intersection are absent (Jaccard 0)
    val sims = simHalf.unionByName(
      simHalf.select(col("d2").as("d1"), col("d1").as("d2"),
        col("sim_micro"))).transform(Par.pin)

    // greedy unroll: k stages of (remaining ⟕ sims-to-selected) → argmax
    def argmax(scored: DataFrame): DataFrame = scored
      .groupBy(col("query_id"))
      .agg(max(struct(col("mmr_score"), (-col("doc_id")).as("negId")))
        .as("best"))
      .select(col("query_id"), (-col("best.negId")).as("doc_id"),
        col("best.mmr_score").as("mmr_score"))

    val first = argmax(cand.select(col("query_id"), col("doc_id"),
      (lam * col("rel_micro")).as("mmr_score")))
      .withColumn("pick", lit(1))
    var selected = first
    var i = 2
    while (i <= k) {
      val rem = cand.join(selected.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      val withSim = rem.as("r")
        .join(selected.select(col("query_id"), col("doc_id").as("sel_id")),
          Seq("query_id"))
        .join(sims, col("doc_id") === col("d1") &&
          col("sel_id") === col("d2"), "left")
        .groupBy(col("query_id"), col("doc_id"), col("rel_micro"))
        .agg(coalesce(max(col("sim_micro")), lit(0L)).as("max_sim"))
      val scored = withSim.select(col("query_id"), col("doc_id"),
        (lam * col("rel_micro") - oneMinusLam * col("max_sim"))
          .as("mmr_score"))
      selected = selected.unionByName(
        argmax(scored).withColumn("pick", lit(i)))
      i += 1
    }
    selected.select(col("query_id"), col("doc_id"),
      col("mmr_score"), col("pick"))
  }
}

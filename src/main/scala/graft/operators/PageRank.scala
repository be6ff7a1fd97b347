package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank on an exact integer lattice.
  *
  * Rank mass is carried as BIGINT "picounits" (1e12 = total mass 1),
  * and every step — the per-edge contribution `rank div outdeg`, the
  * damping `(85·Σ) div 100` — is integer floor division, so the
  * result is bit-identical under any partitioning, execution order,
  * or independent SQL replay (floats would make a 10-iteration fixed
  * point order-sensitive; `q_pagerank` unrolls the same lattice in
  * DuckDB and hash-matches). The small mass leaked by floor division
  * stays un-redistributed — deterministic, and irrelevant to ranking.
  *
  * Per iteration: one shuffle of the edge list on `src` (join ranks),
  * one aggregation shuffle on `dst` — the textbook distributed PR
  * shape. Edges and degrees are pinned once and reused; the rank
  * frame is pinned ([[Par.pin]]) every third iteration so
  * lineage stays O(1) instead of O(iterations) (the
  * connectedComponents lesson) WITHOUT paying a blocking
  * materialization job per step — between checkpoints the plan
  * carries at most three iterations of joins, which Catalyst
  * handles comfortably, and the exact integer lattice makes the
  * cadence observationally irrelevant (bit-identical ranks either
  * way). Dangling nodes (no out-edges) simply leak their mass —
  * callers whose graphs have them should add self-loops upstream if
  * they want it conserved.
  *
  * On the engine's kNN similarity graph, centrality is a curation
  * signal: high-rank documents are "representative" hubs, low-rank
  * ones outliers — a complement to [[Similarity.semanticDedup]]'s
  * keep-the-outlier rule.
  */
object PageRank {

  private val Mass: Long = 1000000000000L

  /** PageRank over (srcCol, dstCol) edges, `iterations` fixed steps,
    * damping 0.85 (as the exact rational 85/100). Returns (id, rank)
    * with rank in picounits, one row per node appearing in any edge.
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1,100]: $iterations")
    // pinned, not persisted (r20, the ccLoop lesson): the persisted
    // edge list made every one of the 10 iterations run
    // session-shuffle-width many near-empty tasks per stage
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .transform(Par.pin)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .transform(Par.pin)
    val deg = e.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .transform(Par.pin)
    val n = nodes.count()
    val init = Mass / n
    val base = (Mass * 15L / 100L) / n
    // explicit broadcast of the node-sized frames when the node count
    // (already on the driver) fits the §3.1 envelope: AQE's runtime
    // BHJ conversion still executes the EDGE side's shuffle map stage
    // every iteration before it can decide; the hint removes those
    // per-round edge shuffles outright. Same rows either way — join
    // strategy only. At production node counts the gate is false and
    // the shuffle path stands.
    val bc = Par.broadcastWhen(n <= Par.BroadcastNodeRows) _

    var ranks = nodes.select(col("id"), lit(init).as("rank"))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(bc(ranks.select(col("id").as("src"), col("rank").as("r"))),
          Seq("src"))
        .join(bc(deg), Seq("src"))
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy(col("id"))
        .agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(bc(contribs), Seq("id"), "left_outer")
        .select(col("id"),
          (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("rank"))
      // truncate lineage every 3rd step (and on the last, so callers
      // never inherit a multi-iteration plan) — each pin
      // is a blocking job, and per-step checkpoints made overhead,
      // not compute, the cost floor at small graph sizes
      if (i % 3 == 0 || i == iterations)
        ranks = Par.pin(ranks)
    }
    ranks
  }
}

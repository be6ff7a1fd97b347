package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph primitives over the similarity graphs the dedup /
  * ANN stack builds — k-core peeling (the density filter) and
  * bounded-hop multi-source BFS (the reachability / contamination-
  * spread probe). Both are rounds of node-keyed joins and
  * aggregations: the graph is partitioned by node id throughout, no
  * round ever materializes more than the current edge set, and
  * lineage is truncated per round with an edge-sized [[Par.pin]]
  * (the [[Dedup]] label-propagation discipline — without it Catalyst
  * replans round i as a replay of rounds 1..i−1).
  */
object GraphOps {

  private def canonical(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("__u"),
        greatest(col(srcCol), col(dstCol)).as("__v"))
      .distinct()
      .transform(Par.pin)

  /** Vertices surviving `rounds` peels at threshold `k`, with their
    * residual degree — the classic k-core peel (Seidman 1983)
    * truncated to a FIXED round count so the result is a
    * deterministic, replayable function of the input (the exact core
    * is the fixpoint; each round only removes vertices, so `rounds`
    * is an upper bound that converges from above and a small constant
    * already separates cores from tendrils in practice). Output:
    * (id, deg) over the last round's surviving subgraph, restricted
    * to vertices whose RESIDUAL degree still meets `k` — the output
    * filter is deliberately a final half-peel, so no reported vertex
    * ever carries a sub-threshold degree.
    *
    * Per round: one degree aggregation (node-keyed, map-side
    * combined) + two semi-joins filtering the edge set — every
    * shuffle key is a node id, nothing is ever broadcast-or-collected
    * at graph scale, and the edge frame shrinks monotonically.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    require(rounds >= 1 && rounds <= 50, s"rounds: $rounds")
    Reserved.check("edges" -> edges)
    var e = canonical(edges, srcCol, dstCol)
    var r = 0
    while (r < rounds) {
      val deg = e.select(explode(array(col("__u"), col("__v"))).as("__n"))
        .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
      val keep = deg.filter(col("__d") >= k).select(col("__n"))
      e = e
        .join(keep.withColumnRenamed("__n", "__u"), Seq("__u"), "left_semi")
        .join(keep.withColumnRenamed("__n", "__v"), Seq("__v"), "left_semi")
        .transform(Par.pin)
      r += 1
    }
    e.select(explode(array(col("__u"), col("__v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
  }

  /** Minimum hop distance from the `seeds` vertex set, breadth-first
    * up to `maxHops`: (id, hop) for every vertex reachable within the
    * bound, hop 0 = the seeds themselves. The per-round frontier is
    * expanded with a node-keyed join against the (undirected) edge
    * list and min-merged into the visited set — the standard
    * distributed BFS (Pregel's SSSP specialized to unit weights),
    * with the visited frame checkpointed per round so round i's plan
    * does not replay rounds 1..i−1.
    *
    * Joins are node-keyed shuffles; the frontier is NEVER collected
    * or broadcast (at 100 TB a frontier can be most of the graph).
    * Rounds are a fixed small constant, so the sequential-round
    * structure (inherent to BFS) costs `maxHops` shuffle stages.
    */
  def bfsHops(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops: $maxHops")
    Reserved.check("edges" -> edges, "seeds" -> seeds)
    val e = canonical(edges, srcCol, dstCol)
    val und = e.union(e.select(col("__v").as("__u"), col("__u").as("__v")))
    var visited = seeds
      .select(col(seedCol).as("id")).where(col("id").isNotNull).distinct()
      .withColumn("hop", lit(0))
      .transform(Par.pin)
    var frontier = visited
    var h = 1
    while (h <= maxHops) {
      val next = frontier
        .join(und, frontier("id") === und("__u"))
        .select(col("__v").as("id"))
        .distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("hop", lit(h))
        .transform(Par.pin)
      visited = visited.union(next).transform(Par.pin)
      frontier = next
      h += 1
    }
    visited
  }
}

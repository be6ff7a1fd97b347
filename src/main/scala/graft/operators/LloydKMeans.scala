package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means over an embedding-array column —
  * the ORACLE-REPLAYABLE k-means (MacQueen 1967 / Lloyd 1982): init
  * is the deterministic sampled codebook (the k smallest ids — the
  * [[Similarity.sampledCodebook]] convention), every quantity lives
  * on an exact integer lattice, and a fixed iteration count unrolls
  * into DuckDB CTEs (the q_coreset/q_pagerank generated-iteration
  * precedent), so cluster sizes AND training cost hash-match across
  * engines. It is the engine's only k-means: `q_kmeans_cost` runs it
  * for the reference's `kmeans(nstart=50)`, trading the best-of-50
  * random restarts for one init that a correctness gate can pin.
  *
  * Lattice: each coordinate snaps to micro (x·10⁶, exact in double),
  * distances are exact integer Σ(xm−cm)² in micro² units (≤ 64 dims
  * × (2·10⁶)² ≈ 2.6·10¹⁴ per point — long-safe to ~35k-dim unit
  * vectors), centroid updates are ONE written IEEE sequence
  * (round(Σxm/n) — integer sum, one divide, one round) per (cell,
  * dim), so the centroids THEMSELVES stay on the micro lattice every
  * iteration. Assignment ties break to the smaller cell id. A cell
  * that loses all members keeps its previous centroid (both engines
  * replay the same keep rule).
  *
  * Scale shape: per iteration, one broadcast join of the k·dims
  * centroid table against the exploded (id, dim, xm) corpus with a
  * map-side-combined (id, cell) distance aggregate, one argmin
  * aggregate, one (cell, dim) mean aggregate — no windows over the
  * corpus, no corpus² joins; the centroid table is pinned
  * ([[Par.pin]]) per iteration so the plan never grows with T. The
  * exploded corpus is pinned once and reused by all iterations.
  *
  * Output: (cluster, size, cost_micro2) — per final cluster, member
  * count and exact integer Σ distance² in micro² units, the
  * training-cost decomposition by cluster.
  */
object LloydKMeans {

  def fitSummary(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    Reserved.check("embeddings" -> emb)
    val dims = emb
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .select(col("__id"), col("__i"),
        round(col("__x").cast("double") * lit(1e6)).cast("long")
          .as("__xm"))
      // pinned (r20): each iteration reads this frame from TWO
      // stages (assignment + the centroid update's join)
      .transform(Par.pin)
    locally {
      val init = dims
        .join(broadcast(
          emb.select(col(idCol).cast("long").as("__id"))
            .orderBy(col("__id")).limit(k)), "__id")
        .select(col("__id").as("cell"), col("__i"), col("__xm").as("__cm"))
      var cent = Par.pin(init)

      def assignTo(c: DataFrame): DataFrame = dims
        .join(broadcast(c), "__i")
        .groupBy(col("__id"), col("cell"))
        .agg(sum((col("__xm") - col("__cm")) *
          (col("__xm") - col("__cm"))).as("__dist"))
        .groupBy(col("__id"))
        .agg(min_by(struct(col("cell"), col("__dist")),
          struct(col("__dist"), col("cell"))).as("__b"))
        .select(col("__id"), col("__b.cell").as("cell"),
          col("__b.__dist").as("__dist"))

      for (_ <- 1 to iters) {
        val assign = assignTo(cent).select(col("__id"), col("cell"))
        val updated = assign.join(dims, "__id")
          .groupBy(col("cell"), col("__i"))
          .agg(round(sum(col("__xm")).cast("double") / count(lit(1)))
            .cast("long").as("__cm2"))
        cent = cent.join(updated, Seq("cell", "__i"), "left")
          .select(col("cell"), col("__i"),
            coalesce(col("__cm2"), col("__cm")).as("__cm"))
          .transform(Par.pin)
      }

      assignTo(cent)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("size"),
          sum(col("__dist")).cast("long").as("cost_micro2"))
        .select(col("cell").as("cluster"), col("size"),
          col("cost_micro2"))
        // the final aggregate is cluster-sized; materialize so the
        // exploded-corpus checkpoint blocks can be GC-reclaimed
        .transform(Par.pin)
    }
  }
}

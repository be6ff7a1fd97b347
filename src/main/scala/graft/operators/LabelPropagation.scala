package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over the embedding kNN graph —
  * the corpus-curation move when human labels cover a sliver of the
  * data and a single kNN vote ([[KnnClassifier]]) is not enough:
  * labels hop outward one graph edge per iteration, so a node with no
  * labeled neighbor can still be reached through a labeled-in-round-1
  * intermediary. (Reference scope: the engine's classification surface
  * mirrors `Week5_datingNLP.R:175-188`'s label modeling; propagation
  * is the extension that removes its everything-is-labeled
  * assumption.)
  *
  * Semantics (deterministic, replayable in any engine):
  *  - the kNN edge list is built ONCE: for every node, its k nearest
  *    other nodes by 6-dp-rounded cosine, neighbor-id tie-break;
  *  - iteration t labels every still-unlabeled node that has ≥1
  *    neighbor labeled at t-1 with the majority neighbor label
  *    (votes desc, then smallest label);
  *  - seed labels never change.
  *
  * Scale shape: edges are built by whatever candidate generator fits
  * the corpus — the brute-force path here for driver-sized fixtures,
  * [[Similarity.lshTopK]]/[[Similarity.ivfTopKSampledCodebook]] at
  * 100 TB — and the iteration itself never touches vectors again: it
  * is k·|V| edges joined to a |V|-sized label table, both
  * hash-partitioned on the join id, per round. Labels stay distributed (no driver collect);
  * rounds are a fixed small count, so lineage stays shallow without
  * checkpointing.
  */
object LabelPropagation {

  /** Edge list: (node_id, neighbor_id) — each node's k nearest others
    * by rounded cosine. Brute-force generator (broadcast candidates);
    * swap for an ANN path when |V| outgrows a broadcast.
    */
  def knnEdges(
      emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    // widen the scoring side: the n×|broadcast| cosine pass is the
    // heavy map stage a one-split scan would serialize (guide §2.5)
    val q = Par.widen(emb)
      .select(col(idCol).as("node_id"), col(vecCol).as("__qv"))
    val c = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = q.crossJoin(broadcast(c))
      .filter(col("node_id") =!= col("neighbor_id"))
      .select(col("node_id").as("query_id"), col("neighbor_id"),
        round(VectorFunctions.cosine(col("__qv"), col("__cv")), 6)
          .as("cosine"))
    Similarity.topKPerQuery(scored, k)
      .select(col("query_id").as("node_id"), col("neighbor_id"))
  }

  /** Propagate `labelCol` from the rows satisfying `seedPred` to the
    * rest of `emb` over `iters` rounds of the k-cosine-NN graph.
    * Output: (id, label NULL-able, origin ∈ seed|iter1|…|none).
    */
  def propagate(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      seedPred: org.apache.spark.sql.Column, k: Int, iters: Int): DataFrame = {
    Reserved.check("emb" -> emb)
    // pinned, not per-round persist+count (r20, the ccLoop lesson):
    // the persisted label frames made each round run
    // session-shuffle-width many near-empty tasks per stage
    val edges = knnEdges(emb, idCol, vecCol, k)
      .transform(Par.pin)
    val ids = emb.select(col(idCol).as("id"))
    var labels = emb.filter(seedPred)
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        lit("seed").as("origin"))
    for (t <- 1 to iters) {
      val votes = edges
        .join(labels.select(col("id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .groupBy(col("node_id"), col("label"))
        .agg(count(lit(1)).as("__votes"))
      val w = Window.partitionBy(col("node_id"))
        .orderBy(col("__votes").desc, col("label"))
      val winners = votes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node_id").as("id"), col("label"),
          lit(s"iter$t").as("origin"))
        .join(labels.select(col("id")), Seq("id"), "left_anti")
      labels = labels.unionByName(winners)
        .transform(Par.pin) // bound lineage, free votes, adaptive width
    }
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("origin"), lit("none")).as("origin"))
      .transform(Par.pin)
  }
}

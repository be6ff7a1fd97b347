package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-modal pair alignment: keep (left, right) pairs that are each
  * other's nearest neighbor — the LAION-style mutual-best filter a
  * multimodal corpus runs to keep only image/caption pairs whose
  * embeddings actually agree, dropping mismatched scrapes.
  *
  * Mutual top-1 is deliberately stricter than a one-directional
  * cosine threshold: a caption generically close to MANY images (alt
  * text boilerplate) wins none of its candidates' reverse matches and
  * is dropped, which a threshold filter cannot do.
  *
  * Scale design: the DEFAULT path is [[mutualTop1Blocked]] — one
  * deterministic sampled codebook fitted over the union of both
  * towers, each side assigned to its cell, candidates = same-cell
  * cross pairs, directional top-1 within candidates, mutual join.
  * Nothing larger than the nlist-row codebook is broadcast and the
  * candidate join shuffles on `cell`, so the shape survives
  * corpus×corpus at 1000 executors. [[mutualTop1]] keeps the exact
  * brute kernel ([[Similarity.bruteForceTopK]], query side broadcast
  * and guarded) for bounded eval slices and as the spec's small-n
  * exactness cross-check — the mutual-join semantics are identical,
  * only the candidate generator differs.
  */
object ModalAlign {

  /** (left_id, right_id, cosine): pairs where `right` is `left`'s
    * top-1 neighbor AND `left` is `right`'s top-1, cosine on the
    * engine's 6-dp lattice, ties broken by neighbor id asc (the
    * [[Similarity]] convention, so "top-1" is deterministic).
    * Exact brute-force; refuses unbounded sides via the
    * [[Similarity.bruteForceTopK]] broadcast guard.
    */
  def mutualTop1(
      left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val l2r = Similarity.bruteForceTopK(left, right, idCol, vecCol, k = 1)
      .select(col("query_id").as("left_id"),
        col("neighbor_id").as("right_id"), col("cosine"))
    val r2l = Similarity.bruteForceTopK(right, left, idCol, vecCol, k = 1)
      .select(col("query_id").as("right_id"),
        col("neighbor_id").as("left_id"))
    l2r.join(r2l, Seq("left_id", "right_id"))
  }

  /** The scale path: same mutual-top-1 semantics restricted to the
    * IVF-cell-blocked candidate set. The codebook is the `nlist`
    * smallest-id vectors of left ∪ right (a pure function of the
    * data — oracle-replayable), both sides are assigned against it
    * ([[Similarity.assignCellsTo]]), and "top-1" is exact within a
    * row's same-cell opposite-tower candidates, ties by neighbor id
    * asc. A row whose cell holds no opposite-tower candidate emits
    * nothing — the standard blocked-generator convention.
    *
    * `nlist = 0` (default) derives the codebook size from the UNION
    * count via [[Similarity.derivedNlist]] — a fixed nlist makes the
    * same-cell cross-tower join Θ(n²/nlist) pairs at scale (the
    * cellBlockedTopK scaladoc's argument); deriving pins expected
    * cell population and keeps pairs linear in the corpus. One cheap
    * count job at plan-build time; pass nlist > 0 to skip it.
    */
  def mutualTop1Blocked(
      left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 0): DataFrame = {
    val union = left.select(col(idCol), col(vecCol))
      .unionByName(right.select(col(idCol), col(vecCol)))
    val nl = if (nlist > 0) nlist
      else Similarity.derivedNlist(union.select(col(idCol)).count())
    val centDf = Similarity.sampledCodebook(union, idCol, vecCol, nl)
    val la = Similarity.assignCellsTo(left, idCol, vecCol, centDf)
      .transform(Par.pin)
    val ra = Similarity.assignCellsTo(right, idCol, vecCol, centDf)
      .transform(Par.pin)
    val scored = la
      .select(col("cell"), col("id").as("left_id"), col("cv").as("lv"))
      .join(ra.select(col("cell"), col("id").as("right_id"),
        col("cv").as("rv")), Seq("cell"))
      .select(col("left_id"), col("right_id"),
        round(graft.functions.VectorFunctions
          .cosine(col("lv"), col("rv")), 6).as("cosine"))
      .transform(Par.pin)
    val l2r = Similarity.topKPerQuery(
        scored.select(col("left_id").as("query_id"),
          col("right_id").as("neighbor_id"), col("cosine")), 1)
      .select(col("query_id").as("left_id"),
        col("neighbor_id").as("right_id"), col("cosine"))
    val r2l = Similarity.topKPerQuery(
        scored.select(col("right_id").as("query_id"),
          col("left_id").as("neighbor_id"), col("cosine")), 1)
      .select(col("query_id").as("right_id"),
        col("neighbor_id").as("left_id"))
    l2r.join(r2l, Seq("left_id", "right_id"))
  }
}

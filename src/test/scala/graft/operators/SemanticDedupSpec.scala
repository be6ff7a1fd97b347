package graft.operators

import graft.SparkSuite

import scala.util.Random

/** SemDeDup-style semantic dedup: planted near-centroid clones are
  * dropped, the per-group outlier survives, and the drop verdict is
  * sound (every dropped doc has a surviving dominator at cosine ≥
  * tau in its cell).
  */
class SemanticDedupSpec extends SparkSuite {
  import spark.implicits._

  private def jitter(base: Array[Float], r: Random, eps: Float): Array[Float] =
    base.map(x => x + (r.nextDouble().toFloat - 0.5f) * eps)

  /** Corpus: 16 well-separated axis anchors (ids 0..15 — they become
    * the sampled codebook) plus, around anchor 0, a tight clone pack
    * (ids 100..104) and one genuine outlier (id 105) that still
    * clears tau against the clones' direction.
    */
  private lazy val corpus = {
    val r = new Random(7)
    val dim = 32
    def axis(i: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a(i) = 1.0f; a
    }
    val anchors = (0 until 16).map(i => (i.toLong, axis(i)))
    val clones = (100 to 104).map(i => (i.toLong, jitter(axis(0), r, 0.02f)))
    val outlier = {
      // same cell as the clones but clearly off-center
      val v = axis(0).clone(); v(1) = 0.55f
      Seq((105L, v))
    }
    (anchors ++ clones ++ outlier).toDF("id", "vec")
  }

  test("clone pack collapses to its farthest-from-centroid member") {
    val out = Similarity.semanticDedup(corpus, "id", "vec", tau = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val byId = out.map(t => t._1 -> t).toMap
    // every doc present exactly once
    assert(out.length == corpus.count())
    // the clones + anchor 0 + outlier share cell 0
    val cell0 = out.filter(_._2 == 0L).map(_._1).toSet
    assert(Set(0L, 100L, 101L, 102L, 103L, 104L, 105L).subsetOf(cell0))
    val packIds = Set(0L, 100L, 101L, 102L, 103L, 104L)
    val packSurvivors = packIds.filter(id => !byId(id)._4)
    // the pack is mutually ≥0.9-similar, so exactly one survives...
    assert(packSurvivors.size == 1)
    // ...and it is the member with the MINIMAL centroid cosine
    val minCsim = packIds.map(id => (byId(id)._3, id)).min
    assert(packSurvivors.head == minCsim._2)
    // the outlier is off-center vs every clone it pairs with → kept
    assert(!byId(105L)._4)
  }

  test("drop verdict is sound and deterministic") {
    val a = Similarity.semanticDedup(corpus, "id", "vec", tau = 0.9)
      .collect().map(_.toSeq)
    val b = Similarity.semanticDedup(
        corpus.repartition(7), "id", "vec", tau = 0.9)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq) // partitioning-independent
    // soundness: a dropped doc must have a same-cell dominator at
    // cosine ≥ tau with (csim, id) strictly smaller lexicographically
    val rows = a.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long],
      s(2).asInstanceOf[Double], s(3).asInstanceOf[Boolean]))
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val d = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val nx = math.sqrt(x.map(p => p.toDouble * p.toDouble).sum)
      val ny = math.sqrt(y.map(p => p.toDouble * p.toDouble).sum)
      BigDecimal(d / (nx * ny))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    rows.filter(_._4).foreach { case (id, cell, csim, _) =>
      val dominators = rows.filter { case (oid, ocell, ocsim, _) =>
        oid != id && ocell == cell &&
          cos(vecs(id), vecs(oid)) >= 0.9 &&
          (ocsim < csim || (ocsim == csim && oid < id))
      }
      assert(dominators.nonEmpty, s"doc $id dropped without a dominator")
    }
  }
}

package graft.operators

import graft.SparkSuite

/** Integer-lattice PageRank: structural sanity on known graphs and
  * bit-level determinism under repartitioning.
  */
class PageRankSpec extends SparkSuite {
  import spark.implicits._

  test("cycle graph converges to uniform rank") {
    val n = 8L
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val ranks = PageRank.run(edges, "src", "dst", 20)
      .as[(Long, Long)].collect().toMap
    assert(ranks.size == n)
    // exact symmetry: every node's rank identical on the lattice
    assert(ranks.values.toSet.size == 1)
    // mass ≈ 1e12 (floor division leaks at most a few units per step)
    val total = ranks.values.sum
    assert(total > 999_999_000_000L && total <= 1_000_000_000_000L)
  }

  test("star graph concentrates mass in the hub cycle") {
    // spokes all point at the hub; hub points back at spoke 1. The
    // hub↔spoke1 pair forms a period-2 cycle (rank oscillates between
    // them), so assert the pair dominates rather than their order.
    val edges = ((1L to 9L).map(i => (i, 0L)) :+ (0L, 1L)).toDF("src", "dst")
    val ranks = PageRank.run(edges, "src", "dst", 10)
      .as[(Long, Long)].collect().toMap
    val fringe = (2L to 9L).map(ranks)
    assert(fringe.forall(f => ranks(0L) > 10 * f && ranks(1L) > 10 * f))
    // spokes 2..9 are symmetric: identical lattice ranks, base mass
    // only (they receive no links)
    assert(fringe.toSet.size == 1)
    assert(fringe.head == (1000000000000L * 15L / 100L) / 10L)
  }

  test("bit-identical under repartitioning") {
    val r = new scala.util.Random(5)
    val edges = (0 until 300)
      .map(_ => (r.nextInt(40).toLong, r.nextInt(40).toLong))
      .filter(e => e._1 != e._2).distinct
    val a = PageRank.run(edges.toDF("src", "dst"), "src", "dst", 10)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val b = PageRank.run(edges.toDF("src", "dst").repartition(13),
        "src", "dst", 10)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }
}

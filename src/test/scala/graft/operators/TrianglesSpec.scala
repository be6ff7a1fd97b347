package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

import scala.util.Random

/** Triangles: equivalence with the naive id-ordered triple join on a
  * seeded random graph, canonicalization of messy edge input, and a
  * known clique count.
  */
class TrianglesSpec extends SparkSuite {
  import spark.implicits._

  test("K5 clique has C(5,3)=10 triangles; K3 plus a pendant has 1") {
    val k5 = (for { a <- 0 to 4; b <- 0 to 4 if a < b }
      yield (a.toLong, b.toLong)).toDF("s", "d")
    assert(Triangles.enumerate(k5, "s", "d").count() == 10L)

    val k3p = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)).toDF("s", "d")
    assert(Triangles.enumerate(k3p, "s", "d")
      .as[(Long, Long, Long)].collect().toSeq == Seq((0L, 1L, 2L)))
  }

  test("equals the naive triple join on a seeded random graph") {
    val rnd = new Random(7)
    val edges = (0 until 400)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .toDF("s", "d")
    val e = edges.select(least(col("s"), col("d")).as("u"),
      greatest(col("s"), col("d")).as("v")).distinct()
    val naive = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .join(e.as("e3"), col("e3.u") === col("e1.u") &&
        col("e3.v") === col("e2.v"))
      .select(col("e1.u"), col("e1.v"), col("e2.v"))
      .as[(Long, Long, Long)].collect().toSet
    assert(naive.nonEmpty)
    val got = Triangles.enumerate(edges, "s", "d")
      .as[(Long, Long, Long)].collect()
    assert(got.length == got.toSet.size) // exactly-once per triangle
    assert(got.toSet == naive)
  }

  test("self-loops, duplicates, reversed edges, and nulls canonicalize") {
    val messy = Seq(
      (Some(0L), Some(1L)), (Some(1L), Some(0L)), (Some(0L), Some(1L)),
      (Some(1L), Some(2L)), (Some(0L), Some(2L)),
      (Some(2L), Some(2L)), (None, Some(1L)), (Some(1L), None))
      .toDF("s", "d")
    assert(Triangles.enumerate(messy, "s", "d")
      .as[(Long, Long, Long)].collect().toSeq == Seq((0L, 1L, 2L)))
  }

  test("clustering coefficient: clique 1e6, bridge low, pendants out") {
    // triangle 1-2-3 plus pendant 4 attached to 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val out = Triangles.clusteringCoefficient(edges, "s", "d")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // node 1: deg 3, 1 triangle -> 2*1e6/(3*2) = 333333 (floor)
    assert(out(1L) == ((3L, 1L, 333333L)))
    // nodes 2,3: deg 2, 1 triangle -> full clique locally
    assert(out(2L) == ((2L, 1L, 1000000L)))
    assert(out(3L) == ((2L, 1L, 1000000L)))
    // pendant node 4 has deg 1 -> excluded
    assert(!out.contains(4L))
  }
}

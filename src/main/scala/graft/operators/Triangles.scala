package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle enumeration over an undirected graph —
  * the clustering-coefficient / community-density kernel for the
  * similarity graphs the dedup stack builds (near-dup edges, kNN
  * edges). The naive three-way self-join explodes on high-degree
  * vertices: a degree-d hub contributes d² wedges. The standard fix
  * (Cohen 2009; Suri & Vassilvitskii WWW'11) orients every edge from
  * its lower-(degree, id) endpoint to its higher one — a total order,
  * so each triangle survives as EXACTLY one oriented wedge + closing
  * edge — which bounds every vertex's out-degree by O(√m): wedge
  * generation is Σ outdeg² ≤ O(m^1.5) instead of Σ deg².
  *
  * Plan shape: one shuffle to dedupe the canonical edge set, one
  * node-keyed degree aggregation joined back (node-sized, AQE
  * broadcasts when small), a source-keyed self-join for wedges, and
  * an edge-keyed join for closure. No step is ever doc × doc over
  * the full vertex set.
  */
object Triangles {

  /** All triangles as id-sorted triples `(a, b, c)`, `a < b < c`,
    * one row each. Input edges may be directed, duplicated, or
    * self-looped — they are canonicalized first. Null endpoints are
    * dropped.
    */
  def enumerate(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    enumerateCanonical(canonicalEdges(edges, srcCol, dstCol))

  /** Canonical undirected edge set `(__u < __v)`, deduped, pinned:
    * the edge set feeds the degree aggregation AND the orientation
    * join, and Catalyst plans each consumer as its own full upstream
    * recompute (for a kNN input that means re-scoring the whole
    * similarity graph per reference). The edge-sized [[Par.pin]] caps
    * the input pipeline at ONE execution.
    * Shared by [[enumerate]] / [[clusteringCoefficient]] /
    * [[degreeAssortativity]] so composite graph metrics evaluate the
    * (possibly expensive) edge input exactly once.
    */
  private def canonicalEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    Reserved.check("edges" -> edges)
    edges
      .where(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("__u"),
        greatest(col(srcCol), col(dstCol)).as("__v"))
      .distinct()
      .transform(Par.pin)
  }

  private def enumerateCanonical(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("__u"), col("__v"))).as("__n"))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))

    // Orient low → high in the (degree, id) total order; carry the
    // head's key so wedges can order their two spokes the same way.
    val withDeg = e
      .join(deg.select(col("__n").as("__u"), col("__d").as("__du")), "__u")
      .join(deg.select(col("__n").as("__v"), col("__d").as("__dv")), "__v")
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("__u") < col("__v"))
    // Same reuse story: wedges reference the oriented set twice and
    // the closure join a third time.
    val oriented = withDeg.select(
        when(uFirst, col("__u")).otherwise(col("__v")).as("__s"),
        when(uFirst, col("__v")).otherwise(col("__u")).as("__t"),
        when(uFirst, col("__dv")).otherwise(col("__du")).as("__dt"))
      .transform(Par.pin)

    // Wedges (s; t1, t2) with (d(t1), t1) < (d(t2), t2): the closing
    // edge, if present, is oriented exactly t1 → t2, so one equi-join
    // on the oriented edge set finishes each triangle.
    val w1 = oriented.select(col("__s"), col("__t").as("__t1"),
      col("__dt").as("__dt1"))
    val w2 = oriented.select(col("__s"), col("__t").as("__t2"),
      col("__dt").as("__dt2"))
    val wedges = w1.join(w2, Seq("__s"))
      .where(col("__dt1") < col("__dt2") ||
        (col("__dt1") === col("__dt2") && col("__t1") < col("__t2")))
    val closed = wedges.join(
      oriented.select(col("__s").as("__t1"), col("__t").as("__t2")),
      Seq("__t1", "__t2"))

    closed
      .select(array_sort(array(col("__s"), col("__t1"), col("__t2")))
        .as("__tri"))
      .select(col("__tri")(0).as("a"), col("__tri")(1).as("b"),
        col("__tri")(2).as("c"))
  }

  /** Global triangle count as a 1-row frame `(n_triangles)`. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    enumerate(edges, srcCol, dstCol)
      .agg(count(lit(1)).as("n_triangles"))

  /** Local clustering coefficient per node:
    * `(id, deg, triangles, coeff_ppm)` with
    * coeff = 2·T(v) / (deg(v)·(deg(v)−1)), emitted as integer ppm by
    * floor division (all operands positive — exact in any engine).
    * Nodes of degree < 2 are excluded: their coefficient is
    * undefined (0/0). On a near-dup or kNN graph this is the
    * community-density curation signal — tight cliques (boilerplate
    * families) score 1e6, bridge nodes score low.
    *
    * Cost on top of [[enumerate]]: one explode+aggregate over the
    * (already small) triangle list and a node-keyed degree join.
    */
  def clusteringCoefficient(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // ONE canonical edge set serves both the triangle enumeration and
    // the degree table — previously the raw edge input (a full kNN
    // scoring pass when fed from bruteForceTopK) evaluated twice
    val e = canonicalEdges(edges, srcCol, dstCol)
    val tri = enumerateCanonical(e)
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    val deg = e.select(explode(array(col("__u"), col("__v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg
      .join(triPerNode, Seq("id"), "left")
      .withColumn("triangles",
        coalesce(col("triangles"), lit(0L)))
      .filter(col("deg") >= 2)
      .select(col("id"), col("deg"), col("triangles"),
        expr("(2 * triangles * 1000000) div (deg * (deg - 1))")
          .as("coeff_ppm"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over all edges, both directions — "do
    * well-connected nodes link to each other?" On a near-dup graph,
    * strong positive r means duplicate families clump into dense
    * cores (one canonical survives per community); negative r means
    * hub-and-spoke boilerplate (one template linked by many
    * singletons). Output: one row `(n_edges, r)`, r at 6 dp.
    *
    * Determinism: degrees are exact integers, the five sufficient
    * statistics accumulate in DECIMAL(38) (order-free), and the
    * final combine is one written IEEE sequence — the q_correlation
    * policy. Scale: canonical-edge dedup shuffle, node-keyed degree
    * aggregation joined back edge-keyed (AQE broadcasts the
    * node-sized side when small), ONE aggregation to the single
    * output row. Degenerate graphs (zero degree variance, e.g. a
    * perfect cycle or clique) yield a non-finite r (0/0) — callers
    * filter on `isnan` if regular graphs are expected.
    */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = e.select(explode(array(col("__u"), col("__v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val pairs = e.select(col("__u").as("u"), col("__v").as("v"))
      .union(e.select(col("__v").as("u"), col("__u").as("v")))
    val dp = pairs
      .join(deg.withColumnRenamed("id", "u")
        .withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v")
        .withColumnRenamed("deg", "dv"), "v")
    val stats = dp.agg(
      count(lit(1)).as("m"),
      sum(col("du")).as("__sx"), sum(col("dv")).as("__sy"),
      sum(col("du").cast(d38) * col("dv").cast(d38)).as("__sxy"),
      sum(col("du").cast(d38) * col("du").cast(d38)).as("__sxx"),
      sum(col("dv").cast(d38) * col("dv").cast(d38)).as("__syy"))
    val mD = col("m").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    stats.select(
      (col("m") / 2).cast("long").as("n_edges"),
      round((mD * col("__sxy").cast("double") - sx * sy) /
        sqrt((mD * col("__sxx").cast("double") - sx * sx) *
          (mD * col("__syy").cast("double") - sy * sy)), 6).as("r"))
  }
}

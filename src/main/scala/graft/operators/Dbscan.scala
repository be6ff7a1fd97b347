package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN — Ester, Kriegel, Sander & Xu
  * 1996) decomposed the way a 100-TB engine has to run it: the
  * ε-neighborhood graph comes in as a PAIR LIST from whatever
  * candidate generator fits the scale (exact pair join on a small
  * eval slice; IVF-cell or LSH-bucket blocking at corpus scale —
  * the same pluggable-candidates seam as
  * [[LabelPropagation]]), and this operator owns only the clustering
  * SEMANTICS over it:
  *
  *  - core points: degree ≥ minPts in the (symmetrized) pair list;
  *  - clusters: connected components of the core-core subgraph
  *    ([[Dedup.connectedComponents]] min-label propagation — labels
  *    are component-minimum core ids, deterministic);
  *  - border points: non-core with ≥ 1 core neighbor, assigned the
  *    MINIMUM core-neighbor label (classic DBSCAN is
  *    order-dependent here — first-reached cluster wins; the min
  *    convention makes the assignment a pure function of the graph);
  *  - noise: everything else, label −1.
  *
  * Every step is a node-keyed aggregation or join over the pair
  * list; the universe is touched once for the noise anti-join.
  */
object Dbscan {

  /** (id, label, is_core) for EVERY row of `universe` — noise keeps
    * label −1. `pairs` are undirected ε-similarity pairs (already
    * thresholded by the candidate generator); self-pairs and
    * duplicates are canonicalized away. Degree counts distinct
    * neighbors, excluding self — `minPts` is therefore the classic
    * DBSCAN minPts − 1 (the point itself is not counted; document
    * the convention at call sites).
    */
  def cluster(
      universe: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts: $minPts")
    Reserved.check("universe" -> universe, "pairs" -> pairs)
    // ids are cast to long for the label lattice below; a non-numeric
    // id would cast to NULL and silently degrade every row to noise
    // (−1), so refuse up front (the kendallTauB/theilSen policy).
    Seq(universe.schema(idCol).dataType,
        pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
      .zip(Seq(idCol, aCol, bCol)).foreach {
        case (org.apache.spark.sql.types.ByteType, _) => ()
        case (org.apache.spark.sql.types.ShortType, _) => ()
        case (org.apache.spark.sql.types.IntegerType, _) => ()
        case (org.apache.spark.sql.types.LongType, _) => ()
        case (dt, c) => throw new IllegalArgumentException(
          s"Dbscan.cluster: id column '$c' is $dt; integral ids are " +
            "required — a non-numeric id casts to NULL and every row " +
            "would silently become noise")
      }
    val e = pairs
      .where(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("__u"),
        greatest(col(aCol), col(bCol)).as("__v"))
      .distinct()
      .transform(Par.pin)
    val und = e.union(e.select(col("__v").as("__u"), col("__u").as("__v")))
    val deg = und.groupBy(col("__u").as("__id"))
      .agg(count(lit(1)).as("__d"))
    val cores = deg.filter(col("__d") >= minPts).select(col("__id"))
      .transform(Par.pin)
    val coreEdges = e
      .join(cores.withColumnRenamed("__id", "__u"), Seq("__u"), "left_semi")
      .join(cores.withColumnRenamed("__id", "__v"), Seq("__v"), "left_semi")
    val comp = Dedup.connectedComponents(
      coreEdges.select(col("__u").as("id_a"), col("__v").as("id_b")))
    // isolated cores (no core neighbor) form singleton clusters
    val coreLabels = cores.select(col("__id").cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .transform(Par.pin)
    val borderLabels = und
      .join(coreLabels.withColumnRenamed("id", "__v"), Seq("__v"))
      .select(col("__u").cast("long").as("id"), col("label"))
      .join(coreLabels.select(col("id")), Seq("id"), "left_anti")
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    val clustered = coreLabels.select(col("id"), col("label"),
        lit(true).as("is_core"))
      .union(borderLabels.select(col("id"), col("label"),
        lit(false).as("is_core")))
    universe.select(col(idCol).cast("long").as("id"))
      .join(clustered, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), lit(-1L)).as("label"),
        coalesce(col("is_core"), lit(false)).as("is_core"))
  }
}

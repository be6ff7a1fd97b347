package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline): rows not dominated under
  * (maximize `xCol`, minimize `yCol`) — the curation trade-off query
  * ("which docs are on the length-vs-token-cost frontier?", "which
  * configs are on the quality-vs-latency frontier?").
  *
  * Row r is dominated iff some row has (x' ≥ x, y' ≤ y) with at
  * least one strict inequality; equal (x, y) pairs do not dominate
  * each other and all surface together.
  *
  * Algorithm — NO all-pairs comparison (the naive skyline is a
  * self-join that dies quadratically at corpus scale):
  *  1. per-x minimum of y — one map-side-combined aggregation that
  *     collapses the corpus to |distinct x| rows;
  *  2. over that collapsed table, the running min of y for all
  *     STRICTLY larger x (one window sorted by x desc) — frontier
  *     x-values are those whose own min-y beats it;
  *  3. semi-join the frontier (x, min-y) pairs back to the corpus —
  *     broadcast-sized, because a 2-D frontier has at most |distinct
  *     x| points and typically far fewer.
  * The corpus is scanned twice (collapse + final semi-join) and never
  * reshuffled. The step-2 window runs over the COLLAPSED table; if
  * even distinct-x outgrows one task, the running min decomposes by
  * the sharded two-pass prefix scan (the GlobalIds/SequencePacking
  * pattern) without changing the result.
  */
object Skyline {

  /** Rows of `df` on the (max xCol, min yCol) frontier, with their
    * x and y. Ties on (x, y) all survive.
    */
  def frontier(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    Reserved.check("frontier" -> df)
    val perX = df.groupBy(col(xCol)).agg(min(col(yCol)).as("__miny"))
    // min y over strictly-larger x: order x desc, frame = preceding
    // rows only (strict: rowsBetween excludes current; equal x values
    // are collapsed already, so "preceding" = strictly larger x).
    // Partition-less but DISTINCT-X-sized (the groupBy above), never
    // row-sized: callers pass bounded score/length lattices (r20
    // window audit; a continuous-x caller should pre-bucket x)
    val w = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = perX
      .withColumn("__best", min(col("__miny")).over(w))
      // keep x iff nothing strictly larger reaches as low a y
      .filter(col("__best").isNull || col("__miny") < col("__best"))
      // fresh names: `front` descends from `df`, so joining back on
      // the original column would be an ambiguous self-join
      .select(col(xCol).as("__fx"), col("__miny"))
    df.join(broadcast(front),
        df(xCol) === col("__fx") && df(yCol) === col("__miny"))
      .select(df.columns.toIndexedSeq.map(df(_)): _*)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of grouped aggregates — the materialized-
  * view pattern: a 100-TB corpus's per-source statistics should cost
  * one pass ONCE, after which each ingest batch updates the state by
  * aggregating only the batch and merging partials, never rescanning
  * history.
  *
  * Works for the algebraic aggregates whose partials compose:
  * count/sum merge by +, min/max by min/max, and avg derives from
  * (sum, count) at read time. The merge is a full outer join on the
  * group key — state-sized, not corpus-sized — followed by
  * null-safe combination, so a group new to the batch or absent
  * from it passes through unchanged. `AggMaintenanceSpec` pins the
  * algebra: state ⊕ delta ≡ recompute over (history ∪ batch), and
  * `q_agg_merge` hash-checks the same equivalence relationally.
  *
  * Non-algebraic statistics (distinct counts, quantiles) need
  * mergeable sketches instead — the engine's HLL/count-min surface
  * (SketchSpec) covers those; this operator stays exact.
  */
object AggMaintenance {

  /** One partial-aggregate pass over `df`: per `keys`, emits
    * `<c>_cnt`, `<c>_sum`, `<c>_min`, `<c>_max` for every column in
    * `valueCols` (sum in double; count counts non-null values).
    */
  def partials(
      df: DataFrame, keys: Seq[String], valueCols: Seq[String]): DataFrame = {
    val aggs = valueCols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_cnt"),
        sum(col(c).cast("double")).as(s"${c}_sum"),
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two partial-aggregate states (both shaped by [[partials]]
    * over the same keys/valueCols). Null-safe: groups present in only
    * one side pass through.
    */
  def merge(
      state: DataFrame, delta: DataFrame,
      keys: Seq[String], valueCols: Seq[String]): DataFrame = {
    val s = valueCols.foldLeft(state) { (d, c) =>
      Seq("cnt", "sum", "min", "max").foldLeft(d) { (dd, suff) =>
        dd.withColumnRenamed(s"${c}_$suff", s"${c}_${suff}_l")
      }
    }
    val t = valueCols.foldLeft(delta) { (d, c) =>
      Seq("cnt", "sum", "min", "max").foldLeft(d) { (dd, suff) =>
        dd.withColumnRenamed(s"${c}_$suff", s"${c}_${suff}_r")
      }
    }
    val merged = valueCols.flatMap { c =>
      Seq(
        (coalesce(col(s"${c}_cnt_l"), lit(0L))
          + coalesce(col(s"${c}_cnt_r"), lit(0L))).as(s"${c}_cnt"),
        when(col(s"${c}_sum_l").isNull, col(s"${c}_sum_r"))
          .when(col(s"${c}_sum_r").isNull, col(s"${c}_sum_l"))
          .otherwise(col(s"${c}_sum_l") + col(s"${c}_sum_r"))
          .as(s"${c}_sum"),
        least(col(s"${c}_min_l"), col(s"${c}_min_r")).as(s"${c}_min"),
        greatest(col(s"${c}_max_l"), col(s"${c}_max_r")).as(s"${c}_max"))
    }
    s.join(t, keys, "full_outer")
      .select(keys.map(col) ++ merged: _*)
  }
}

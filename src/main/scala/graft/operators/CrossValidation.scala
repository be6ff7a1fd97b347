package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Repeated stratified k-fold cross-validation — the intent behind
  * the reference's `createMultiFolds(labels, k=10, times=3)` +
  * `trainControl(method="repeatedcv")` (`Week5_datingNLP.R:158-166`,
  * SURVEY §2.8 M2; the reference never wires it to a trainer — §8 Q1
  * — so this is the honored intent, not replicated dead code). Only
  * the fold assignment lives here, and `q_cv_folds` pins
  * [[exactFolds]]: the reference trains nothing on its folds.
  *
  * Two fold-assignment strategies:
  *
  *  - [[exactFolds]] — caret semantics: per (repeat, label), rows are
  *    dealt round-robin in a deterministic shuffled order, so every
  *    fold's per-class count differs by at most 1 from any other's.
  *    The shuffle key is a rep-salted md5 of the row id (the
  *    [[CorpusMixing.hashFraction]] cross-engine draw family), so the
  *    assignment is a pure function of (id, rep) — replayable in any
  *    engine, independent of partitioning. The dealing window
  *    partitions on (rep, label): sort parallelism is rep×label, so
  *    this is for model-selection-sized inputs (what CV is for), not
  *    the full corpus.
  *  - [[hashFolds]] — the corpus-scale path: fold = a row-local hash
  *    bucket of (id, rep). No exchange at all; per-class balance is
  *    only statistical (±O(√n)), which is what a 100-TB validation
  *    split actually needs.
  */
object CrossValidation {

  /** One row per (input row, rep): adds `rep` (1..times) and `fold`
    * (1..k). Exact per-(rep, label) round-robin dealing in md5-draw
    * order — every fold's class count differs by ≤1 within a rep.
    */
  def exactFolds(
      df: DataFrame, labelCol: String, idCol: String,
      k: Int, times: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(times >= 1, s"times must be >= 1: $times")
    Reserved.check("exactFolds" -> df)
    val reps = df.withColumn("rep",
      explode(sequence(lit(1), lit(times))))
    val draw = md5(concat(col(idCol).cast("string"), lit(":"),
      col("rep").cast("string")))
    val dealt = Window
      .partitionBy(col("rep"), col(labelCol))
      .orderBy(draw, col(idCol))
    reps.withColumn("fold",
      (pmod(row_number().over(dealt) - 1, lit(k)) + 1).cast("int"))
  }

  /** Shuffle-free fold assignment: fold = md5-hash bucket of
    * (id, rep). Statistically stratified only — the scale path.
    */
  def hashFolds(
      df: DataFrame, idCol: String, k: Int, times: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(times >= 1, s"times must be >= 1: $times")
    Reserved.check("hashFolds" -> df)
    df.withColumn("rep", explode(sequence(lit(1), lit(times))))
      .withColumn("fold",
        (floor(CorpusMixing.hashFraction(
          concat(col(idCol).cast("string"), lit("#"),
            col("rep").cast("string"))) * k) + 1).cast("int"))
  }
}

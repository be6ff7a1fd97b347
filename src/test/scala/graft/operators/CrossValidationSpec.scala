package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class CrossValidationSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = (1L to 100L).map { i =>
    (i, if (i % 3 == 0) "a" else "b")
  }.toDF("id", "label")

  test("exactFolds deals every class ±1 evenly across folds") {
    val folds = CrossValidation.exactFolds(corpus, "label", "id",
      k = 4, times = 2)
    assert(folds.count() === 200) // one assignment per (row, rep)
    val counts = folds.groupBy("rep", "label", "fold").count()
      .groupBy("rep", "label")
      .agg((max("count") - min("count")).as("spread"))
      .collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(2) <= 1))
  }

  test("exactFolds is deterministic and partitioning-independent") {
    val a = CrossValidation.exactFolds(corpus, "label", "id", 5, 2)
      .select("id", "rep", "fold").collect().toSet
    val b = CrossValidation.exactFolds(corpus.repartition(7), "label",
      "id", 5, 2).select("id", "rep", "fold").collect().toSet
    assert(a === b)
  }

  test("hashFolds stays in range with no exchange") {
    val folds = CrossValidation.hashFolds(corpus, "id", k = 4, times = 3)
    val range = folds.agg(min("fold"), max("fold")).collect()(0)
    assert(range.getInt(0) >= 1 && range.getInt(1) <= 4)
    assert(folds.count() === 300)
    val plan = folds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "hashFolds must be row-local")
  }
}

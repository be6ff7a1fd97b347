package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class AnomalousCountsSpec extends SparkSuite {
  import spark.implicits._

  // 9 calm hours of 10 events + one 100-event spike hour for key "a";
  // key "b" flat. Timestamps at hour h = epoch 3600*h seconds.
  private def events = {
    val calm = for (h <- 0 until 9; _ <- 0 until 10)
      yield ("a", h.toLong * 3600)
    val spike = (0 until 100).map(_ => ("a", 9L * 3600))
    val flat = for (h <- 0 until 10; _ <- 0 until 7)
      yield ("b", h.toLong * 3600)
    (calm ++ spike ++ flat).toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
  }

  test("flags exactly the spike hour, labeled high") {
    val out = TimeSeries.anomalousCounts(events, "k", "ts", z = 2)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "a" && r.getLong(1) === 9L * 3600 &&
      r.getLong(2) === 100L && r.getString(3) === "high")
  }

  test("a drop below the mean is labeled low") {
    val drop = ((for (h <- 0 until 9; _ <- 0 until 50)
      yield ("a", h.toLong * 3600)) ++ Seq(("a", 9L * 3600)))
      .toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
    val out = TimeSeries.anomalousCounts(drop, "k", "ts", z = 2)
      .collect()
    assert(out.length === 1 && out.head.getString(3) === "low")
  }

  test("integer z-test is partitioning-invariant") {
    val a = TimeSeries
      .anomalousCounts(events.repartition(1), "k", "ts", 2)
      .orderBy("k", "hour_start").collect().toSeq
    val b = TimeSeries
      .anomalousCounts(events.repartition(13), "k", "ts", 2)
      .orderBy("k", "hour_start").collect().toSeq
    assert(a === b)
  }
}

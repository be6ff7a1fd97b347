package graft.streaming

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._

/** windowTypeTopK: the streamed windowed counts plus the stateless
  * rank projection equal the hand-computed per-hour board.
  */
class WindowTopKSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  private def writeEvents(rows: Seq[(Long, String, Double)]): String = {
    val dir = tempDir("graft_topk_spec").toString
    rows.toDF("us", "event_type", "value")
      .select((col("us") * 1000L).as("ts"), col("event_type"),
        col("value"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("top-k per hourly window, ties on event_type ascending") {
    val h0 = 1704067200000000L // 2024-01-01T00:00:00Z µs
    val h1 = h0 + 3600000000L
    val dir = writeEvents(
      // hour 0: click×3, view×2, error×2 → top-2 = click, error (tie
      // view/error broken alphabetically: error < view)
      Seq.fill(3)((h0 + 1000000L, "click", 1.0)) ++
        Seq.fill(2)((h0 + 2000000L, "view", 1.0)) ++
        Seq.fill(2)((h0 + 3000000L, "error", 1.0)) ++
        // hour 1: view×4, click×1
        Seq.fill(4)((h1 + 1000000L, "view", 1.0)) :+
        ((h1 + 2000000L, "click", 1.0)))
    val out = StreamingOps.windowTypeTopK(spark, dir, k = 2)
      .orderBy("hour_start", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val e0 = h0 / 1000000L
    val e1 = h1 / 1000000L
    assert(out.toSeq === Seq(
      (e0, 1, "click", 3L), (e0, 2, "error", 2L),
      (e1, 1, "view", 4L), (e1, 2, "click", 1L)))
  }
}

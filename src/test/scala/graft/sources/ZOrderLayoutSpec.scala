package graft.sources

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._

/** Z-order layout: the Morton expression matches a reference bit
  * loop, and the written layout actually clusters BOTH dimensions —
  * per-file min/max ranges are narrow on each key, where a
  * single-column sort leaves the second key spanning its full domain
  * in every file (no skipping possible).
  */
class ZOrderLayoutSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  private def mortonRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
    }

  test("zValue matches the reference Morton interleave") {
    val rows = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    val out = rows.toDF("a", "b")
      .select($"a", $"b", ZOrderLayout.zValue($"a", $"b", 5).as("z"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(2) == mortonRef(r.getLong(0), r.getLong(1), 5))
    }
    // the curve is a bijection on the 10-bit square
    assert(out.map(_.getLong(2)).distinct.length == rows.length)
  }

  test("sql twin agrees with the column expression") {
    val rows = (0L until 256L).map(i => (i % 16, i / 16))
    rows.toDF("a", "b").createOrReplaceTempView("zt")
    val viaSql = spark.sql(
        s"SELECT ${ZOrderLayout.zValueSql("a", "b", 4)
          .replace("//", " div ")} AS z FROM zt ORDER BY z")
      .as[Long].collect()
    val viaCol = rows.toDF("a", "b")
      .select(ZOrderLayout.zValue($"a", $"b", 4).as("z"))
      .orderBy("z").as[Long].collect()
    assert(viaSql.toSeq == viaCol.toSeq)
  }

  test("z-ordered files are narrow on BOTH dimensions; sorted files are not") {
    // 64×64 dense grid, shuffled
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val df = scala.util.Random.shuffle(grid).toDF("a", "b")
    val nFiles = 16

    def perFileSpan(dir: String): (Double, Double) = {
      val spans = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
        .select(avg("sa"), avg("sb")).as[(Double, Double)].head()
      spans
    }

    val zDir = tempDir("zord").toString
    ZOrderLayout.writeZOrdered(df, $"a", $"b", 6, nFiles, zDir)
    val (za, zb) = perFileSpan(zDir)

    val sDir = tempDir("sorted").toString
    df.repartitionByRange(nFiles, $"a").sortWithinPartitions($"a")
      .write.mode("overwrite").parquet(sDir)
    val (sa, sb) = perFileSpan(sDir)

    // 16 files over a 64×64 grid: z-order gives ~16×16 rectangles
    // (span ≈ 15-31 per dim); a-sort gives span(a) ≈ 4 but span(b) =
    // the full 63 in every file.
    assert(za < 32 && zb < 32,
      s"z-order files span too much: a=$za b=$zb")
    assert(sb > 55, s"control broken: a-sorted files should span b, got $sb")
    assert(zb < sb / 1.8,
      s"z-order should at least halve the b span vs a-sort ($zb vs $sb)")

    // round-trip: layout must not lose or duplicate rows
    assert(spark.read.parquet(zDir).count() == grid.length)
    assert(spark.read.parquet(zDir).select("a", "b").distinct().count()
      == grid.length)
  }
}

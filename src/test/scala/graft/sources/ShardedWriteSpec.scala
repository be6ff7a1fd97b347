package graft.sources

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._

/** The training-shard sink's contract: every shard respects the row
  * bound, shards cover disjoint id ranges (the clustering a
  * sequential dataloader relies on), the manifest accounts for every
  * row, and the data round-trips exactly.
  */
class ShardedWriteSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  test("row bound, disjoint id ranges, complete manifest, round-trip") {
    val dir = tempDir("shards").toString
    val df = spark.range(0, 1000)
      .select($"id", concat(lit("doc"), $"id").as("text"))
    val manifest = ShardedWrite
      .writeSharded(df, dir, "id", rowsPerShard = 100, targetTasks = 4)
      .orderBy("min_id")
      .as[(String, Long, Long, Long)].collect()

    assert(manifest.nonEmpty)
    assert(manifest.forall(_._2 <= 100), "a shard exceeds rowsPerShard")
    assert(manifest.map(_._2).sum == 1000L, "manifest must cover every row")
    // disjoint, ordered id ranges: each shard's min exceeds the
    // previous shard's max
    manifest.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3,
        s"overlapping shards: ${a._1} [${a._3},${a._4}] vs ${b._1} [${b._3},${b._4}]")
      case _ =>
    }
    // round-trip: the data dir re-reads to exactly the input
    val back = spark.read.parquet(s"$dir/data")
      .as[(Long, String)].collect().toSet
    val orig = df.as[(Long, String)].collect().toSet
    assert(back == orig)
    // manifest is invisible to data readers (underscore prefix)
    assert(spark.read.parquet(s"$dir/data").count() == 1000L)
  }

  test("overwrite is idempotent") {
    val dir = tempDir("shards2").toString
    val df = spark.range(0, 200).select($"id", ($"id" % 7).as("v"))
    val m1 = ShardedWrite.writeSharded(df, dir, "id", 50, targetTasks = 2)
      .as[(String, Long, Long, Long)].collect().map(t => (t._2, t._3, t._4)).toSet
    val m2 = ShardedWrite.writeSharded(df, dir, "id", 50, targetTasks = 2)
      .as[(String, Long, Long, Long)].collect().map(t => (t._2, t._3, t._4)).toSet
    assert(m1 == m2, "same data, same shard shapes")
  }
}

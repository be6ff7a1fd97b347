package graft.sources

import graft.{SparkSuite, Tables, TempDirs}
import org.apache.spark.sql.functions._

/** Partition-pruning demonstration: documents written
  * hive-partitioned by lang, read back with a lang filter — the scan
  * must prune partitions (PartitionFilters), not read-and-filter.
  * This is the layout a 100 TB corpus would use for
  * routing/per-language processing.
  */
class PartitionedSourceSpec extends SparkSuite with TempDirs {

  test("lang-partitioned parquet prunes partitions on read") {
    val dir = tempDir("graft_part").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)

    val en = spark.read.parquet(dir).filter(col("lang") === "en")
    val scan = en.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filters in:\n$scan")
    assert(en.count() ==
      docs.filter(col("lang") === "en").count())

    // pruned scan lists only the en partition directory
    val files = en.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(!files.contains("lang=fr") || files.contains("lang=en"))
  }

  test("bucketed write co-locates join keys (bucket pruning metadata)") {
    val dir = tempDir("graft_bucket").toString
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite")
      .bucketBy(4, "doc_id").sortBy("doc_id")
      .option("path", dir)
      .saveAsTable("graft_docs_bucketed")
    val t = spark.table("graft_docs_bucketed")
    // self-join on the bucket key must NOT shuffle either side
    val joined = t.as("a").join(t.as("b"), "doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed self-join should not shuffle:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_docs_bucketed")
  }
}

package graft.sources

import graft.{SparkSuite, TempDirs}
import graft.operators.StorageLayout
import org.apache.spark.sql.functions._

/** Bucketed co-located joins (operators/StorageLayout — the single
  * bucketing implementation, also driven end-to-end by
  * q_bucketed_join): same-count bucketed+sorted tables must join
  * WITHOUT a shuffle exchange, produce exactly the plain join's
  * rows, and the non-bucketed control must show the exchanges the
  * bucketed plan elides.
  */
class BucketedTablesSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  private def withSmjOnly[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("same-bucket-count join plans no exchange; control does") {
    val root = tempDir("buckets").toString
    val orders = (0 until 400)
      .map(i => (i.toLong, i.toLong % 50, i * 10.0))
      .toDF("o_id", "cust", "price")
    val custs = (0 until 50)
      .map(i => (i.toLong, s"c$i"))
      .toDF("c_id", "name")
    StorageLayout.writeBucketed(orders, "b_orders", s"$root/o", "cust", 8)
    StorageLayout.writeBucketed(custs, "b_custs", s"$root/c", "c_id", 8)
    withSmjOnly {
      val joined = spark.table("b_orders").join(spark.table("b_custs"),
        col("cust") === col("c_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // control: the same join over plain parquet shuffles both sides
      orders.write.mode("overwrite").parquet(s"$root/po")
      custs.write.mode("overwrite").parquet(s"$root/pc")
      val control = spark.read.parquet(s"$root/po").as("o")
        .join(spark.read.parquet(s"$root/pc").as("c"),
          col("o.cust") === col("c.c_id"))
      assert(control.queryExecution.executedPlan.toString.contains("Exchange"),
        "control join should shuffle — otherwise the assertion above is vacuous")
      // correctness: bucketed result == plain join result
      val a = joined.select("o_id", "c_id").as[(Long, Long)].collect().toSet
      val b = control.select("o_id", "c_id").as[(Long, Long)].collect().toSet
      assert(a == b && a.size == 400)
    }
  }

  test("aggregation on the bucket key also skips the exchange") {
    if (!spark.catalog.tableExists("b_orders")) {
      val root = tempDir("buckets3").toString
      val orders = (0 until 400)
        .map(i => (i.toLong, i.toLong % 50, i * 10.0))
        .toDF("o_id", "cust", "price")
      StorageLayout.writeBucketed(orders, "b_orders", s"$root/o", "cust", 8)
    }
    withSmjOnly {
      val agg = spark.table("b_orders")
        .groupBy("cust").agg(sum("price").as("s"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket-keyed aggregation must reuse the bucketing:\n$plan")
      assert(agg.count() == 50)
    }
  }
}

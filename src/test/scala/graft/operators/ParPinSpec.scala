package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSuite

/** `Par.pin` semantics, job-counted with a listener: one job for a
  * fresh frame, none for a frame that is already a checkpointed leaf,
  * and a real materialization for an RDD-backed frame that merely
  * LOOKS like a leaf (a `createDataFrame(rdd, schema)` plan is a
  * `LogicalRDD` too, but one that still reads its source).
  */
class ParPinSpec extends SparkSuite {

  /** (result, jobs started while computing it). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerDrain.waitUntilEmpty(sc, 30000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain.waitUntilEmpty(sc, 30000L)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def isCheckpointedLeaf(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  test("pinning a fresh aggregate runs one job; pinning it again runs " +
      "none and returns the same frame") {
    // one input split: the aggregate plans without an exchange, so
    // its materialization is exactly one job
    val agg = spark.range(0L, 1000L, 1L, 1)
      .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
    val (pinned, first) = jobsOf(Par.pin(agg))
    assert(first == 1, s"$first jobs")
    assert(isCheckpointedLeaf(pinned))
    val (again, second) = jobsOf(Par.pin(pinned))
    assert(second == 0, s"$second jobs")
    assert(again eq pinned)
    assert(again.collect().toSeq == Seq(Row(499500L, 1000L)))
  }

  test("an RDD-backed createDataFrame frame is still materialized") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val rdd = spark.sparkContext.parallelize(0L until 50L, 4).map(Row(_))
    val frame = spark.createDataFrame(rdd, schema)
    assert(frame.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    assert(!isCheckpointedLeaf(frame))
    val (pinned, jobs) = jobsOf(Par.pin(frame))
    assert(jobs == 1, s"$jobs jobs")
    assert(!(pinned eq frame))
    assert(isCheckpointedLeaf(pinned))
    assert(pinned.count() == 50L)
  }

  test("withTempStore keeps every row of an RDD-backed frame that " +
      "reads its temp dir") {
    var store = ""
    val schema = StructType(Seq(StructField("line", StringType)))
    val out = Par.withTempStore("graft_pin_t") { root =>
      store = root
      val lines = (0 until 40).map(i => s"row-$i")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "part.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
      spark.createDataFrame(
        spark.sparkContext.textFile(root).map(Row(_)), schema)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store)),
      "the store must be gone")
    assert(out.orderBy(col("line")).collect().map(_.getString(0)).toSeq ==
      (0 until 40).map(i => s"row-$i").sorted)
  }
}

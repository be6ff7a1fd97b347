package graft.operators

import graft.{SparkSuite, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** The stubbed decoder's REAL contract: batch shape and output
  * schema (the stub is a deterministic fake; the plumbing is
  * production-shaped — see Multimodal scaladoc).
  */
class MultimodalSpec extends SparkSuite {

  private def payloads() =
    Multimodal.withPayload(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")

  test("decodeMeta tolerates null payloads") {
    val withNull = payloads().limit(3)
      .withColumn("payload",
        when(col("id") === 0L, lit(null).cast("binary"))
          .otherwise(col("payload")))
    val meta = Multimodal.decodeMeta(withNull).collect()
    assert(meta.length == 3)
    assert(meta.find(_.getLong(0) == 0L).get.getLong(1) == 0L,
      "null payload decodes as zero-length")
  }
}

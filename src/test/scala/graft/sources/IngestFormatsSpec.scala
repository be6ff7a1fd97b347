package graft.sources

import graft.{SparkSuite, Tables, TempDirs}
import org.apache.spark.sql.DataFrame

/** Ingest round-trips beyond parquet/CSV: write the documents table to
  * ORC and JSON (the two built-in formats the container ships — no
  * spark-avro datasource jar under /opt/spark/jars), re-read each, and
  * re-run the flagship top-words aggregation over the re-read frame.
  * Byte-identical aggregates prove the format path preserves values
  * (including multi-line essay text with embedded quotes/newlines —
  * the JSON writer must escape what the CSV path needed multiLine
  * options for).
  */
class IngestFormatsSpec extends SparkSuite with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"

  private def topWords(docs: DataFrame): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions._
    docs
      .select(explode(graft.functions.TextFunctions.splitWords(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("word")).limit(50)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  test("ORC and JSON round-trip the documents table exactly") {
    val docs = Tables.documents(spark, sfDir)
    val expectedCount = docs.count()
    val expectedTop = topWords(docs)

    val base = tempDir("graft_ingest").toString
    docs.write.mode("overwrite").orc(s"$base/docs_orc")
    docs.write.mode("overwrite").json(s"$base/docs_json")

    val orc = spark.read.orc(s"$base/docs_orc")
    assert(orc.schema == docs.schema, "ORC must preserve the schema as-is")
    assert(orc.count() == expectedCount)
    assert(topWords(orc) == expectedTop)

    // JSON is schemaless on disk — supply the schema on read (inference
    // would widen int64s and reorder fields) and realign columns.
    val json = spark.read.schema(docs.schema).json(s"$base/docs_json")
      .select(docs.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(json.count() == expectedCount)
    assert(topWords(json) == expectedTop)
  }
}

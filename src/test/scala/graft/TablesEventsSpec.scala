package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.TimestampType

/** `Tables.events` reads both `ts` flavors the testdata generator has
  * shipped, and leaves `nanosAsLong` on the session only for the
  * nanos flavor, whose scan needs it when it executes.
  */
class TablesEventsSpec extends SparkSuite with TempDirs {

  private val key = "spark.sql.legacy.parquet.nanosAsLong"

  /** Run `body` with `key` unset, then restore the session's value. */
  private def withKeyUnset[A](body: => A): A = {
    // getOption would report the default for an unset key
    val saved = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("Tables.events and q_transitions leave the session conf " +
      "unchanged on µs testdata") {
    val dir = "/root/testdata/sf0.001"
    assume(Files.exists(Paths.get(s"$dir/events.parquet")), "no testdata")
    withKeyUnset {
      val before = spark.conf.getAll
      val events = Tables.events(spark, dir)
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.count() > 0L)
      assert(SparkEntry.queries("q_transitions")(spark, dir).count() > 0L)
      assert(spark.conf.getAll === before)
    }
  }

  test("a TIMESTAMP(NANOS) events file reads as floored µs timestamps") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("graft_nanos_spec")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 user_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1700000000123456789L, 1700000000000000999L,
      1700000000999999000L)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try nanos.zipWithIndex.foreach { case (n, i) =>
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("user_id", i.toLong).append("ts", n))
    } finally writer.close()
    withKeyUnset {
      val events = Tables.events(spark, dir.toString)
      assert(events.schema("ts").dataType == TimestampType)
      val micros = events.orderBy(col("user_id"))
        .select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).toSeq
      assert(micros == nanos.map(_ / 1000L))
      assert(spark.conf.get(key) == "true",
        "the nanos scan needs the conf when it executes")
    }
  }
}

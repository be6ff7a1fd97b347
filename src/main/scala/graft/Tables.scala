package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet testdata (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def documents(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "documents")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "customer")
  /** The events table's `ts` column has shipped in different parquet
    * flavors across testdata generations — TIMESTAMP(NANOS) (which
    * Spark rejects by default; read nanos as long and floor to µs with
    * integer division — double division would lose precision above
    * 2^53) and plain µs TIMESTAMP (sometimes NTZ). Normalize all of
    * them to session-zone µs TimestampType so every downstream query
    * and its DuckDB oracle (which truncates to µs identically) see the
    * same values regardless of the generator's choice.
    *
    * The schema is read with `nanosAsLong` scoped to the read. Only
    * the nanos flavor (`ts` arrives as `LongType`) leaves it set on
    * the session: the scan reads the conf again when it executes, so
    * restoring it here would break every later action on the frame.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val raw = graft.operators.Par.withConf(spark, nanos -> "true") {
      apply(spark, dir, "events")
    }
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      spark.conf.set(nanos, "true")
    normalizeTs(raw)
  }

  /** Shared `ts` normalization for batch AND streaming events readers
    * — one place to teach the next parquet flavor the generator
    * ships (a one-sided fix would desynchronize the batch queries
    * from the streaming twins that share their oracles).
    */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // session tz is UTC everywhere in this engine, so the rebase
        // is value-preserving
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "embeddings")

  /** Register every testdata table as a temp view, enabling the
    * `spark.sql(...)` front-end over the same data the DataFrame
    * loaders serve; `events` gets the identical µs normalization.
    * Idempotent (createOrReplaceTempView).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach {
      case "events" => events(spark, dir).createOrReplaceTempView("events")
      case n => apply(spark, dir, n).createOrReplaceTempView(n)
    }
}

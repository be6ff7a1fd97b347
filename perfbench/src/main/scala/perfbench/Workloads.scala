package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's workloads. Each stresses different layers, so a
  * change to one layer has a workload that exercises it and one that
  * bypasses it (see METRICS.md for the layer → metric → workload map).
  */
sealed trait Workload {
  def name: String
  /** Input tables the set-up scans once to warm the session. */
  def tables: Seq[String]
}

/** A mix of oracle-backed `SparkEntry` queries over the fixed parquet
  * inputs; the seed only permutes the order they run in.
  */
final case class Mix(name: String, queries: Seq[String], tables: Seq[String])
    extends Workload

/** The paper's pipeline on a salted synthetic essay corpus. */
final case class Flagship(name: String, docs: Long) extends Workload {
  def tables: Seq[String] = Nil
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // Text kernels, vectorizer and tree fit; no joins, streams or
    // query-builder pins.
    Flagship("okcupid_flagship", docs = 3000L),
    // Stream start and memory-sink drain: every stream query that has
    // a batch twin, beside the twins, which share its operator math.
    Mix("stream_replay", Seq(
      "q_stream_ewma", "q_stream_holt", "q_stream_transitions",
      "q_stream_sessions", "q_stream_scd2",
      "q_ewma", "q_holt", "q_transitions", "q_sessions", "q_scd2"),
      Seq("events")))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** The order one pass runs a mix's queries in: a seeded shuffle, so
    * every pass and seed sees its own order and no query always runs
    * right after the same neighbour.
    */
  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  /** `graft.Bench.syntheticProfiles` with its row ids offset by
    * `salt · docs`, so each seed draws another corpus of the same
    * calibrated shape (two-regime Zipf vocabulary, f 0.40 / m 0.60,
    * 3% empty essays, a mirrored class signal).
    */
  def saltedProfiles(spark: SparkSession, docs: Long, salt: Long): DataFrame = {
    val coreV = 12000L
    val tailV = 131000L
    val pTail = 0.1
    val s = 1.1
    val wordsPerDoc = 160
    val isF = pmod(xxhash64(col("id")), lit(5)) < 2
    val emptyDoc = pmod(xxhash64(col("id"), lit(999)), lit(100)) < 3
    val essay = array_join(
      transform(sequence(lit(1), lit(wordsPerDoc)), i => {
        val u = pmod(xxhash64(col("id"), i), lit(1000000000L))
          .cast("double") / lit(1e9)
        val tailId = lit(coreV) + lit(1L) +
          floor(u / lit(pTail) * lit(tailV)).cast("long")
        val t = (u - lit(pTail)) / lit(1.0 - pTail)
        val x = pow(
          lit(1.0) - t * lit(1.0 - math.pow(coreV.toDouble, 1.0 - s)),
          lit(1.0 / (1.0 - s)))
        val coreId = least(floor(x).cast("long"), lit(coreV))
        val mirrored = lit(coreV + tailV) + (lit(coreV) + 1L - coreId)
        val id = when(u < pTail, tailId)
          .when(isF && pmod(i, lit(20)) === 0, mirrored)
          .otherwise(coreId)
        concat(lit("w"), id.cast("string"))
      }), " ")
    spark.range(salt * docs, (salt + 1) * docs).select(
      Seq(when(isF, "f").otherwise("m").as("sex"),
        when(emptyDoc, "").otherwise(essay).as("essay0")) ++
        (1 to 9).map(j => lit("").as(s"essay$j")): _*)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Spec-enforced census of the engine's materialization and layout
  * idioms, on the [[StreamCensusSpec]] pattern. Every eager pin goes
  * through `Par.pin` (graft/operators/Par.scala), so `src/main` holds
  * exactly one `.localCheckpoint(` code line. The lazy `persist` /
  * `cache` sites and the explicit `repartition` sites are declared
  * exceptions, one line of reason per site; adding a site without
  * writing down why `Par.pin` (or `Par.widen`/`widenBy`) cannot serve
  * it fails the suite.
  */
class PinCensusSpec extends AnyFunSuite {

  private val par = "graft/operators/Par.scala"

  /** (construct, pattern, per-file reasons: one entry per site). */
  private val census: Seq[(String, Regex, Map[String, Seq[String]])] = Seq(
    ("localCheckpoint", """\.localCheckpoint\s*\(""".r, Map(
      par -> Seq("Par.pin: the one eager materialization"))),
    ("persist/cache", """\.persist\s*\(|\.cache\s*\(\s*\)""".r, Map(
      "graft/Bench.scala" -> Seq(
        "the flagship bench corpus, materialized outside the timed " +
          "region and unpersisted after"),
      "graft/OkCupidPipeline.scala" -> Seq(
        "the flagship token frame: fit and transform consumers, " +
          "released in the pipeline's finally",
        "the flagship split-flagged frame: train, test and evaluation " +
          "filters of one frame (measured in the job-count change)"),
      "graft/operators/CurationPipeline.scala" -> Seq(
        "each stage boundary: the ledger count and the next stage " +
          "read one cached frame, unpersisted at the end"),
      "graft/operators/Dedup.scala" -> Seq(
        "duplicateSpans: the hot-span agg is the join's build side, so " +
          "the cache fills first (measured r20: an eager pin was slower)",
        "contaminatedDocsBloom: the benchmark spans feed the count, the " +
          "bloom build and the verify join, released by sealAndRelease"),
      "graft/operators/DeterministicCart.scala" -> Seq(
        "the RDD of training points, read once per tree level"),
      "graft/operators/Similarity.scala" -> Seq(
        "nearDupPairsIvf: the probed replicas feed a bounded top-N, " +
          "released by sealAndRelease"),
      "graft/operators/SpectralPca.scala" -> Seq(
        "the exploded matrix, read by every power iteration"),
      "graft/operators/Tsne.scala" -> Seq(
        "the bounded sample, collected and joined back"),
      "graft/sources/FormatRoundtrip.scala" -> Seq(
        "one input for three format writes, so every leg sees the " +
          "same rows"),
      "graft/streaming/StreamingOps.scala" -> Seq(
        "dedupIngest's foreachBatch batch: a micro-batch frame read " +
          "by several writes, unpersisted per batch"))),
    ("repartition", """\.repartition\s*\(""".r, Map(
      par -> Seq(
        "Par.widen: round-robin to the session's parallelism",
        "Par.widenBy: hash on the group keys, capped at 8 ways"),
      "graft/operators/Dedup.scala" -> Seq(
        "spanHashes: explicit width on the window key, exempt from " +
          "AQE coalescing (r20)"),
      "graft/operators/DistributionTests.scala" -> Seq(
        "the Anderson-Darling grid: explicit width on the window " +
          "keys (r20)"),
      "graft/operators/Log10IDF.scala" -> Seq(
        "model writer: one data file"),
      "graft/operators/StorageLayout.scala" -> Seq(
        "bucketed write: whole buckets per write task"),
      "graft/operators/TrimmedCountVectorizer.scala" -> Seq(
        "model writer: one data file"),
      "graft/queries/RelationalQueries.scala" -> Seq(
        "q_range_frame: explicit width on the window key"))))

  /** Lines of code only: scaladoc and line comments may name the
    * constructs they describe.
    */
  private def codeLines(lines: Seq[String]): Seq[String] =
    lines.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  /** The census failures over `files` (relative path → lines). */
  private def drift(files: Map[String, Seq[String]]): Seq[String] =
    census.flatMap { case (name, pattern, allow) =>
      val counts = files
        .map { case (rel, lines) =>
          rel -> codeLines(lines).map(l => pattern.findAllIn(l).size).sum
        }
        .filter(_._2 > 0)
      val expected = allow.map { case (rel, why) => rel -> why.size }
      if (counts == expected) None
      else Some(s"$name census drifted: found $counts, allowed " +
        s"$expected. Pin through Par.pin, widen through Par.widen/" +
        "widenBy, or add the site to PinCensusSpec's allowlist with " +
        "the measured reason it cannot.")
    }

  private def mainSources: Map[String, Seq[String]] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .map { (p: Path) =>
        root.relativize(p).toString.replace('\\', '/') ->
          Files.readAllLines(p).asScala.toSeq
      }
      .toMap
  }

  test("pins, persists and repartitions have exactly their allowlisted " +
      "sites") {
    val failures = drift(mainSources)
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("a new raw localCheckpoint fails the census and names Par.pin") {
    val planted = mainSources + ("graft/operators/Planted.scala" ->
      Seq("object Planted {",
        "  def f(df: DataFrame) = df.localCheckpoint(true)",
        "  // a comment may say .localCheckpoint( freely",
        "}"))
    val failures = drift(planted)
    assert(failures.size == 1)
    assert(failures.head.startsWith("localCheckpoint census drifted"))
    assert(failures.head.contains("Par.pin"))
  }
}

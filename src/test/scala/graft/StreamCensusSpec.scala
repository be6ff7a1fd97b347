package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spec-enforced census of the streaming replay mechanism, on the
  * [[UdfCensusSpec]] pattern: every stream history in
  * `StreamingOps` reads, drains and keeps its latest row per key
  * through ONE shared helper each, so a second copy of any of them is
  * a regression back to the hand-placed twins this census replaced.
  * Adding a site without updating the allowlist (and writing down
  * why the shared helper cannot serve it) fails the suite.
  */
class StreamCensusSpec extends AnyFunSuite {

  private val ops = "graft/streaming/StreamingOps.scala"

  /** (construct, pattern, files it is counted in — None = all,
    * expected per-file counts with the reason for each site).
    */
  private val census: Seq[(String, scala.util.matching.Regex,
      Option[String], Map[String, Int])] = Seq(
    // drainToFrame: the one memory sink, dropped after each drain
    ("format(\"memory\")", """format\s*\(\s*"memory"\s*\)""".r, None,
      Map(ops -> 1)),
    ("readStream", """\.readStream\b""".r, None, Map(
      // parquetStream: the one parquet stream reader
      ops -> 1,
      // q_stream_dedup_ingest and q_leakage_split_incremental feed
      // dedupIngest a maxFilesPerTrigger=1 stream over their own
      // temp store, which is not a replay of a testdata file
      "graft/queries/EventStreamQueries.scala" -> 1,
      "graft/queries/ExtensionDedupQueries.scala" -> 1)),
    // ranked: the one window rank behind latestPerKey and the top-k
    ("row_number()", """row_number\s*\(\s*\)""".r, Some(ops),
      Map(ops -> 1)))

  /** Lines of code only: scaladoc and line comments may name the
    * constructs they describe.
    */
  private def codeLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  test("each streaming replay construct has exactly its allowlisted " +
      "sites") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .map(p => root.relativize(p).toString.replace('\\', '/') -> p)
      .toMap
    census.foreach { case (name, pattern, scope, allow) =>
      val counts = files
        .filter { case (rel, _) => scope.forall(_ == rel) }
        .map { case (rel, p) =>
          rel -> codeLines(p).map(l => pattern.findAllIn(l).size).sum
        }
        .filter(_._2 > 0)
      assert(counts === allow,
        s"\n$name census drifted. Route the new site through the " +
          "shared StreamingOps helper (parquetStream, drainToFrame, " +
          "latestPerKey), or update StreamCensusSpec's allowlist " +
          "with the reason it cannot.")
    }
  }
}

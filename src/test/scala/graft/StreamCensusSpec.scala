package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spec-enforced census of the streaming replay mechanism, on the
  * [[UdfCensusSpec]] pattern: every stream history in
  * `StreamingOps` reads, drains and keeps its latest row per key
  * through ONE shared helper each, every state function folds through
  * one of the two GroupState helpers, every foreachBatch sink runs
  * through one runner, and the dedup hot-bucket cap has one
  * definition — so a second copy of any of them is a regression back
  * to the hand-placed twins this census replaced. Adding a site
  * without updating the allowlist (and writing down why the shared
  * helper cannot serve it) fails the suite with a message naming the
  * helper.
  */
class StreamCensusSpec extends AnyFunSuite {

  private val ops = "graft/streaming/StreamingOps.scala"
  private val dedup = "graft/operators/Dedup.scala"

  /** (construct, pattern, files it is counted in — None = all,
    * expected per-file counts with the reason for each site, the
    * shared helper a new site goes through).
    */
  private val census: Seq[(String, scala.util.matching.Regex,
      Option[String], Map[String, Int], String)] = Seq(
    // drainToFrame: the one memory sink, dropped after each drain
    ("format(\"memory\")", """format\s*\(\s*"memory"\s*\)""".r, None,
      Map(ops -> 1), "StreamingOps.drainToFrame"),
    ("readStream", """\.readStream\b""".r, None, Map(
      // parquetStream: the one parquet stream reader
      ops -> 1,
      // q_stream_dedup_ingest and q_leakage_split_incremental feed
      // dedupIngest a maxFilesPerTrigger=1 stream over their own
      // temp store, which is not a replay of a testdata file
      "graft/queries/EventStreamQueries.scala" -> 1,
      "graft/queries/ExtensionDedupQueries.scala" -> 1),
      "StreamingOps.parquetStream"),
    // ranked: the one window rank behind latestPerKey and the top-k
    ("row_number()", """row_number\s*\(\s*\)""".r, Some(ops),
      Map(ops -> 1), "StreamingOps.ranked"),
    // foldGroups: every one-row-per-key state function (18 of them)
    (".mapGroupsWithState(", """\.mapGroupsWithState\s*\(""".r, None,
      Map(ops -> 1), "StreamingOps.foldGroups"),
    // scanGroups: every 0..n-rows-per-key state function (5 of them)
    (".flatMapGroupsWithState(", """\.flatMapGroupsWithState\s*\(""".r,
      None, Map(ops -> 1), "StreamingOps.scanGroups"),
    // the update function of foldGroups and of scanGroups
    ("GroupState[", """\bGroupState\s*\[""".r, None, Map(ops -> 2),
      "StreamingOps.foldGroups or StreamingOps.scanGroups"),
    ("foreachBatch", """\.foreachBatch\b""".r, None, Map(
      // runBatchedSink (classifiedDocStream, percolateStream) and
      // dedupIngest, whose batch body keeps three parquet stores and
      // commit markers instead of one batch=<id> sink
      ops -> 2), "StreamingOps.runBatchedSink"),
    // cooledBuckets: the one hot-bucket cap of every banding consumer
    ("hot-bucket cap", """>\s*maxBucketSize\b""".r, Some(dedup),
      Map(dedup -> 1), "Dedup.cooledBuckets"))

  /** Lines of code only: scaladoc and line comments may name the
    * constructs they describe.
    */
  private def codeLines(lines: Seq[String]): Seq[String] =
    lines.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  /** One message per construct whose per-file counts over `files`
    * (path under src/main/scala → its lines) differ from the census.
    */
  private def drift(files: Map[String, Seq[String]]): Seq[String] =
    census.flatMap { case (name, pattern, scope, allow, helper) =>
      val counts = files
        .filter { case (rel, _) => scope.forall(_ == rel) }
        .map { case (rel, lines) =>
          rel -> codeLines(lines).map(l => pattern.findAllIn(l).size).sum
        }
        .filter(_._2 > 0)
      Option.when(counts != allow)(
        s"$name census drifted: $counts, allowlisted $allow. Route the " +
          s"new site through $helper, or update StreamCensusSpec's " +
          "allowlist with the reason it cannot.")
    }

  private def mainSources(): Map[String, Seq[String]] = {
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

  test("each streaming replay construct has exactly its allowlisted " +
      "sites") {
    val msgs = drift(mainSources())
    assert(msgs.isEmpty, msgs.mkString("\n", "\n", ""))
  }

  test("a planted second site fails with a message naming its helper") {
    val main = mainSources()
    val planted = Seq(
      (ops, "    s.groupByKey(k).mapGroupsWithState(t)(f)",
        "StreamingOps.foldGroups"),
      ("graft/queries/Planted.scala",
        "    s.groupByKey(k).flatMapGroupsWithState(m, t)(f)",
        "StreamingOps.scanGroups"),
      ("graft/queries/Planted.scala",
        "    df.writeStream.foreachBatch { (b: DataFrame, i: Long) => () }",
        "StreamingOps.runBatchedSink"),
      (dedup, "      .agg(count(lit(1)).as(\"sz\")).filter(col(\"sz\") > " +
        "maxBucketSize)", "Dedup.cooledBuckets"))
    planted.foreach { case (file, line, helper) =>
      val msgs = drift(main.updated(file, main.getOrElse(file, Nil) :+ line))
      assert(msgs.exists(_.contains(s"through $helper,")),
        s"planting `$line` in $file: ${msgs.mkString("; ")}")
      // a comment naming the construct is not a site
      assert(drift(main.updated(file,
        main.getOrElse(file, Nil) :+ s"    // $line")).isEmpty)
    }
  }
}

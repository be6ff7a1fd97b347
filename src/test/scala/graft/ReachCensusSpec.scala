package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spec-enforced census of reachable code, on the [[PinCensusSpec]]
  * code-line rule. A def in `src/main` is reached when its name
  * appears on a code line of `src/main`, `perfbench/src` or `tools/`
  * other than its own definition: the queries, the flagship,
  * `Bench`/`Verify`/`Explain`/`EntrySmoke` and the benchmark harness
  * all live there, and specs do not count. Every def visible outside
  * its class (public or qualified-private; an override is reached
  * through the member it overrides) is either reached or allowlisted
  * below with the reason it stays; a def that only specs call fails
  * the suite until it is deleted or allowlisted.
  */
class ReachCensusSpec extends AnyFunSuite {

  /** (file under src/main/scala, def name) → why no root calls it. */
  private val allowlist: Map[(String, String), String] = Map(
    ("graft/GraftExtensions.scala", "register") -> (
      "the runtime registration API: installs the functions on a live " +
        "session built without the extensions conf"),
    ("graft/functions/TextFunctions.scala", "lowerTokens") -> (
      "column formulation of F6, the reference TokenStageSpec compares " +
        "the fused kernel against"),
    ("graft/functions/TextFunctions.scala", "stemTokens") -> (
      "column formulation of F8, the reference TokenStageSpec compares " +
        "the fused kernel against"),
    ("graft/functions/TextFunctions.scala", "removeSingleChar") -> (
      "column formulation of F9, the reference TokenStageSpec compares " +
        "the fused kernel against"),
    ("graft/operators/BpeTokenizer.scala", "trainLedgerSequential") -> (
      "the sequential trainer the batched ledger is proven equal to " +
        "(BpeBatchedEquivalenceSpec)"),
    ("graft/operators/BpeTokenizer.scala", "segmentFold") -> (
      "the per-merge column fold the native apply kernel is proven " +
        "equal to (BpeApplyExpressionSpec)"),
    ("graft/operators/ModalAlign.scala", "mutualTop1") -> (
      "the cross-join reference mutualTop1Blocked is compared against"),
    ("graft/operators/Similarity.scala", "topSimilarPairs") -> (
      "the exact all-pairs reference nearDupPairsIvf is compared against"),
    ("graft/operators/TextTransformers.scala", "setMode") -> (
      "persisted ML Param setter: the ICU tokenizer mode exists for " +
        "fidelity with the reference"),
    ("graft/operators/TrimmedCountVectorizer.scala", "setMaxVocabSize") ->
      "persisted ML Param setter of the vectorizer's vocabulary cap",
    ("graft/streaming/StreamingOps.scala", "joinWithinInterval") -> (
      "the public inner stream-stream interval join; the attribution " +
        "streams run its body, intervalJoin, under their own join type"))

  /** A def line: any modifiers, then `def name`. */
  private val defLine =
    """^\s*((?:\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** Lines of code only: scaladoc and line comments (`#` in the Python
    * tools) may name the defs they describe.
    */
  private def isCode(l: String): Boolean = {
    val t = l.trim
    !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") ||
      t.startsWith("#"))
  }

  /** Whether a def with these modifiers is visible outside its class. */
  private def censused(mods: String): Boolean = {
    val m = mods.split("\\s+").filter(_.nonEmpty)
    !m.exists(w => w == "override" || w == "private" ||
      w.startsWith("protected"))
  }

  /** The censused defs of `main` (relative path → lines) that no code
    * line names besides their own definition. `roots` holds the
    * non-main code (perfbench harness, tools).
    */
  private def unreached(
      main: Map[String, Seq[String]],
      roots: Seq[Seq[String]]): Set[(String, String)] = {
    val code = (main.values.toSeq ++ roots).flatMap(_.filter(isCode))
    // lines naming each identifier: a def's own line names it once
    val lines = code.flatMap(l => ident.findAllIn(l).toSet)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    main.toSeq.flatMap { case (rel, ls) =>
      ls.filter(isCode).flatMap(l => defLine.findFirstMatchIn(l))
        .filter(m => censused(m.group(1)))
        .map(_.group(2))
        .filter(name => lines.getOrElse(name, 0) <= 1)
        .map(rel -> _)
    }.toSet
  }

  /** The census failures: unreached defs not on the allowlist, and
    * allowlist entries whose def is reached or gone.
    */
  private def drift(
      main: Map[String, Seq[String]],
      roots: Seq[Seq[String]]): Seq[String] = {
    val found = unreached(main, roots)
    val allowed = allowlist.keySet
    def show(s: Set[(String, String)]) =
      s.toSeq.sorted.map { case (rel, n) => s"$rel: $n" }.mkString(", ")
    Seq(
      Option(found -- allowed).filter(_.nonEmpty).map(s =>
        s"defs no root reaches: ${show(s)}. Delete each with the spec " +
          "cases that check only it, or add it to ReachCensusSpec's " +
          "allowlist with the reason it stays."),
      Option(allowed -- found).filter(_.nonEmpty).map(s =>
        s"stale ReachCensusSpec allowlist entries (reached or gone): " +
          show(s))).flatten
  }

  private def sources(dir: String, exts: String*): Map[String, Seq[String]] = {
    val root = Paths.get(dir)
    assume(Files.isDirectory(root), "run from the repo root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        exts.exists(e => p.toString.endsWith(e)))
      .map { (p: Path) =>
        root.relativize(p).toString.replace('\\', '/') ->
          Files.readAllLines(p).asScala.toSeq
      }
      .toMap
  }

  private def mainSources = sources("src/main/scala", ".scala")

  private def rootSources: Seq[Seq[String]] =
    sources("perfbench/src", ".scala").values.toSeq ++
      sources("tools", ".scala", ".py").values.toSeq

  test("every def a root does not reach is allowlisted with a reason") {
    val failures = drift(mainSources, rootSources)
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("a def only specs call fails the census and names the allowlist") {
    val planted = mainSources + ("graft/operators/Planted.scala" ->
      Seq("object Planted {",
        "  def plantedOnlySpecsCall(x: Int): Int = x",
        "  // a comment naming plantedOnlySpecsCall reaches nothing",
        "}"))
    val failures = drift(planted, rootSources)
    assert(failures.size == 1)
    assert(failures.head.contains(
      "graft/operators/Planted.scala: plantedOnlySpecsCall"))
    assert(failures.head.contains("ReachCensusSpec's allowlist"))
    // one code line naming it from a root reaches it
    val called = planted + ("graft/operators/Caller.scala" ->
      Seq("object Caller { val y = Planted.plantedOnlySpecsCall(1) }"))
    assert(drift(called, rootSources).isEmpty)
  }
}

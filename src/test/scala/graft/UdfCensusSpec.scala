package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spec-enforced UDF allowlist (VERDICT r17 "what's wrong" #3): the
  * engine's codegen posture is that `org.apache.spark.sql.functions`
  * and native Catalyst expressions carry the hot paths, and every
  * Scala UDF is an individually-justified exception (VectorUDT access
  * with no Catalyst builtin, a broadcast Bloom probe, …). The r16→r17
  * verdicts each had to re-grep this census by hand and caught it
  * silently drifting once — so it is pinned here: adding a UDF
  * without updating this allowlist (and writing down why the new site
  * can't be an expression) fails the suite. The second census keeps
  * MLlib model fitting (clustering, tuning) out of `src/main`.
  */
class UdfCensusSpec extends AnyFunSuite {

  // file → expected `udf(...)`/`udf {...}` definition-site count, with
  // the standing justification per site:
  //  - Dedup.scala: the broadcast-Bloom membership probe — a stateful
  //    broadcast-object lookup with no builtin equivalent that
  //    wouldn't materialize more
  //  - TextAnalysis.scala: compressionRatio (Deflater round-trip —
  //    Spark has no compression scalar)
  // DeterministicCart (routing + stats pass), Log10IDF (idf scaling)
  // and VectorFunctions (toMlVector) lost their UDFs to the native
  // vector_at / vector_nonzeros / vector_scale / vector_from_floats
  // kernels in r18; both shingle UDFs and simhash64 lost theirs to
  // the native word_shingles / simhash64 kernels in r19
  // (functions/ShingleExpression.scala) — do not reintroduce any.
  private val allow: Map[String, Int] = Map(
    "graft/operators/Dedup.scala" -> 1,
    "graft/functions/TextAnalysis.scala" -> 1)

  private val udfCall =
    """(^|[^a-zA-Z0-9_.])udf\s*[({]""".r

  test("every udf definition site is on the allowlist with its " +
      "exact count") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    val census: Map[String, Int] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .map { p: Path =>
        val n = Files.readAllLines(p).asScala
          .count(l => udfCall.findFirstIn(l).isDefined)
        root.relativize(p).toString.replace('\\', '/') -> n
      }
      .filter(_._2 > 0)
      .toMap
    assert(census === allow,
      "\nUDF census drifted. If the new site is genuinely needed, " +
        "update UdfCensusSpec's allowlist AND document why it can't " +
        "be a native expression; prefer graft.functions.* kernels " +
        "(vector_at, euclidean_dist2, ...) or a new Catalyst " +
        "Expression with doGenCode.")
  }

  // MLlib model fitting left src/main once every query ran the exact,
  // oracle-replayable operators instead (DeterministicCart for the
  // tree, LloydKMeans and the sampled codebook for k-means,
  // CrossValidation.exactFolds for the folds). A clustering or tuning
  // import brings back a seeded fit that no DuckDB oracle can replay.
  private val mlModelImport =
    """org\.apache\.spark\.ml\.(clustering|tuning)""".r

  test("no MLlib clustering or tuning code in src/main") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if !isComment(l) &&
              mlModelImport.findFirstIn(l).isDefined =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }
      .toSeq.sorted
    assert(hits.isEmpty,
      s"\nMLlib clustering/tuning code is back in src/main: $hits")
  }

  /** Scaladoc and line comments may name what they replaced. */
  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}

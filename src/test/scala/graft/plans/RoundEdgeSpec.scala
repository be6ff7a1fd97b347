package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** Source audit for scale-bearing `round(x, k)` edges — the engine's
  * third-most-reoffending cross-engine trap (q_quantize, q_bm25,
  * q_theil_sen were all ROUND-edge reds in successive rounds):
  *
  *   Spark's `round(double, k)` (k ≥ 1) rounds HALF_UP on a
  *   BigDecimal built from the double's DECIMAL-STRING repr, while
  *   DuckDB rounds the double's BINARY value after an internal 10^k
  *   scaling — the two can disagree on the k-th decimal even when
  *   both engines hold bit-identical inputs. The engine-agnostic
  *   form is the explicit lattice snap: `round(x * 1e6)` (scale-0,
  *   where the engines agree) cast to integer, optionally divided
  *   back by 1e6 in one IEEE op.
  *
  * Not every `round(x, k)` is wrong: a MID-CHAIN 6-dp lattice that
  * both sides apply to IDENTICAL doubles before a rank/argmax (the
  * cosine convention across Similarity/ANN/dedup) is part of the
  * operator's defined total order and is mirrored verbatim in the
  * oracle — those stay. What this audit prevents is a NEW
  * scale-bearing round appearing on a hashed OUTPUT edge without a
  * conscious decision: adding one changes a count below and fails
  * this spec, and the fix is either (a) use the snap (preferred for
  * output edges — see GroupedOls/RobustStats.theilSen/Conformal) or
  * (b) bump the count here with a justification in the commit.
  *
  * The scan strips comments, then paren-matches every
  * `round(`/`ROUND(` call (Scala AND embedded oracle SQL — both
  * sides of the mirror matter) and counts calls whose last top-level
  * argument is an integer literal 1–9.
  */
class RoundEdgeSpec extends AnyFunSuite {

  /** file (relative to src/main/scala) -> expected count of
    * scale-bearing rounds. Registered round-10; every entry predates
    * the audit and is the mirrored-verbatim mid-chain class unless
    * noted in its operator's scaladoc.
    */
  private val registered: Map[String, Int] = Map(
    "graft/functions/TextAnalysis.scala" -> 1,
    "graft/operators/BigramLM.scala" -> 5,
    "graft/operators/Bootstrap.scala" -> 1,
    "graft/operators/CorpusMixing.scala" -> 1,
    "graft/operators/ChangePoint.scala" -> 4,
    "graft/operators/Dedup.scala" -> 3,
    // round 13: +4 — kuiperTwoSample's kuiper_v (exact-integer
    // division at 6 dp, the registered ks_d construction),
    // andersonDarlingK's 9-dp cell snap and gTest's 9-dp cell snap
    // (both the cramersV DECIMAL(38,12) cell-sum class) and gTest's
    // 6-dp g_stat edge (the oneWayAnova f_stat class — a DECIMAL
    // cast to double identically on both sides). ChangePoint's 4 =
    // ljungBox 9-dp cell snap + two mirrored 6-dp q_stat edges +
    // durbinWatson's exact-integer-division dw; Survival's +1 =
    // rmst's 6-dp edge over a DECIMAL(38,0) micro-lattice sum.
    // ...and +4 later in round 13: bartlett's three per-sample 9-dp
    // cell snaps (pool/ln/harmonic, the cramersV class) and its
    // mirrored 6-dp b_stat edge. wasserstein/wilsonCi/pacf use only
    // scale-0 micro snaps (not counted by design).
    "graft/operators/DistributionTests.scala" -> 21,
    "graft/operators/Dsir.scala" -> 2,
    "graft/operators/FeatureSelection.scala" -> 2,
    "graft/operators/KnnClassifier.scala" -> 1,
    "graft/operators/LabelPropagation.scala" -> 1,
    "graft/operators/ModalAlign.scala" -> 1,
    "graft/operators/ProductQuantization.scala" -> 1,
    "graft/operators/RankFusion.scala" -> 1,
    "graft/operators/Sampling.scala" -> 1,
    // round 13 (commit 39a7bc4): +2 — q_silhouette's kNN-family
    // rework added two mirrored mid-chain cosine-lattice edges; the
    // census update was missed in that commit and is trued up here.
    // -5 with the one cosine ranker: the six per-site copies of the
    // ranked 6-dp cosine (five top-k tails + the deleted MLlib
    // ivfTopK) became the one in rankCosine.
    "graft/operators/Similarity.scala" -> 12,
    "graft/operators/Survival.scala" -> 5,
    "graft/operators/TermStats.scala" -> 2,
    "graft/operators/TimeSeries.scala" -> 11,
    "graft/operators/Triangles.scala" -> 1,
    "graft/operators/UnigramLM.scala" -> 5,
    "graft/operators/ZipfFit.scala" -> 6,
    // round 13: +12 — the oracle mirrors of q_kuiper (1), q_ad_test
    // (1), q_gtest (2), q_ljung_box (3), q_durbin_watson (1) and
    // q_rmst (4), each mirroring its operator's registered edges
    // verbatim.
    // ...and +5 later in round 13: q_bartlett's oracle mirror
    // (3 ROUND-9 cells + the b_stat ROUND-6 twice across the edge
    // and verdict).
    // round 16: the round-15 pure-move file split (commit 6dd30df)
    // relocated EventQueries' 44 registered edges across its four
    // slice files; totals conserved exactly (13+4+8+19 = 44) — zero
    // new or removed edges, the same mirrored-verbatim lattices.
    "graft/queries/EventQueries.scala" -> 13,
    "graft/queries/EventInferenceQueries.scala" -> 4,
    // round 17: +1 — q_stream_dedup_ingest's 6-dp jaccard OUTPUT
    // snap, mirroring q_dedup_minhash's registered edge verbatim
    // (both sides read the shared jaccardOracle).
    "graft/queries/EventStreamQueries.scala" -> 9,
    "graft/queries/EventTimeSeriesQueries.scala" -> 19,
    // 107 at round 10; +4 in round 11: q_brown_forsythe's oracle
    // mirrors q_anova's registered edges verbatim (the per-group
    // 9-dp snap into DECIMAL(38,12) and the three 6-dp output
    // edges), because the operator delegates to the SAME
    // DistributionTests.oneWayAnova decomposition — identical
    // doubles on both sides, the mirrored-verbatim class.
// ...and +2 later in round 13: q_ann_matryoshka's oracle mirrors
    // the registered rounded-then-ranked cosine lattice twice (full
    // dims + the 16-dim prefix).
    // round 15: +3 — q_ann_ivf_scale's probe-cosine lattice (one
    // Scala round(csim, 6) + the oracle's mirrored asim/pscored
    // ROUND(·, 6)): the registered mid-chain 6-dp cosine class,
    // applied to IDENTICAL doubles on both sides before the rank
    // round 16: the same split relocated ExtensionQueries' 116
    // registered edges across its seven slice files; totals conserved
    // exactly (12+10+19+8+10+18+39 = 116).
    "graft/queries/ExtensionQueries.scala" -> 12,
    "graft/queries/ExtensionAnnQueries.scala" -> 10,
    "graft/queries/ExtensionCurationQueries.scala" -> 19,
    "graft/queries/ExtensionDedupQueries.scala" -> 8,
    "graft/queries/ExtensionGovernanceQueries.scala" -> 10,
    "graft/queries/ExtensionGraphStatsQueries.scala" -> 18,
    "graft/queries/ExtensionInferenceQueries.scala" -> 39,
    // round 13 (commit 3d5f681-era oracle work): -1 — the
    // q_kmeans_cost/q_pca_variance oracle rework removed a
    // scale-bearing edge; trued up here with the Similarity entry.
    "graft/queries/MLQueries.scala" -> 2,
    "graft/queries/RelationalQueries.scala" -> 10,
    "graft/queries/TextQueries.scala" -> 4,
    "graft/streaming/StreamingOps.scala" -> 11
  )

  private def stripComments(s: String): String =
    s.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** Count round/ROUND calls whose last top-level argument is an
    * integer literal 1-9 (a decimal scale — the cross-engine hazard).
    */
  private def scaleBearingRounds(src: String): Int = {
    val s = stripComments(src)
    val pat = java.util.regex.Pattern
      .compile("\\bround\\(", java.util.regex.Pattern.CASE_INSENSITIVE)
    val m = pat.matcher(s)
    var count = 0
    while (m.find()) {
      var i = m.end()
      var depth = 1
      val start = i
      while (i < s.length && depth > 0) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      val args = s.substring(start, math.max(start, i - 1))
      var d = 0
      var last = -1
      var j = 0
      while (j < args.length) {
        args.charAt(j) match {
          case '(' => d += 1
          case ')' => d -= 1
          case ',' if d == 0 => last = j
          case _ =>
        }
        j += 1
      }
      if (last >= 0) {
        val tail = args.substring(last + 1).trim
        if (tail.length == 1 && tail.charAt(0) >= '1' && tail.charAt(0) <= '9')
          count += 1
      }
    }
    count
  }

  test("every scale-bearing round(x, k) edge is registered — new " +
      "output edges must use the explicit lattice snap") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val found = walk(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
        .replace(java.io.File.separatorChar, '/')
      val n = scaleBearingRounds(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      if (n > 0) Some(rel -> n) else None
    }.toMap
    val drift = (found.keySet ++ registered.keySet).toSeq.sorted.flatMap {
      k =>
        val f = found.getOrElse(k, 0)
        val r = registered.getOrElse(k, 0)
        if (f != r) Some(s"$k: found $f, registered $r") else None
    }
    assert(drift.isEmpty,
      "scale-bearing round(x, k) census drifted — for a hashed OUTPUT " +
        "edge use the explicit x1e6-snap (GroupedOls convention); for " +
        "a deliberate mid-chain lattice, update `registered` and say " +
        "why in the commit:\n  " + drift.mkString("\n  "))
  }
}

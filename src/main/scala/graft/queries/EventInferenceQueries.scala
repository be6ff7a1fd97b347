package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.RangeJoin
import graft.streaming.StreamingOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pure-move slice of [[EventQueries]] (round 16, VERDICT r15 #5).
  * Rank/distribution tests (Mann-Whitney, Friedman, Kendall W, Page, Quade, KS, CvM, PSI, energy), bootstrap, anomaly, interval join, attribution, debounce, A/B, changepoint, ACF, SAX, survival, logrank.
  * Helpers live on EventQueries as private[queries]; behavior is
  * byte-identical — the order of EventQueries.all is preserved.
  */
private[queries] object EventInferenceQueries {
  import EventQueries._

  val all: Seq[QueryDef] = Seq(
    // Mann-Whitney rank-sum per event type: does the odd-user
    // cohort's value distribution sit higher or lower? Ranks under
    // the (value, event_id) total order make U a pure integer, and
    // the 95% verdict is the 1875·(2U−n_a n_b)² > 2401·n_a n_b(N+1)
    // cross-multiplication — no sqrt, no float (AbTest.rankSum).
    QueryDef(
      "q_mann_whitney",
      (s, dir) => {
        import graft.operators.AbTest
        AbTest.rankSum(
            Tables.events(s, dir),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "value", "event_id")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH r AS (
          SELECT event_type,
                 CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS b,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rnk
          FROM events),
        g AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(sum(CASE WHEN b = 1 THEN rnk ELSE 0 END) AS BIGINT)
                   AS rb
          FROM r GROUP BY 1),
        stat AS (
          SELECT event_type, n_a, n_b,
                 2 * rb - n_b * (n_b + 1) AS u2
          FROM g)
        SELECT event_type, n_a, n_b, u2 // 2 AS u,
               CASE WHEN CAST(1875 AS HUGEINT)
                         * (u2 - n_a*n_b) * (u2 - n_a*n_b)
                       > CAST(2401 AS HUGEINT)
                         * n_a * n_b * (n_a + n_b + 1)
                    THEN CASE WHEN u2 - n_a*n_b > 0
                              THEN 'b_high' ELSE 'b_low' END
                    ELSE 'none' END AS verdict
        FROM stat
        ORDER BY event_type
      """)),

    // Friedman blocked rank ANOVA per user cohort: does the daily
    // event-type MIX differ across the 5 types once each day's level
    // is ranked away (blocks = calendar days, treatments = event
    // types, observation = the day's count — a complete 30x5 design
    // in the fixture)? Doubled-rank integer lattice, DECIMAL-summed
    // squares, one written IEEE sequence per statistic
    // (NonParametric.friedman scaladoc); the oracle replays the
    // complete-block drop, both rank windows, and the tie
    // correction verbatim.
    QueryDef(
      "q_friedman",
      (s, dir) => {
        import graft.operators.NonParametric
        val daily = Tables.events(s, dir)
          .groupBy(pmod(col("user_id"), lit(3L)).as("cohort"),
            to_date(col("ts")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        NonParametric.friedman(daily, "cohort", "day", "event_type", "cnt")
          .orderBy(col("cohort"))
      },
      Some(s"""
        WITH $friedmanCtes
        SELECT * FROM fr ORDER BY cohort
      """)),

    // Kendall's coefficient of concordance W on the same design read
    // as an agreement question: do the 30 days (raters) rank the 5
    // event types (items) the same way — the multi-rater ordinal
    // companion to q_cohens_kappa's two-rater nominal agreement.
    // Derived from the Friedman identity chi2 = m(k-1)W on the
    // snapped micro lattice via the signed exact integer quotient
    // (NonParametric.kendallW scaladoc), so the oracle is one extra
    // select over the shared Friedman replay.
    QueryDef(
      "q_kendall_w",
      (s, dir) => {
        import graft.operators.NonParametric
        val daily = Tables.events(s, dir)
          .groupBy(pmod(col("user_id"), lit(3L)).as("cohort"),
            to_date(col("ts")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        NonParametric.kendallW(daily, "cohort", "day", "event_type", "cnt")
          .orderBy(col("cohort"))
      },
      Some(s"""
        WITH $friedmanCtes
        SELECT cohort, n_blocks AS n_raters, k_treatments AS k_items,
               CAST(SIGN(chi2_micro)
                    * (ABS(chi2_micro)
                       // (n_blocks * (k_treatments - 1)))
                 AS BIGINT) AS w_micro,
               CAST(SIGN(chi2_tie_corrected_micro)
                    * (ABS(chi2_tie_corrected_micro)
                       // (n_blocks * (k_treatments - 1)))
                 AS BIGINT) AS w_tie_corrected_micro
        FROM fr ORDER BY cohort
      """)),

    // Page's trend test per user cohort on the SAME blocked design
    // as q_friedman — the ordered-alternative version: does daily
    // volume TREND with the event type's (alphabetical-index) order,
    // once each day's level is ranked away. L2 = Σ cⱼ·R2ⱼ over the
    // shared doubled rank sums, integer E2, classical null variance,
    // one IEEE sequence for z (NonParametric.pageTrend scaladoc).
    QueryDef(
      "q_page",
      (s, dir) => {
        import graft.operators.NonParametric
        val daily = Tables.events(s, dir)
          .groupBy(pmod(col("user_id"), lit(3L)).as("cohort"),
            to_date(col("ts")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("ord", dense_rank().over(
            Window.partitionBy(col("cohort")).orderBy(col("event_type")))
            .cast("long"))
        NonParametric.pageTrend(daily, "cohort", "day", "ord", "cnt")
          .orderBy(col("cohort"))
      },
      Some("""
        WITH obs AS (
          SELECT user_id % 3 AS cohort, CAST(ts AS DATE) AS b,
                 event_type AS t, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2, 3),
        obs2 AS (
          SELECT cohort, b,
                 DENSE_RANK() OVER (PARTITION BY cohort ORDER BY t)
                   AS o, x
          FROM obs),
        kp AS (SELECT cohort, count(DISTINCT o) AS k
               FROM obs2 GROUP BY 1),
        comp AS (
          SELECT o2.cohort, o2.b
          FROM obs2 o2 JOIN kp USING (cohort)
          GROUP BY o2.cohort, o2.b, kp.k
          HAVING count(*) = kp.k),
        kept AS (SELECT o2.* FROM obs2 o2 JOIN comp USING (cohort, b)),
        ranked AS (
          SELECT cohort, o,
                 2 * RANK() OVER (PARTITION BY cohort, b ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY cohort, b, x) - 1 AS r2
          FROM kept),
        rt AS (
          SELECT cohort, o, CAST(SUM(r2) AS BIGINT) AS rt
          FROM ranked GROUP BY 1, 2),
        wc AS (
          SELECT cohort,
                 CAST(DENSE_RANK() OVER (PARTITION BY cohort ORDER BY o)
                   AS BIGINT) AS c,
                 rt
          FROM rt),
        nb AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n
               FROM comp GROUP BY 1),
        st AS (
          SELECT cohort, CAST(count(*) AS BIGINT) AS kt,
                 CAST(SUM(c * rt) AS BIGINT) AS l2
          FROM wc GROUP BY 1)
        SELECT st.cohort, nb.n AS n_blocks, st.kt AS k_treatments,
               st.l2,
               nb.n * st.kt * (st.kt + 1) * (st.kt + 1) // 2 AS e2,
               CAST(ROUND(
                 CAST(st.l2 - nb.n * st.kt * (st.kt + 1)
                      * (st.kt + 1) // 2 AS DOUBLE)
                 / (2.0 * sqrt(
                     CAST(nb.n AS DOUBLE) * CAST(st.kt AS DOUBLE)
                     * CAST(st.kt AS DOUBLE)
                     * (CAST(st.kt AS DOUBLE) + 1.0)
                     * (CAST(st.kt AS DOUBLE) + 1.0)
                     * (CAST(st.kt AS DOUBLE) - 1.0) / 144.0))
                 * 1e6) AS BIGINT) AS z_micro
        FROM st JOIN nb USING (cohort)
        WHERE st.kt >= 2 AND nb.n >= 2
        ORDER BY st.cohort
      """)),

    // Conover's post-hoc for the blocked design on the SAME daily
    // layout as q_friedman: which event-type PAIRS differ once each
    // day's level is ranked away — the blocked twin of
    // q_conover_posthoc. The shared doubled lattice keeps
    // n·A1 − ΣR_j² an exact DECIMAL integer; one IEEE sequence per
    // pair; enumeration k²-bounded over the treatment-stats table
    // (NonParametric.friedmanPosthoc scaladoc).
    QueryDef(
      "q_friedman_posthoc",
      (s, dir) => {
        import graft.operators.NonParametric
        val daily = Tables.events(s, dir)
          .groupBy(pmod(col("user_id"), lit(3L)).as("cohort"),
            to_date(col("ts")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        NonParametric.friedmanPosthoc(
            daily, "cohort", "day", "event_type", "cnt")
          .orderBy(col("cohort"), col("g1"), col("g2"))
      },
      Some(s"""
        WITH $friedmanCtes,
        a12 AS (
          SELECT cohort, SUM(CAST(r2 AS HUGEINT) * r2) AS a12
          FROM ranked GROUP BY 1),
        rsq AS (
          SELECT cohort, SUM(CAST(rt AS HUGEINT) * rt) AS rsq,
                 CAST(count(*) AS BIGINT) AS k
          FROM rt GROUP BY 1),
        den AS (
          SELECT a12.cohort, nb.n, rsq.k,
                 CAST(nb.n AS HUGEINT) * a12.a12 - rsq.rsq AS numer
          FROM a12 JOIN rsq USING (cohort) JOIN nb USING (cohort)
          WHERE nb.n >= 2 AND rsq.k >= 2
            AND CAST(nb.n AS HUGEINT) * a12.a12 > rsq.rsq)
        SELECT a.cohort, a.t AS g1, b.t AS g2,
               den.n AS n_blocks, den.k AS k_treatments,
               CAST(ROUND(CAST(a.rt - b.rt AS DOUBLE) / 2.0
                    / sqrt(2.0 * (CAST(den.numer AS DOUBLE) / 4.0)
                           / ((CAST(den.n AS DOUBLE) - 1.0)
                              * (CAST(den.k AS DOUBLE) - 1.0)))
                    * 1e6) AS BIGINT) AS t_micro
        FROM rt a
        JOIN rt b ON a.cohort = b.cohort AND a.t < b.t
        JOIN den ON den.cohort = a.cohort
        ORDER BY a.cohort, g1, g2
      """)),

    // Quade range-weighted blocked test on the SAME daily design as
    // q_friedman: does the event-type mix differ once each day's
    // level is ranked away — but with days WEIGHTED by how far their
    // five counts spread (the doubled midrank of the day's max−min
    // range), so high-signal days dominate where Friedman gives
    // every day one vote. 4×-scaled integer scores
    // S4 = Q2·(r2 − (k+1)), DECIMAL-exact A4/SB4, and the 16× scale
    // cancels in the single IEEE division that forms F
    // (NonParametric.quade scaladoc).
    QueryDef(
      "q_quade",
      (s, dir) => {
        import graft.operators.NonParametric
        val daily = Tables.events(s, dir)
          .groupBy(pmod(col("user_id"), lit(3L)).as("cohort"),
            to_date(col("ts")).as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        NonParametric.quade(daily, "cohort", "day", "event_type", "cnt")
          .orderBy(col("cohort"))
      },
      Some("""
        WITH obs AS (
          SELECT user_id % 3 AS cohort, CAST(ts AS DATE) AS b,
                 event_type AS t, CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2, 3),
        kp AS (SELECT cohort, count(DISTINCT t) AS k FROM obs GROUP BY 1),
        comp AS (
          SELECT o.cohort, o.b
          FROM obs o JOIN kp USING (cohort)
          GROUP BY o.cohort, o.b, kp.k
          HAVING count(*) = kp.k),
        kept AS (SELECT o.* FROM obs o JOIN comp USING (cohort, b)),
        ranked AS (
          SELECT cohort, b, t,
                 2 * RANK() OVER (PARTITION BY cohort, b ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY cohort, b, x) - 1 AS r2
          FROM kept),
        rng AS (
          SELECT cohort, b, MAX(x) - MIN(x) AS rg
          FROM kept GROUP BY 1, 2),
        wts AS (
          SELECT cohort, b,
                 2 * RANK() OVER (PARTITION BY cohort ORDER BY rg)
                   + COUNT(*) OVER (PARTITION BY cohort, rg) - 1 AS q2
          FROM rng),
        scored AS (
          SELECT r.cohort, r.t,
                 CAST(w.q2 * (r.r2 - (kp.k + 1)) AS BIGINT) AS s4
          FROM ranked r
          JOIN wts w ON w.cohort = r.cohort AND w.b = r.b
          JOIN kp ON kp.cohort = r.cohort),
        pt AS (
          SELECT cohort, t,
                 SUM(CAST(s4 AS DECIMAL(38,0))) AS sj,
                 SUM(CAST(s4 AS DECIMAL(38,0))
                     * CAST(s4 AS DECIMAL(38,0))) AS a4j,
                 CAST(count(*) AS BIGINT) AS nb
          FROM scored GROUP BY 1, 2),
        st AS (
          SELECT cohort, CAST(count(*) AS BIGINT) AS kt,
                 MAX(nb) AS n,
                 SUM(a4j) AS a4,
                 SUM(sj * sj) AS sb4
          FROM pt GROUP BY 1)
        SELECT cohort, n AS n_blocks, kt AS k_treatments,
               CAST(ROUND(
                 (CAST(n AS DOUBLE) - 1.0) * CAST(sb4 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(a4 AS DOUBLE)
                    - CAST(sb4 AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS f_micro
        FROM st
        WHERE kt >= 2 AND n >= 2
          AND CAST(n AS DECIMAL(38,0)) * a4 > sb4
        ORDER BY cohort
      """)),

    // Two-sample Kolmogorov-Smirnov per event type: did the odd-user
    // cohort's value DISTRIBUTION shift (not just its mean — the
    // Mann-Whitney question)? D = max|cumA·n_b − cumB·n_a|/(n_a·n_b)
    // over the merged (value, event_id) order — integers until one
    // edge division; verdict by maxdiff²·10⁴ > 18442·n_a n_b(N)
    // cross-multiplication (DistributionTests scaladoc).
    QueryDef(
      "q_ks_test",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.ksTwoSample(
            Tables.events(s, dir),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "value", "event_id")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS b,
                 value, event_id
          FROM events),
        m AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END)
                      OVER wr AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END)
                      OVER wr AS BIGINT) AS cb,
                 CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END)
                      OVER wg AS BIGINT) AS na,
                 CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END)
                      OVER wg AS BIGINT) AS nb
          FROM e
          WINDOW wr AS (PARTITION BY event_type
                        ORDER BY value, event_id
                        ROWS UNBOUNDED PRECEDING),
                 wg AS (PARTITION BY event_type)),
        a AS (
          SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
                 max(abs(ca * nb - cb * na)) AS maxdiff
          FROM m GROUP BY 1)
        SELECT event_type, n_a, n_b,
               ROUND(CAST(maxdiff AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
                 AS ks_d,
               CASE WHEN CAST(maxdiff AS HUGEINT) * maxdiff * 10000
                       > CAST(18442 AS HUGEINT) * n_a * n_b
                         * (n_a + n_b)
                    THEN 'shifted' ELSE 'same' END AS verdict
        FROM a
        ORDER BY event_type
      """)),

    // Two-sample Cramér-von Mises on the SAME cohort split as
    // q_ks_test, reading integer cents: where KS takes only the
    // single largest ECDF gap, CvM integrates the SQUARED gap over
    // the whole distribution — many small persistent differences
    // register here while KS stays quiet. Doubled midrank lattice,
    // order-invariant intra-tie indexes, exact integer U4 = 4U, one
    // IEEE sequence for T (DistributionTests.cramerVonMises
    // scaladoc).
    QueryDef(
      "q_cvm_test",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.cramerVonMises(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "cents")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        r AS (
          SELECT event_type, b,
                 (2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
                    + COUNT(*) OVER (PARTITION BY event_type, x) - 1)
                   - 2 * ROW_NUMBER() OVER (PARTITION BY event_type, b
                                            ORDER BY x) AS d
          FROM e),
        pc AS (
          SELECT event_type, b, CAST(count(*) AS BIGINT) AS n,
                 SUM(CAST(d AS HUGEINT) * d) AS s
          FROM r GROUP BY 1, 2),
        j AS (
          SELECT a.event_type, a.n AS n_a, b.n AS n_b,
                 CAST(a.n AS HUGEINT) * a.s
                   + CAST(b.n AS HUGEINT) * b.s AS u4
          FROM pc a JOIN pc b
            ON a.event_type = b.event_type AND NOT a.b AND b.b)
        SELECT event_type, n_a, n_b, CAST(u4 AS BIGINT) AS u4,
               CAST(ROUND((CAST(u4 AS DOUBLE) / 4.0
                      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                         * CAST(n_a + n_b AS DOUBLE))
                      - (4.0 * CAST(n_a AS DOUBLE)
                         * CAST(n_b AS DOUBLE) - 1.0)
                        / (6.0 * CAST(n_a + n_b AS DOUBLE)))
                     * 1e6) AS BIGINT) AS t_micro
        FROM j
        ORDER BY event_type
      """)),

    // Population Stability Index per event type on the SAME cohort
    // split as q_ks_test, over 10-dollar value bins — the
    // ML-monitoring industry's drift number with its conventional
    // 0.1/0.25 action bands, reported beside the sharper
    // distribution tests. Laplace-smoothed shares over the union of
    // occupied bins; per-bin contributions are one IEEE sequence
    // nano-snapped and integer-summed
    // (DistributionTests.psi scaladoc).
    QueryDef(
      "q_psi",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.psi(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                expr("CAST(ROUND(value * 100) AS BIGINT) div 1000")
                  .as("bin")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "bin")
          .orderBy(col("event_type"))
      },
      Some(psiOracle)),

    // Streaming twin of q_psi — the live drift dashboard number as
    // mapGroupsWithState: state is one bin→count map per cohort
    // (O(occupied bins), never the row count) and every trigger
    // replays the batch operator's exact per-bin nano lattice (the
    // HALF_UP snap replicated bit-for-bit). Map folds commute, so
    // micro-batch splits cannot change the result; shares q_psi's
    // oracle (StreamingOps.psiState scaladoc).
    QueryDef(
      "q_stream_psi",
      (s, dir) =>
        graft.streaming.StreamingOps.psiHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(psiOracle)),

    // PSI with ENGINE-DERIVED equal-frequency bins on the raw cents
    // values — q_psi requires the caller to pre-bucket (explicit
    // 10-dollar bins); here the 9 interior edges are the reference
    // cohort's exact equal-frequency quantiles (lower order
    // statistics on the cross-multiplied integral threshold), so
    // drift monitoring needs no caller-side pass over 100 TB to
    // decide edges and the whole chain stays oracle-replayable
    // (DistributionTests.psiBinned scaladoc).
    QueryDef(
      "q_psi_binned",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.psiBinned(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "cents", nBins = 10)
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        rv AS (
          SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS c
          FROM e WHERE NOT b GROUP BY 1, 2),
        cum AS (
          SELECT event_type, x,
                 SUM(c) OVER (PARTITION BY event_type ORDER BY x)
                   AS cw,
                 SUM(c) OVER (PARTITION BY event_type) AS n
          FROM rv),
        ed AS (
          SELECT event_type, q.i, MIN(x) AS e
          FROM cum CROSS JOIN
               (SELECT unnest(range(1, 10)) AS i) q
          WHERE cw * 10 >= n * q.i
          GROUP BY 1, 2),
        edd AS (SELECT DISTINCT event_type, e FROM ed),
        vals AS (SELECT DISTINCT event_type, x FROM e
                 WHERE event_type IN (SELECT event_type FROM edd)),
        vb AS (
          SELECT v.event_type, v.x, CAST(COUNT(d.e) AS BIGINT) AS bin
          FROM vals v LEFT JOIN edd d
            ON d.event_type = v.event_type AND d.e <= v.x
          GROUP BY 1, 2),
        eb AS (
          SELECT e.event_type, e.b, vb.bin
          FROM e JOIN vb
            ON vb.event_type = e.event_type AND vb.x = e.x),
        pb AS (
          SELECT event_type, bin,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
          FROM eb GROUP BY 1, 2),
        mk AS (
          SELECT *,
                 SUM(ca) OVER (PARTITION BY event_type) AS na,
                 SUM(cb) OVER (PARTITION BY event_type) AS nb,
                 COUNT(*) OVER (PARTITION BY event_type) AS nbins
          FROM pb),
        tm AS (
          SELECT event_type, na, nb, nbins,
                 CAST(ROUND((
                     (CAST(ca AS DOUBLE) + 1.0)
                       / (CAST(na AS DOUBLE) + CAST(nbins AS DOUBLE))
                   - (CAST(cb AS DOUBLE) + 1.0)
                       / (CAST(nb AS DOUBLE) + CAST(nbins AS DOUBLE)))
                   * ln(((CAST(ca AS DOUBLE) + 1.0)
                         / (CAST(na AS DOUBLE)
                            + CAST(nbins AS DOUBLE)))
                        / ((CAST(cb AS DOUBLE) + 1.0)
                           / (CAST(nb AS DOUBLE)
                              + CAST(nbins AS DOUBLE))))
                   * 1e9) AS BIGINT) AS t
          FROM mk)
        SELECT event_type,
               CAST(MAX(na) AS BIGINT) AS n_a,
               CAST(MAX(nb) AS BIGINT) AS n_b,
               CAST(MAX(nbins) AS BIGINT) AS n_bins,
               CAST(ROUND(CAST(SUM(t) AS DOUBLE) / 1e9 * 1e6)
                 AS BIGINT) AS psi_micro
        FROM tm GROUP BY 1
        HAVING MAX(na) > 0 AND MAX(nb) > 0
        ORDER BY event_type
      """)),

    // Two-sample energy distance on the SAME cohort split as
    // q_ks_test / q_cvm_test — the metric-space test consistent
    // against EVERY fixed alternative: the pairwise |x−y| sums are
    // never formed as pairs, collapsing to cumulative count/sum
    // windows on the merged order (O(N log N), exact DECIMAL
    // accumulation); intra-tie window order provably cannot move any
    // sum, so both engines agree without a tie-break column
    // (DistributionTests.energyDistance scaladoc).
    QueryDef(
      "q_energy_test",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.energyDistance(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "cents")
          .orderBy(col("event_type"))
      },
      Some(energyOracle)),

    // Streaming twin of q_energy_test — the distribution-drift
    // monitor as mapGroupsWithState: cohort A plays the reference
    // window, cohort B the live feed, and every trigger re-derives
    // the exact pairwise-sum statistics from two value→count maps
    // (state is O(distinct values), never the row count; the replay
    // walks merged sorted values once, the same O(D) collapse the
    // batch operator expresses as windows). Map folds commute, so
    // micro-batch splits cannot change the result; shares
    // q_energy_test's oracle (StreamingOps.energyState scaladoc).
    QueryDef(
      "q_stream_energy",
      (s, dir) =>
        graft.streaming.StreamingOps.energyHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(energyOracle)),

    // Poisson-bootstrap 95% CI on the conversion rate: 200 replicate
    // rates from ONE corpus pass (per-row Poisson(1) weights from a
    // 31-bit LCG both engines evaluate exactly — Bootstrap scaladoc),
    // reported as exact order statistics, no float summation. The
    // scale story IS the operator: B resamples without a single
    // resampling shuffle.
    QueryDef(
      "q_bootstrap_ci",
      (s, dir) => {
        import graft.operators.Bootstrap
        Bootstrap.rateCI(
            Tables.events(s, dir).select(col("event_id"), col("value")),
            "event_id", col("value") > 50.0, b = 200)
          .orderBy(col("stat"))
      },
      Some("""
        WITH reps AS (SELECT unnest(range(0, 200)) AS rep),
        base AS (
          SELECT event_id AS id,
                 CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
          FROM events),
        d AS (
          SELECT rep, s,
                 xor(((id % 2147483648) * 2654435761) % 2147483648,
                     ((rep % 2147483648) * 2246822519) % 2147483648)
                   AS seed
          FROM base CROSS JOIN reps),
        d1 AS (
          SELECT rep, s,
                 (seed * 1103515245 + 12345) % 2147483648 AS s1
          FROM d),
        d2 AS (
          SELECT rep, s, xor(s1, s1 >> 15) AS s2 FROM d1),
        u AS (
          SELECT rep, s,
                 CAST((s2 * 32310901 + 1013904223) % 2147483648 AS DOUBLE)
                   / 2147483648.0 AS u
          FROM d2),
        w AS (
          SELECT rep, s,
                 CASE WHEN u < 0.367879 THEN 0
                      WHEN u < 0.735759 THEN 1
                      WHEN u < 0.919699 THEN 2
                      WHEN u < 0.981012 THEN 3
                      WHEN u < 0.996340 THEN 4
                      WHEN u < 0.999406 THEN 5
                      ELSE 6 END AS w
          FROM u),
        rates AS (
          SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
                 ROUND(CAST(sum(w * s) AS DOUBLE)
                       / CAST(sum(w) AS BIGINT), 6) AS rate
          FROM w GROUP BY rep),
        ranked AS (
          SELECT rep, n_eff, rate,
                 ROW_NUMBER() OVER (ORDER BY rate, rep) AS rn
          FROM rates)
        SELECT CASE WHEN rn = 5 THEN 'p025' WHEN rn = 100 THEN 'p500'
                    ELSE 'p975' END AS stat, rep, n_eff, rate
        FROM ranked WHERE rn IN (5, 100, 196)
        ORDER BY stat
      """)),

    // Ingestion-volume anomaly alarm: hourly buckets more than 2σ
    // from their event type's own mean, z-tested in pure integer
    // arithmetic — (c·H−S)² > 4·(H·SS−S²), no sqrt, no float — so
    // the flag set is engine- and partitioning-exact (TimeSeries
    // .anomalousCounts scaladoc).
    QueryDef(
      "q_event_anomaly",
      (s, dir) =>
        graft.operators.TimeSeries.anomalousCounts(
            Tables.events(s, dir), "event_type", "ts", z = 2)
          .orderBy(col("event_type"), col("hour_start")),
      Some("""
        WITH c AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                   AS hour_start,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT event_type, count(*) AS h,
                 CAST(sum(n) AS BIGINT) AS s,
                 CAST(sum(n * n) AS BIGINT) AS ss
          FROM c GROUP BY 1)
        SELECT c.event_type, c.hour_start, c.n,
               CASE WHEN c.n * st.h - st.s > 0 THEN 'high'
                    ELSE 'low' END AS side
        FROM c JOIN st USING (event_type)
        WHERE (c.n * st.h - st.s) * (c.n * st.h - st.s)
              > 4 * (st.h * st.ss - st.s * st.s)
        ORDER BY c.event_type, c.hour_start
      """)),

    // The SAME alarm with the counts accumulated by a watermarked
    // streaming window aggregation — identical flag set by
    // construction (integer z-test over the materialized counts), so
    // it shares q_event_anomaly's batch oracle.
    QueryDef(
      "q_stream_anomaly",
      (s, dir) =>
        graft.streaming.StreamingOps
          .anomalousCountStream(s, s"$dir/events.parquet", z = 2)
          .orderBy(col("event_type"), col("hour_start")),
      Some("""
        WITH c AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
                   AS hour_start,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        st AS (
          SELECT event_type, count(*) AS h,
                 CAST(sum(n) AS BIGINT) AS s,
                 CAST(sum(n * n) AS BIGINT) AS ss
          FROM c GROUP BY 1)
        SELECT c.event_type, c.hour_start, c.n,
               CASE WHEN c.n * st.h - st.s > 0 THEN 'high'
                    ELSE 'low' END AS side
        FROM c JOIN st USING (event_type)
        WHERE (c.n * st.h - st.s) * (c.n * st.h - st.s)
              > 4 * (st.h * st.ss - st.s * st.s)
        ORDER BY c.event_type, c.hour_start
      """)),

    // Interval × interval overlap join: concurrent-session pairs
    // across the user-population split (users < 75 vs >= 75), session
    // spans from the 1800 s gap rule. Declaratively this is a pure
    // inequality join (cartesian plan); RangeJoin.bucketedIntervalOverlap
    // grid-blocks both sides into 1-hour buckets and emits each pair
    // in its first shared bucket — one bucket-keyed shuffle, no
    // distinct pass. Oracle runs the naive theta join.
    QueryDef(
      "q_interval_join",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        val spans = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .withColumn("pus", lag(col("us"), 1).over(w))
          .withColumn("brk",
            when(col("pus").isNull ||
              col("us") - col("pus") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sid", sum(col("brk")).over(w))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("us")).as("st"), max(col("us")).as("en"))
        val a = spans.filter(col("user_id") < 75)
          .select(col("user_id").as("a_user"), col("sid").as("a_sid"),
            col("st").as("a_st"), col("en").as("a_en"))
        val b = spans.filter(col("user_id") >= 75)
          .select(col("user_id").as("b_user"), col("sid").as("b_sid"),
            col("st").as("b_st"), col("en").as("b_en"))
        RangeJoin.bucketedIntervalOverlap(
            a, "a_st", "a_en", b, "b_st", "b_en",
            bucketWidth = 3600e6)
          .select(col("a_user"), col("a_sid"), col("b_user"), col("b_sid"),
            (least(col("a_en"), col("b_en")) -
              greatest(col("a_st"), col("b_st"))).as("overlap_us"))
          .orderBy(col("a_user"), col("a_sid"), col("b_user"), col("b_sid"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        d AS (
          SELECT user_id, us,
                 lag(us) OVER (PARTITION BY user_id ORDER BY us) AS pus
          FROM e),
        m AS (
          SELECT user_id, us,
                 CASE WHEN pus IS NULL OR us - pus > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM d),
        ss AS (
          SELECT user_id, us,
                 CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us)
                      AS BIGINT) AS sid
          FROM m),
        spans AS (
          SELECT user_id, sid, min(us) AS st, max(us) AS en
          FROM ss GROUP BY 1, 2)
        SELECT a.user_id AS a_user, a.sid AS a_sid,
               b.user_id AS b_user, b.sid AS b_sid,
               CAST(least(a.en, b.en) - greatest(a.st, b.st) AS BIGINT)
                 AS overlap_us
        FROM spans a JOIN spans b
          ON a.user_id < 75 AND b.user_id >= 75
         AND a.st <= b.en AND b.st <= a.en
        ORDER BY a_user, a_sid, b_user, b_sid
      """)),

    // Event-path mining: per-user ordered event-type trigrams (the
    // Markov-chain / user-journey kernel), counted corpus-wide, top
    // 25 by (n desc, path asc) — deterministic through the tie group
    // the cut splits. One window exchange keyed by user, one
    // path-keyed aggregation, bounded TakeOrdered final.
    QueryDef(
      "q_session_paths",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"), col("event_type"))
          .withColumn("t1", lead(col("event_type"), 1).over(w))
          .withColumn("t2", lead(col("event_type"), 2).over(w))
          .where(col("t1").isNotNull && col("t2").isNotNull)
          .select(concat_ws(">", col("event_type"), col("t1"), col("t2"))
            .as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(25)
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
          FROM events),
        p AS (
          SELECT event_type,
                 lead(event_type, 1) OVER w AS t1,
                 lead(event_type, 2) OVER w AS t2
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        paths AS (
          SELECT event_type || '>' || t1 || '>' || t2 AS path
          FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL)
        SELECT path, CAST(count(*) AS BIGINT) AS n
        FROM paths GROUP BY 1
        ORDER BY n DESC, path LIMIT 25
      """)),

    // Rolling-window feature backfill (training-feature engineering):
    // per-user ROWS-frame rolling mean/max over the trailing 5 events
    // plus the lag delta — one window exchange serves all three. The
    // frame sum rides DECIMAL(18,2) so accumulation order can't
    // perturb the 6-dp mean; max and the lag subtraction are
    // order-safe doubles.
    QueryDef(
      "q_rolling_features",
      (s, dir) => {
        val wo = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val w5 = wo.rowsBetween(-4, 0)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("value"))
          .select(col("event_id"), col("user_id"), col("value"),
            round(sum(col("value").cast(DecimalType(18, 2))).over(w5)
              .cast("double") / count(lit(1)).over(w5), 6)
              .as("roll_avg5"),
            max(col("value")).over(w5).as("roll_max5"),
            (col("value") - lag(col("value"), 1).over(wo)).as("delta"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
          FROM events)
        SELECT event_id, user_id, value,
               ROUND(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w5
                          AS DOUBLE) / (count(*) OVER w5), 6)
                 AS roll_avg5,
               max(value) OVER w5 AS roll_max5,
               value - lag(value) OVER wo AS delta
        FROM e
        WINDOW wo AS (PARTITION BY user_id ORDER BY us, event_id),
               w5 AS (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
      """)),

    // Last-touch attribution: each purchase claims the same user's
    // most recent strictly-earlier click/view (id, channel, and µs
    // gap come from the SAME row because all three last_value frames
    // share one total order). One user-keyed window exchange over the
    // full stream, then the purchase filter — no self-join, so the
    // 100-TB shape is a single shuffle keyed by the user.
    QueryDef(
      "q_attribution",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val isTouch = col("event_type").isin("click", "view")
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("touch_event_id",
            last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
          .withColumn("touch_type",
            last(when(isTouch, col("event_type")), ignoreNulls = true)
              .over(w))
          .withColumn("touch_us",
            last(when(isTouch, col("us")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("touch_event_id"),
            col("touch_type"),
            (col("us") - col("touch_us")).as("gap_us"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        t AS (
          SELECT event_id, user_id, event_type, us,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN event_id END IGNORE NULLS) OVER w
                   AS touch_event_id,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN us END IGNORE NULLS) OVER w
                   AS touch_us
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING))
        SELECT event_id, user_id, touch_event_id, touch_type,
               us - touch_us AS gap_us
        FROM t WHERE event_type = 'purchase'
        ORDER BY event_id
      """)),

    // Debounce: drop an event when the same user emitted the same
    // event type within the trailing hour — the telemetry-retry /
    // double-fire cleanup that runs before any funnel or attribution
    // analysis. Pure lag comparison on the (user, type) window: one
    // exchange, no state beyond a single predecessor row.
    QueryDef(
      "q_debounce",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("prev_us", lag(col("us"), 1).over(w))
          .filter(col("prev_us").isNull ||
            col("us") - col("prev_us") > lit(3600000000L))
          .select(col("event_id"), col("user_id"), col("event_type"))
          .orderBy(col("event_id"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        l AS (
          SELECT event_id, user_id, event_type, us,
                 lag(us) OVER (PARTITION BY user_id, event_type
                               ORDER BY us, event_id) AS prev_us
          FROM e)
        SELECT event_id, user_id, event_type
        FROM l
        WHERE prev_us IS NULL OR us - prev_us > 3600000000
        ORDER BY event_id
      """)),

    // Click/view-to-purchase latency: the exact LOWER median of the
    // attribution gap per channel, selected by rank ((n+1) div 2
    // under the (gap, event_id) total order) rather than interpolated
    // — engines disagree on even-n interpolation, never on element
    // selection. Composes the attribution window pass; one extra
    // channel-keyed window for the rank.
    QueryDef(
      "q_step_latency",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val isTouch = col("event_type").isin("click", "view")
        val gaps = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("touch_type",
            last(when(isTouch, col("event_type")), ignoreNulls = true)
              .over(w))
          .withColumn("touch_us",
            last(when(isTouch, col("us")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase" &&
            col("touch_us").isNotNull)
          .select(col("event_id"), col("touch_type"),
            (col("us") - col("touch_us")).as("gap_us"))
        val wr = Window.partitionBy(col("touch_type"))
          .orderBy(col("gap_us"), col("event_id"))
        val wn = Window.partitionBy(col("touch_type"))
        gaps
          .withColumn("rnk", row_number().over(wr))
          .withColumn("n", count(lit(1)).over(wn))
          .filter(col("rnk") === (col("n") + 1).divide(2).cast("long"))
          .select(col("touch_type"), col("n"),
            col("gap_us").as("median_gap_us"))
          .orderBy(col("touch_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        t AS (
          SELECT event_id, event_type, us,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN us END IGNORE NULLS) OVER w
                   AS touch_us
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING)),
        gaps AS (
          SELECT event_id, touch_type, us - touch_us AS gap_us
          FROM t
          WHERE event_type = 'purchase' AND touch_us IS NOT NULL),
        ranked AS (
          SELECT touch_type, event_id, gap_us,
                 ROW_NUMBER() OVER (PARTITION BY touch_type
                                    ORDER BY gap_us, event_id) AS rnk,
                 COUNT(*) OVER (PARTITION BY touch_type) AS n
          FROM gaps)
        SELECT touch_type, CAST(n AS BIGINT) AS n,
               gap_us AS median_gap_us
        FROM ranked
        WHERE rnk = (n + 1) // 2
        ORDER BY touch_type
      """)),

    // Streaming twin of q_debounce: one last-SEEN timestamp of state
    // per (user, type) — lag semantics, a suppressed row still
    // extends the window — sharing the batch oracle.
    QueryDef(
      "q_stream_debounce",
      (s, dir) =>
        StreamingOps.debounceHistory(
            s, s"$dir/events.parquet", gapUs = 3600000000L)
          .orderBy(col("event_id")),
      Some("""
        WITH e AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        l AS (
          SELECT event_id, user_id, event_type, us,
                 lag(us) OVER (PARTITION BY user_id, event_type
                               ORDER BY us, event_id) AS prev_us
          FROM e)
        SELECT event_id, user_id, event_type
        FROM l
        WHERE prev_us IS NULL OR us - prev_us > 3600000000
        ORDER BY event_id
      """)),

    // Streaming twin of q_attribution: last-touch state per user via
    // flatMapGroupsWithState (O(1) state per user — one Touch row),
    // purchases emitting as they arrive. Same oracle as the batch
    // window pass, proving stateful replay ≡ window replay.
    QueryDef(
      "q_stream_attribution",
      (s, dir) =>
        StreamingOps.attributionHistory(s, s"$dir/events.parquet")
          .orderBy(col("event_id")),
      Some("""
        WITH e AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        t AS (
          SELECT event_id, user_id, event_type, us,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN event_id END IGNORE NULLS) OVER w
                   AS touch_event_id,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
                 last_value(CASE WHEN event_type IN ('click', 'view')
                                 THEN us END IGNORE NULLS) OVER w
                   AS touch_us
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING))
        SELECT event_id, user_id, touch_event_id, touch_type,
               us - touch_us AS gap_us
        FROM t WHERE event_type = 'purchase'
        ORDER BY event_id
      """)),

    // A/B experiment readout: odd-user cohort vs even-user cohort,
    // conversion = value > 50, per event type. The z-test verdict is
    // exact integer arithmetic (AbTest scaladoc: z²=2401/625 cross-
    // multiplied, DECIMAL interior) — one map-side-combined groupBy,
    // no join, no window, so both engines agree bit-for-bit.
    QueryDef(
      "q_ab_test",
      (s, dir) => {
        import graft.operators.AbTest
        AbTest.twoProportion(
            Tables.events(s, dir),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            col("value") > 50.0)
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type,
                 CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS b,
                 CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
          FROM events),
        g AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN b = 0 THEN s ELSE 0 END) AS BIGINT)
                   AS c_a,
                 CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(sum(CASE WHEN b = 1 THEN s ELSE 0 END) AS BIGINT)
                   AS c_b
          FROM e GROUP BY 1)
        SELECT event_type, n_a, c_a, n_b, c_b,
               CASE WHEN CAST(625 AS HUGEINT)
                         * (c_a*n_b - c_b*n_a) * (c_a*n_b - c_b*n_a)
                         * (n_a + n_b)
                       > CAST(2401 AS HUGEINT)
                         * (c_a + c_b) * ((n_a + n_b) - (c_a + c_b))
                         * n_a * n_b
                    THEN CASE WHEN c_a*n_b - c_b*n_a > 0
                              THEN 'a' ELSE 'b' END
                    ELSE 'none' END AS winner
        FROM g
        ORDER BY event_type
      """)),

    // Offline CUSUM change point over each event type's daily count
    // series: argmax_i |n·S_i| on the exact integer lattice
    // (ChangePoint.cusum scaladoc). One window pass per series + one
    // per-series aggregation.
    QueryDef(
      "q_changepoint",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.cusum(daily, "event_type", "i", "x")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH series AS (
          SELECT event_type,
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS day,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        idx AS (
          SELECT event_type, x,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS i
          FROM series),
        pre AS (
          SELECT event_type, i, x,
                 SUM(x) OVER (PARTITION BY event_type ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS ps
          FROM idx),
        tot AS (
          SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx
          FROM idx GROUP BY 1),
        nsi AS (
          SELECT p.event_type, p.i, t.n,
                 CAST(t.n * p.ps - p.i * t.sx AS BIGINT) AS nsi
          FROM pre p JOIN tot t USING (event_type)
          WHERE t.n >= 2 AND p.i < t.n),
        best AS (
          SELECT event_type, i AS change_idx, nsi AS ns_dev, n,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY abs(nsi) DESC, i) AS rn
          FROM nsi)
        SELECT event_type, change_idx, ns_dev, n
        FROM best WHERE rn = 1
        ORDER BY event_type
      """)),

    // Per-series autocorrelation at lags 1..3 on the n²-scaled exact
    // integer lattice (ChangePoint.autocorr scaladoc): is event
    // volume persistent day-over-day, and at what horizon?
    QueryDef(
      "q_acf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.autocorr(
            daily, "event_type", "i", "x", maxLag = 3)
          .select(col("event_type"), col("lag"), col("n"), col("r_micro"))
          .orderBy(col("event_type"), col("lag"))
      },
      Some("""
        WITH series AS (
          SELECT event_type,
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                   AS day,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        idx AS (
          SELECT event_type, CAST(x AS BIGINT) AS x,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS i
          FROM series),
        tot AS (
          SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(x * x) AS BIGINT) AS sxx
          FROM idx GROUP BY 1),
        lags AS (SELECT unnest([1, 2, 3]) AS lag),
        pairs AS (
          SELECT h.event_type, l.lag, h.x AS xh, t.x AS xt
          FROM idx h
          CROSS JOIN lags l
          JOIN idx t ON t.event_type = h.event_type
                    AND t.i = h.i + l.lag),
        perlag AS (
          SELECT event_type, lag,
                 CAST(SUM(xh * xt) AS BIGINT) AS sxy,
                 CAST(SUM(xh) AS BIGINT) AS sh,
                 CAST(SUM(xt) AS BIGINT) AS st
          FROM pairs GROUP BY 1, 2)
        SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag, t.n,
               CAST(ROUND(
                 CAST(t.n * t.n * p.sxy
                      - t.n * t.sx * (p.sh + p.st)
                      + (t.n - p.lag) * t.sx * t.sx AS DOUBLE) * 1e6
                 / CAST(t.n * t.n * t.sxx - t.n * t.sx * t.sx AS DOUBLE))
                 AS BIGINT) AS r_micro
        FROM perlag p JOIN tot t USING (event_type)
        WHERE t.n * t.sxx <> t.sx * t.sx
        ORDER BY event_type, lag
      """)),

    // SAX symbolization of each event type's hourly series: 8
    // equal-count PAA chunks, 4-letter equal-frequency alphabet — a
    // million-point series becomes an 8-char motif word, with both
    // classic float steps replaced by integer-lattice equivalents
    // (TimeSeries.saxWords scaladoc). Oracle replays the chunk
    // assignment and the per-key ntile with the same tie order.
    QueryDef(
      "q_sax",
      (s, dir) =>
        graft.operators.TimeSeries.saxWords(
            Tables.events(s, dir), "event_type", "ts",
            segments = 8, alphabet = 4)
          .orderBy(col("event_type"), col("segment")),
      Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        idx AS (
          SELECT event_type, n,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY h) - 1 AS i,
                 COUNT(*) OVER (PARTITION BY event_type) AS nh
          FROM hourly),
        chunks AS (
          SELECT event_type,
                 CAST((i * 8) // nh AS INTEGER) AS segment,
                 CAST(count(*) AS BIGINT) AS n_hours,
                 CAST(sum(n) AS BIGINT) AS paa_sum
          FROM idx GROUP BY 1, 2)
        SELECT event_type, segment, n_hours, paa_sum,
               chr(CAST(96 + ntile(4) OVER (PARTITION BY event_type
                                            ORDER BY paa_sum, segment)
                        AS INTEGER)) AS symbol
        FROM chunks
        ORDER BY event_type, segment
      """)),

    // Kaplan-Meier + Nelson-Aalen survival curves for signup →
    // purchase conversion with right censoring (users who never
    // purchased leave the risk set at their last event instead of
    // biasing the curve — Survival scaladoc). The oracle replays the
    // risk sets with a reversed running count and the KM product
    // with a recursive CTE in the same ascending step order.
    QueryDef(
      "q_survival",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val t0 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("t0"))
        val dur = e.join(t0, "user_id")
          .groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "purchase" &&
            col("us") > col("t0"), col("us"))).as("tp"),
            max(col("us")).as("tmax"), max(col("t0")).as("t00"))
          .select(
            when(col("tp").isNotNull, col("tp") - col("t00"))
              .otherwise(col("tmax") - col("t00")).as("duration"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("event"))
        graft.operators.Survival.curves(dur, "duration", "event")
          .orderBy(col("t"))
      },
      Some(survivalOracle)),

    // Two-group log-rank test on the SAME signup→purchase durations
    // as q_survival, cohorts by user parity: do the two cohorts
    // convert at the same rate, with censored users counted
    // correctly (they leave the risk set without an event — a naive
    // rate comparison silently drops them). Hypergeometric O−E and
    // variance terms per event time: E on the kruskal div+remnano
    // lattice, each V term one IEEE sequence nano-snapped and
    // integer-summed, z at the micro edge
    // (Survival.logRank scaladoc).
    QueryDef(
      "q_logrank",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val t0 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("t0"))
        val dur = e.join(t0, "user_id")
          .groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "purchase" &&
            col("us") > col("t0"), col("us"))).as("tp"),
            max(col("us")).as("tmax"), max(col("t0")).as("t00"))
          .select(col("user_id"),
            when(col("tp").isNotNull, col("tp") - col("t00"))
              .otherwise(col("tmax") - col("t00")).as("duration"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("event"))
          .withColumn("part", lit("all"))
        graft.operators.Survival.logRank(dur, "part",
          pmod(col("user_id"), lit(2L)) === 1, "duration", "event")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        t0 AS (SELECT user_id, min(us) AS t0 FROM e
               WHERE event_type = 'signup' GROUP BY 1),
        dur AS (
          SELECT user_id % 2 = 1 AS b,
                 CASE WHEN tp IS NOT NULL THEN tp - t00
                      ELSE tmax - t00 END AS t,
                 CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM (
            SELECT e.user_id,
                   min(CASE WHEN e.event_type = 'purchase'
                            AND e.us > t0.t0 THEN e.us END) AS tp,
                   max(e.us) AS tmax, max(t0.t0) AS t00
            FROM e JOIN t0 USING (user_id)
            GROUP BY 1)),
        pt AS (
          SELECT t,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb,
                 CAST(SUM(CASE WHEN b THEN ev ELSE 0 END) AS BIGINT)
                   AS db,
                 CAST(SUM(ev) AS BIGINT) AS dall
          FROM dur GROUP BY 1),
        rk AS (
          SELECT *,
                 CAST(SUM(ca) OVER wd AS BIGINT) AS na,
                 CAST(SUM(cb) OVER wd AS BIGINT) AS nb
          FROM pt
          WINDOW wd AS (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)),
        evs AS (
          SELECT dall AS d, na + nb AS n, na, nb, db
          FROM rk WHERE dall > 0),
        tm AS (
          SELECT db,
                 (d * nb) // n AS eq,
                 CAST(ROUND(CAST((d * nb) % n AS DOUBLE)
                      / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS er,
                 CASE WHEN n >= 2 THEN
                   CAST(ROUND(CAST(d * (n - d) AS DOUBLE)
                        * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0)) * 1e9)
                     AS BIGINT)
                 ELSE 0 END AS vn
          FROM evs),
        sz AS (
          SELECT CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
          FROM dur),
        ag AS (
          SELECT CAST(SUM(db) AS BIGINT) AS o_b,
                 CAST(SUM(eq) AS BIGINT) AS eqs,
                 CAST(SUM(er) AS BIGINT) AS ers,
                 CAST(SUM(vn) AS BIGINT) AS v_nano
          FROM tm)
        SELECT 'all' AS part, sz.n_a, sz.n_b, ag.o_b,
               CAST(ag.eqs * 1000000000 + ag.ers AS BIGINT)
                 AS e_b_nano,
               ag.v_nano,
               CAST(ROUND((CAST(ag.o_b AS DOUBLE)
                      - (CAST(ag.eqs AS DOUBLE)
                         + CAST(ag.ers AS DOUBLE) / 1e9))
                    / sqrt(CAST(ag.v_nano AS DOUBLE) / 1e9) * 1e6)
                 AS BIGINT) AS z_micro
        FROM sz, ag
        WHERE sz.n_a > 0 AND sz.n_b > 0 AND ag.v_nano > 0
      """)),

  )
}

package graft.queries

import graft.QueryDef

/** Events-table queries: batch window aggregation, sessionization,
  * JSON extraction — each with a Structured-Streaming twin where the
  * semantics allow a deterministic batch oracle — plus the multimodal
  * binary-column queries.
  */
object EventQueries {

  /** Batch oracle shared by q_transitions and its streaming twin. */
  private[queries] val transitionsOracle = """
    WITH seq AS (
      SELECT event_type AS from_state,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
               AS to_state
      FROM events),
    pairs AS (
      SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_state IS NOT NULL
      GROUP BY 1, 2),
    tot AS (
      SELECT from_state, CAST(SUM(n) AS BIGINT) AS t
      FROM pairs GROUP BY 1)
    SELECT p.from_state, p.to_state, p.n,
           CAST((p.n * 1000000) // t.t AS BIGINT) AS p_ppm
    FROM pairs p JOIN tot t USING (from_state)
    ORDER BY p.from_state, p.to_state
  """

  /** Batch oracle shared by the batch and streaming window queries. */
  private[queries] val windowOracle = """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
  """

  /** Batch oracle shared by the batch and streaming sessionizers:
    * sessions break on inactivity gaps > 1800 s. Gaps compare in epoch
    * MICROseconds after casting to µs TIMESTAMP, so a DuckDB that reads
    * the parquet's TIMESTAMP(NANOS) natively floors exactly like Spark
    * (which reads nanos-as-long and divides by 1000). The SUM is cast
    * to BIGINT: DuckDB types an integer SUM as HUGEINT (int128), which
    * the driver's hash serializes differently from Spark's BIGINT.
    */
  private[queries] val sessionsOracle = """
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(CAST(ts AS TIMESTAMP))) AS pus
      FROM events)
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN pus IS NULL OR us - pus > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM e
    GROUP BY user_id
    ORDER BY user_id
  """

  /** All event queries, in the original registration order. The
    * QueryDef bodies live in three pure-move slice files (round 16,
    * VERDICT r15 #5); this object keeps the shared oracle helpers.
    */
  val all: Seq[QueryDef] =
    EventStreamQueries.all ++
      EventInferenceQueries.all ++
      EventTimeSeriesQueries.all

  /** The SPRT replay shared by q_sprt and its streaming twin: the
    * p0=0.30→p1=0.40, α=β=0.05 constants on the log10 micro lattice
    * (124939 / −66947 per observation, ±1278754 boundaries) —
    * pinned once, identical to AbTest.sprt's driver-computed
    * literals.
    */
  private[queries] lazy val sprtOracle: String = """
        WITH g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END)
                   AS BIGINT) AS successes
          FROM events GROUP BY 1)
        SELECT event_type, n, successes,
               successes * 124939 + (n - successes) * -66947
                 AS llr_micro,
               CASE WHEN successes * 124939 + (n - successes) * -66947
                         >= 1278754 THEN 'accept_h1'
                    WHEN successes * 124939 + (n - successes) * -66947
                         <= -1278754 THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM g ORDER BY event_type
      """

  /** The Friedman complete-block doubled-rank replay (no WITH
    * keyword; ends in the `fr` CTE) shared by q_friedman and
    * q_kendall_w — W reads the same chain through the
    * χ² = m(k−1)W identity.
    */
  private[queries] lazy val friedmanCtes: String = """obs AS (
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
          SELECT cohort, t,
                 2 * RANK() OVER (PARTITION BY cohort, b ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY cohort, b, x) - 1 AS r2
          FROM kept),
        rt AS (
          SELECT cohort, t, CAST(SUM(r2) AS BIGINT) AS rt
          FROM ranked GROUP BY 1, 2),
        nb AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n
               FROM comp GROUP BY 1),
        sq AS (
          SELECT cohort, CAST(count(*) AS BIGINT) AS kt,
                 SUM(CAST(rt AS DECIMAL(38,0))
                     * CAST(rt AS DECIMAL(38,0))) AS s
          FROM rt GROUP BY 1),
        ties AS (
          SELECT cohort, CAST(SUM(tt*tt*tt - tt) AS BIGINT) AS tie
          FROM (SELECT cohort, b, x, CAST(count(*) AS BIGINT) AS tt
                FROM kept GROUP BY 1, 2, 3)
          GROUP BY 1),
        fr AS (
        SELECT sq.cohort,
               nb.n AS n_blocks, sq.kt AS k_treatments,
               CAST(ROUND((3.0 * CAST(s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(kt AS DOUBLE)
                              * (CAST(kt AS DOUBLE) + 1.0))
                           - 3.0 * CAST(n AS DOUBLE)
                             * (CAST(kt AS DOUBLE) + 1.0)) * 1e6)
                 AS BIGINT) AS chi2_micro,
               CAST(ROUND((3.0 * CAST(s AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(kt AS DOUBLE)
                              * (CAST(kt AS DOUBLE) + 1.0))
                           - 3.0 * CAST(n AS DOUBLE)
                             * (CAST(kt AS DOUBLE) + 1.0))
                          / (1.0 - CAST(tie AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(kt AS DOUBLE)
                                * (CAST(kt AS DOUBLE)
                                   * CAST(kt AS DOUBLE) - 1.0)))
                          * 1e6)
                 AS BIGINT) AS chi2_tie_corrected_micro
        FROM sq
        JOIN nb USING (cohort) JOIN ties USING (cohort)
        WHERE sq.kt >= 2 AND nb.n >= 2
          AND ties.tie < nb.n * sq.kt * (sq.kt * sq.kt - 1))"""

  /** The PSI replay shared by q_psi and its streaming twin:
    * Laplace-smoothed shares over the union of occupied 10-dollar
    * bins, per-bin IEEE terms nano-snapped and integer-summed, one
    * micro edge.
    */
  private[queries] lazy val psiOracle: String = """
        WITH e AS (
          SELECT event_type, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) // 1000 AS bin
          FROM events),
        pb AS (
          SELECT event_type, bin,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
          FROM e GROUP BY 1, 2),
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
      """

  /** The mSPRT replay shared by q_msprt and its streaming twin:
    * exact integer sufficient statistics, the DECIMAL variance
    * identity, τ² = 10¹⁴/10¹² = 100 cents² exactly, the pinned ln10
    * constant, and the driver-computed integer reject boundary
    * −round(log₁₀(0.05)·10⁶) = 1301030.
    */
  private[queries] lazy val msprtOracle: String = """
        WITH e AS (
          SELECT event_type AS g, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        c AS (
          SELECT g,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(SUM(CASE WHEN NOT b THEN x ELSE 0 END) AS BIGINT)
                   AS sx_a,
                 CAST(SUM(CASE WHEN b THEN x ELSE 0 END) AS BIGINT)
                   AS sx_b,
                 SUM(CASE WHEN NOT b THEN CAST(x AS HUGEINT) * x
                     ELSE 0 END) AS sxx_a,
                 SUM(CASE WHEN b THEN CAST(x AS HUGEINT) * x
                     ELSE 0 END) AS sxx_b
          FROM e GROUP BY 1),
        m AS (
          SELECT g, n_a, n_b, sx_a, sx_b,
                 CAST(n_a AS HUGEINT) * sxx_a
                   - CAST(sx_a AS HUGEINT) * sx_a AS va,
                 CAST(n_b AS HUGEINT) * sxx_b
                   - CAST(sx_b AS HUGEINT) * sx_b AS vb
          FROM c WHERE n_a >= 2 AND n_b >= 2),
        s AS (
          SELECT g, n_a, n_b,
                 (CAST(va AS DOUBLE) / CAST(n_a AS DOUBLE)
                  + CAST(vb AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)
                   AS sig2,
                 CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                   - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                   AS delta
          FROM m),
        t AS (
          SELECT g, n_a, n_b, delta,
                 sig2 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS s2,
                 CAST(100000000000000 AS DOUBLE) / 1e12 AS tau2
          FROM s),
        l AS (
          SELECT g, n_a, n_b, delta,
                 CAST(ROUND((0.5 * log10(s2 / (s2 + tau2))
                        + delta * delta * tau2
                          / (2.0 * s2 * (s2 + tau2))
                          / 2.302585092994046) * 1e6) AS BIGINT)
                   AS llr10_micro
          FROM t WHERE s2 > 0)
        SELECT g AS event_type, n_a, n_b,
               CAST(ROUND(delta * 1e6) AS BIGINT) AS delta_micro,
               llr10_micro,
               CASE WHEN llr10_micro >= 1301030 THEN 'reject_h0'
                    ELSE 'continue' END AS decision
        FROM l
        ORDER BY event_type
      """

  /** The energy-distance replay shared by q_energy_test and its
    * streaming twin: cumulative count/sum windows on the merged
    * order, exact HUGEINT pair sums, one IEEE sequence each for E
    * and T.
    */
  private[queries] lazy val energyOracle: String = """
        WITH e AS (
          SELECT event_type, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        m AS (
          SELECT event_type, b, x,
                 SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) OVER w AS ca,
                 SUM(CASE WHEN NOT b THEN CAST(x AS HUGEINT)
                          ELSE 0 END) OVER w AS sa,
                 SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) OVER wg AS na,
                 SUM(CASE WHEN NOT b THEN CAST(x AS HUGEINT)
                          ELSE 0 END) OVER wg AS ta,
                 COUNT(*) OVER wi AS rin,
                 SUM(CAST(x AS HUGEINT)) OVER wi AS sin
          FROM e
          WINDOW w AS (PARTITION BY event_type ORDER BY x
                       ROWS UNBOUNDED PRECEDING),
                 wg AS (PARTITION BY event_type),
                 wi AS (PARTITION BY event_type, b ORDER BY x
                        ROWS UNBOUNDED PRECEDING)),
        ag AS (
          SELECT event_type,
                 CAST(MAX(na) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 SUM(CASE WHEN b THEN
                       CAST(x AS HUGEINT) * (2 * ca - na)
                         - 2 * sa + ta
                     ELSE 0 END) AS ab_sum,
                 SUM(CASE WHEN NOT b THEN
                       CAST(x AS HUGEINT) * (rin - 1) - (sin - x)
                     ELSE 0 END) AS aa_sum,
                 SUM(CASE WHEN b THEN
                       CAST(x AS HUGEINT) * (rin - 1) - (sin - x)
                     ELSE 0 END) AS bb_sum
          FROM m GROUP BY 1)
        SELECT event_type, n_a, n_b,
               CAST(ab_sum AS BIGINT) AS ab_sum,
               CAST(aa_sum AS BIGINT) AS aa_sum,
               CAST(bb_sum AS BIGINT) AS bb_sum,
               CAST(ROUND((2.0 * CAST(ab_sum AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                    - 2.0 * CAST(aa_sum AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
                    - 2.0 * CAST(bb_sum AS DOUBLE)
                      / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
                   * 1e6) AS BIGINT) AS e_micro,
               CAST(ROUND(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    / CAST(n_a + n_b AS DOUBLE)
                    * (2.0 * CAST(ab_sum AS DOUBLE)
                       / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                     - 2.0 * CAST(aa_sum AS DOUBLE)
                       / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
                     - 2.0 * CAST(bb_sum AS DOUBLE)
                       / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)))
                   * 1e6) AS BIGINT) AS t_micro
        FROM ag
        WHERE n_a > 0 AND n_b > 0
        ORDER BY event_type
      """

  /** The Mann-Kendall daily-rollup replay shared by q_mann_kendall
    * and its streaming twin.
    */
  private[queries] lazy val mannKendallOracle: String = """
        WITH daily AS (
          SELECT event_type,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS di,
                 CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2),
        p AS (
          SELECT a.event_type,
                 CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                               WHEN b.cents < a.cents THEN -1
                               ELSE 0 END) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.di < b.di
          GROUP BY 1),
        nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
               FROM daily GROUP BY 1),
        ties AS (
          SELECT event_type,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
          FROM (SELECT event_type, cents, count(*) AS t
                FROM daily GROUP BY 1, 2)
          GROUP BY 1)
        SELECT nn.event_type, nn.n, p.s_stat,
               CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie AS BIGINT)
                 AS var_num,
               CAST(ROUND((CASE WHEN p.s_stat > 0
                                THEN CAST(p.s_stat - 1 AS DOUBLE)
                                WHEN p.s_stat < 0
                                THEN CAST(p.s_stat + 1 AS DOUBLE)
                                ELSE 0.0 END
                           / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                                       - t.tie AS DOUBLE) / 18.0))
                          * 1000000.0) AS BIGINT) AS z_micro
        FROM nn JOIN p USING (event_type) JOIN ties t USING (event_type)
        WHERE nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie > 0
        ORDER BY event_type
      """

  /** The Kaplan-Meier / Nelson-Aalen replay shared by q_survival and
    * q_median_survival (full SQL including the RECURSIVE keyword).
    */
  /** Batch oracle shared by q_adf and its streaming twin. */
  private[queries] lazy val adfOracle: String = """
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
        tr AS (
          SELECT event_type,
                 x - LAG(x) OVER (PARTITION BY event_type ORDER BY i)
                   AS v,
                 LAG(x) OVER (PARTITION BY event_type ORDER BY i) AS p,
                 LAG(x) OVER (PARTITION BY event_type ORDER BY i)
                   - LAG(x, 2) OVER (PARTITION BY event_type ORDER BY i)
                   AS q
          FROM idx),
        a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS BIGINT) AS sv,
                 CAST(SUM(p) AS BIGINT) AS sp,
                 CAST(SUM(q) AS BIGINT) AS sq,
                 SUM(CAST(v AS HUGEINT) * p) AS svp0,
                 SUM(CAST(v AS HUGEINT) * q) AS svq0,
                 SUM(CAST(p AS HUGEINT) * q) AS spq0,
                 SUM(CAST(p AS HUGEINT) * p) AS spp0,
                 SUM(CAST(q AS HUGEINT) * q) AS sqq0,
                 SUM(CAST(v AS HUGEINT) * v) AS svv0
          FROM tr WHERE q IS NOT NULL GROUP BY 1),
        ctr AS (
          SELECT event_type, n,
                 CAST(n AS HUGEINT) * spp0
                   - CAST(sp AS HUGEINT) * sp AS spp,
                 CAST(n AS HUGEINT) * sqq0
                   - CAST(sq AS HUGEINT) * sq AS sqq,
                 CAST(n AS HUGEINT) * spq0
                   - CAST(sp AS HUGEINT) * sq AS spq,
                 CAST(n AS HUGEINT) * svp0
                   - CAST(sv AS HUGEINT) * sp AS svp,
                 CAST(n AS HUGEINT) * svq0
                   - CAST(sv AS HUGEINT) * sq AS svq,
                 CAST(n AS HUGEINT) * svv0
                   - CAST(sv AS HUGEINT) * sv AS svv
          FROM a),
        sol AS (
          SELECT event_type, n, spp, sqq, spq, svp, svq, svv,
                 CAST(spp AS DOUBLE) * CAST(sqq AS DOUBLE)
                   - CAST(spq AS DOUBLE) * CAST(spq AS DOUBLE) AS det
          FROM ctr
          WHERE n >= 5 AND spp > 0 AND spp * sqq <> spq * spq),
        bc AS (
          SELECT *, (CAST(svp AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(svq AS DOUBLE) * CAST(spq AS DOUBLE)) / det
                   AS b,
                 (CAST(svq AS DOUBLE) * CAST(spp AS DOUBLE)
                  - CAST(svp AS DOUBLE) * CAST(spq AS DOUBLE)) / det
                   AS c
          FROM sol),
        rs AS (
          SELECT *, CAST(svv AS DOUBLE) - b * CAST(svp AS DOUBLE)
                   - c * CAST(svq AS DOUBLE) AS rssu
          FROM bc),
        t AS (
          SELECT event_type, n,
                 CAST(ROUND(b * 1e6) AS BIGINT) AS beta_micro,
                 CAST(ROUND(b / sqrt(rssu * CAST(sqq AS DOUBLE)
                     / ((CAST(n AS DOUBLE) - 3.0) * det)) * 1e6)
                   AS BIGINT) AS t_micro
          FROM rs WHERE rssu > 0.0)
        SELECT event_type, n, beta_micro, t_micro,
               CASE WHEN t_micro < -2860000 THEN 'stationary'
                    ELSE 'unit_root' END AS verdict
        FROM t
        ORDER BY event_type
      """

  /** Batch oracle shared by q_dickey_fuller and its streaming twin. */
  private[queries] lazy val dickeyFullerOracle: String = """
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
        pr AS (
          SELECT event_type,
                 LAG(x) OVER (PARTITION BY event_type ORDER BY i) AS u,
                 x - LAG(x) OVER (PARTITION BY event_type ORDER BY i)
                   AS v
          FROM idx),
        a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(u) AS BIGINT) AS su,
                 CAST(SUM(v) AS BIGINT) AS sv,
                 SUM(CAST(u AS HUGEINT) * u) AS suu0,
                 SUM(CAST(u AS HUGEINT) * v) AS suv0,
                 SUM(CAST(v AS HUGEINT) * v) AS svv0
          FROM pr WHERE u IS NOT NULL GROUP BY 1),
        c AS (
          SELECT event_type, n,
                 CAST(n AS HUGEINT) * suu0
                   - CAST(su AS HUGEINT) * su AS suu,
                 CAST(n AS HUGEINT) * suv0
                   - CAST(su AS HUGEINT) * sv AS suv,
                 CAST(n AS HUGEINT) * svv0
                   - CAST(sv AS HUGEINT) * sv AS svv
          FROM a),
        t AS (
          SELECT event_type, n,
                 CAST(ROUND(CAST(suv AS DOUBLE) / CAST(suu AS DOUBLE)
                   * 1e6) AS BIGINT) AS beta_micro,
                 CAST(ROUND(
                   (CAST(suv AS DOUBLE) / CAST(suu AS DOUBLE))
                   / sqrt((CAST(svv AS DOUBLE)
                       - CAST(suv AS DOUBLE) * CAST(suv AS DOUBLE)
                         / CAST(suu AS DOUBLE))
                     / ((CAST(n AS DOUBLE) - 2.0)
                        * CAST(suu AS DOUBLE)))
                   * 1e6) AS BIGINT) AS t_micro
          FROM c WHERE n >= 4 AND suu > 0 AND svv * suu > suv * suv)
        SELECT event_type, n, beta_micro, t_micro,
               CASE WHEN t_micro < -2860000 THEN 'stationary'
                    ELSE 'unit_root' END AS verdict
        FROM t
        ORDER BY event_type
      """

  /** Batch oracle shared by q_smd_balance and its streaming twin. */
  private[queries] lazy val smdOracle: String = """
        WITH e AS (
          SELECT event_type, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        a AS (
          SELECT event_type,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN NOT b THEN x ELSE 0 END) AS BIGINT)
                   AS sxa,
                 SUM(CASE WHEN NOT b THEN CAST(x AS HUGEINT) * x
                     ELSE 0 END) AS sxxa,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(SUM(CASE WHEN b THEN x ELSE 0 END) AS BIGINT)
                   AS sxb,
                 SUM(CASE WHEN b THEN CAST(x AS HUGEINT) * x
                     ELSE 0 END) AS sxxb
          FROM e GROUP BY 1),
        v AS (
          SELECT event_type, n_a, n_b,
                 CAST(CAST(n_a AS HUGEINT) * sxxa
                      - CAST(sxa AS HUGEINT) * sxa AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0))
                   AS va,
                 CAST(CAST(n_b AS HUGEINT) * sxxb
                      - CAST(sxb AS HUGEINT) * sxb AS DOUBLE)
                   / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0))
                   AS vb,
                 CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE)
                   - CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) AS md
          FROM a WHERE n_a >= 2 AND n_b >= 2)
        SELECT event_type, n_a, n_b,
               CAST(ROUND(md / sqrt((va + vb) / 2.0) * 1e6) AS BIGINT)
                 AS smd_micro,
               CASE WHEN ABS(CAST(ROUND(md / sqrt((va + vb) / 2.0)
                      * 1e6) AS BIGINT)) < 100000
                    THEN 'balanced' ELSE 'imbalanced' END AS verdict
        FROM v
        WHERE va + vb > 0.0
        ORDER BY event_type
      """

  /** Batch oracle shared by q_dispersion and its streaming twin. */
  private[queries] lazy val dispersionOracle: String = """
        WITH daily AS (
          SELECT event_type,
                 date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS s,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
          FROM daily GROUP BY 1)
        SELECT event_type, n,
               CAST(ROUND(CAST(CAST(n AS HUGEINT) * sxx
                   - CAST(s AS HUGEINT) * s AS DOUBLE)
                 / CAST(s AS DOUBLE) * 1e6) AS BIGINT) AS d_micro,
               CASE WHEN 625 * (CAST(n AS HUGEINT) * sxx
                      - CAST(s AS HUGEINT) * s
                      - CAST(n - 1 AS HUGEINT) * s)
                    * (CAST(n AS HUGEINT) * sxx
                      - CAST(s AS HUGEINT) * s
                      - CAST(n - 1 AS HUGEINT) * s)
                    > CAST(2401 AS HUGEINT) * 2 * (n - 1) * s * s
                 THEN CASE WHEN CAST(n AS HUGEINT) * sxx
                        - CAST(s AS HUGEINT) * s
                        - CAST(n - 1 AS HUGEINT) * s > 0
                      THEN 'overdispersed' ELSE 'underdispersed' END
                 ELSE 'poisson' END AS verdict
        FROM a
        WHERE n >= 2 AND s > 0
        ORDER BY event_type
      """

  /** Batch oracle shared by q_wasserstein and its streaming twin. */
  private[queries] lazy val wassersteinOracle: String = """
        WITH e AS (
          SELECT event_type, user_id % 2 = 1 AS b,
                 CAST(ROUND(value * 100) AS BIGINT) AS v
          FROM events),
        pv AS (
          SELECT event_type, v,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
          FROM e GROUP BY 1, 2),
        st AS (
          SELECT event_type,
                 SUM(ca) OVER wc AS cuma, SUM(cb) OVER wc AS cumb,
                 SUM(ca) OVER wg AS na, SUM(cb) OVER wg AS nb,
                 COALESCE(LEAD(v) OVER wo - v, 0) AS gap
          FROM pv
          WINDOW wc AS (PARTITION BY event_type ORDER BY v
                        ROWS UNBOUNDED PRECEDING),
                 wo AS (PARTITION BY event_type ORDER BY v),
                 wg AS (PARTITION BY event_type)),
        a AS (
          SELECT event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
                 SUM(ABS(CAST(cuma AS HUGEINT) * nb
                         - CAST(cumb AS HUGEINT) * na) * gap) AS num
          FROM st WHERE na > 0 AND nb > 0 GROUP BY 1)
        SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(ROUND(CAST(num AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6)
                 AS BIGINT) AS w1_micro
        FROM a
        ORDER BY event_type
      """

  /** Batch oracle shared by q_gtest and its streaming twin. NULL
    * categories are excluded HERE too, matching the operator's
    * pre-aggregation drop — without the filter, NULL-keyed cells
    * would inflate n via SUM(o) while vanishing from the per-cell
    * terms through the equi-joins (fixtures currently have no NULL
    * keys; the conventions must still agree).
    */
  private[queries] lazy val gtestOracle: String = """
        WITH e AS (
          SELECT event_type AS a, user_id % 3 AS b FROM events
          WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        cells AS (SELECT a, b, count(*) AS o FROM e GROUP BY 1, 2),
        rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                       count(DISTINCT a) AS nr, count(DISTINCT b) AS nc
                FROM cells),
        terms AS (
          SELECT t.n, t.nr, t.nc,
                 ROUND(CAST(o AS DOUBLE) *
                   ln(CAST(o AS DOUBLE) * CAST(t.n AS DOUBLE)
                      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))), 9)
                   AS term
          FROM cells
          JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot t),
        agg AS (
          SELECT n, nr, nc, SUM(CAST(term AS DECIMAL(38,12))) AS terms
          FROM terms GROUP BY 1, 2, 3)
        SELECT n, nr, nc,
               CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
               ROUND(CAST(terms AS DOUBLE) * 2.0, 6) AS g_stat,
               CASE WHEN terms * CAST(20000 AS DECIMAL(38,12))
                       > CAST(155073 AS DECIMAL(38,12))
                    THEN 'dependent' ELSE 'independent' END AS verdict
        FROM agg
      """

  /** Batch oracle shared by q_cmh and its streaming twin. */
  private[queries] lazy val cmhOracle: String = """
        WITH e AS (
          SELECT event_type AS st,
                 user_id % 2 = 1 AS b,
                 value >= 100.0 AS y
          FROM events),
        per AS (
          SELECT st, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
                 CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                   AS m1,
                 CAST(SUM(CASE WHEN b AND y THEN 1 ELSE 0 END)
                   AS BIGINT) AS o
          FROM e GROUP BY 1),
        terms AS (
          SELECT o,
                 (n1 * m1) // n AS eq,
                 CAST(ROUND(CAST((n1 * m1) % n AS DOUBLE)
                      / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS er,
                 CAST(ROUND(CAST(n1 AS DOUBLE)
                      * CAST(n - n1 AS DOUBLE)
                      * CAST(m1 AS DOUBLE)
                      * CAST(n - m1 AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * (CAST(n AS DOUBLE) - 1.0))
                      * 1e9) AS BIGINT) AS vn
          FROM per WHERE n >= 2),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_strata,
                 CAST(SUM(o) AS BIGINT) AS o,
                 CAST(SUM(eq) AS BIGINT) AS eqsum,
                 CAST(SUM(er) AS BIGINT) AS ersum,
                 CAST(SUM(vn) AS BIGINT) AS v_nano
          FROM terms)
        SELECT k_strata, o,
               eqsum * 1000000000 + ersum AS e_nano, v_nano,
               CAST(ROUND(
                 (CAST(o AS DOUBLE)
                  - (CAST(eqsum AS DOUBLE)
                     + CAST(ersum AS DOUBLE) / 1e9))
                 * (CAST(o AS DOUBLE)
                    - (CAST(eqsum AS DOUBLE)
                       + CAST(ersum AS DOUBLE) / 1e9))
                 / (CAST(v_nano AS DOUBLE) / 1e9) * 1e6) AS BIGINT)
                 AS chi2_micro,
               CASE WHEN CAST(ROUND(
                 (CAST(o AS DOUBLE)
                  - (CAST(eqsum AS DOUBLE)
                     + CAST(ersum AS DOUBLE) / 1e9))
                 * (CAST(o AS DOUBLE)
                    - (CAST(eqsum AS DOUBLE)
                       + CAST(ersum AS DOUBLE) / 1e9))
                 / (CAST(v_nano AS DOUBLE) / 1e9) * 1e6) AS BIGINT)
                 > 3841500 THEN 'dependent'
                 ELSE 'independent' END AS verdict
        FROM agg
        WHERE v_nano > 0
      """

  private[queries] lazy val survivalOracle: String = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        t0 AS (SELECT user_id, min(us) AS t0 FROM e
               WHERE event_type = 'signup' GROUP BY 1),
        dur AS (
          SELECT CASE WHEN tp IS NOT NULL THEN tp - t00
                      ELSE tmax - t00 END AS duration,
                 CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS event
          FROM (
            SELECT e.user_id,
                   min(CASE WHEN e.event_type = 'purchase'
                            AND e.us > t0.t0 THEN e.us END) AS tp,
                   max(e.us) AS tmax, max(t0.t0) AS t00
            FROM e JOIN t0 USING (user_id)
            GROUP BY 1)),
        byt AS (
          SELECT duration AS t, count(*) AS alln,
                 CAST(sum(event) AS BIGINT) AS d
          FROM dur GROUP BY 1),
        risked AS (
          SELECT t, d,
                 CAST(SUM(alln) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n
          FROM byt),
        steps AS (
          SELECT t, n, d,
                 ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9)
                   AS term,
                 ROUND(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9)
                   AS factor,
                 ROW_NUMBER() OVER (ORDER BY t) AS i
          FROM risked WHERE d >= 1),
        rec AS (
          SELECT i, factor AS km FROM steps WHERE i = 1
          UNION ALL
          SELECT s.i, r.km * s.factor
          FROM rec r JOIN steps s ON s.i = r.i + 1),
        na AS (
          SELECT t, n, d, i,
                 SUM(CAST(term AS DECIMAL(38,12)))
                   OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumhaz
          FROM steps)
        SELECT na.t, na.n AS n_risk, na.d AS n_events,
               ROUND(rec.km, 6) AS km,
               ROUND(CAST(na.cumhaz AS DOUBLE), 6) AS na_cumhaz
        FROM na JOIN rec USING (i)
        ORDER BY na.t
      """

  /** The Holt-Winters recursive-CTE replay shared by q_holt_winters
    * and its streaming twin. The s_slot and l' subexpressions are
    * INLINED at every use — a lateral alias would silently resolve
    * to the recursive table's same-named column (the previous row's
    * value), a DuckDB name-resolution trap this oracle hit in
    * development; identical expressions produce identical IEEE bits,
    * so inlining preserves the bit-exact replay.
    */
  private[queries] lazy val holtWintersOracle: String = {
    val sold = "CASE (o.i - 1) % 4 WHEN 0 THEN r.s1 WHEN 1 THEN " +
      "r.s2 WHEN 2 THEN r.s3 ELSE r.s4 END"
    val lp = s"0.5 * (o.value - ($sold)) + 0.5 * (r.l + r.b)"
    val snew = s"0.5 * (o.value - ($lp)) + 0.5 * ($sold)"
    s"""
        WITH RECURSIVE ordered AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS i
          FROM events),
        rec AS (
          SELECT user_id, i,
                 value AS l, CAST(0.0 AS DOUBLE) AS b,
                 CAST(0.0 AS DOUBLE) AS s1, CAST(0.0 AS DOUBLE) AS s2,
                 CAST(0.0 AS DOUBLE) AS s3, CAST(0.0 AS DOUBLE) AS s4
          FROM ordered WHERE i = 1
          UNION ALL
          SELECT o.user_id, o.i,
                 $lp AS l,
                 0.5 * (($lp) - r.l) + 0.5 * r.b AS b,
                 CASE WHEN (o.i - 1) % 4 = 0 THEN $snew
                      ELSE r.s1 END AS s1,
                 CASE WHEN (o.i - 1) % 4 = 1 THEN $snew
                      ELSE r.s2 END AS s2,
                 CASE WHEN (o.i - 1) % 4 = 2 THEN $snew
                      ELSE r.s3 END AS s3,
                 CASE WHEN (o.i - 1) % 4 = 3 THEN $snew
                      ELSE r.s4 END AS s4
          FROM rec r JOIN ordered o
            ON o.user_id = r.user_id AND o.i = r.i + 1),
        last AS (
          SELECT user_id, max(i) AS n FROM rec GROUP BY 1)
        SELECT r.user_id, CAST(l2.n AS BIGINT) AS n,
               ROUND(r.l, 6) AS level, ROUND(r.b, 6) AS trend,
               ROUND(r.s1, 6) AS s0, ROUND(r.s2, 6) AS s1,
               ROUND(r.s3, 6) AS s2, ROUND(r.s4, 6) AS s3,
               ROUND(r.l + r.b +
                 CASE l2.n % 4 WHEN 0 THEN r.s1 WHEN 1 THEN r.s2
                      WHEN 2 THEN r.s3 ELSE r.s4 END, 6) AS forecast
        FROM rec r JOIN last l2
          ON r.user_id = l2.user_id AND r.i = l2.n
        ORDER BY r.user_id
      """
  }
}

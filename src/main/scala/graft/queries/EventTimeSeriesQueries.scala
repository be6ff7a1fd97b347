package graft.queries

import graft.{QueryDef, Tables}
import graft.streaming.StreamingOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pure-move slice of [[EventQueries]] (round 16, VERDICT r15 #5).
  * Funnel rates, RFM, Mann-Kendall, SPRT/mSPRT, CUPED, Kuiper/AD/G-test, Ljung-Box, (A)DF, Stuart-Maxwell, Granger, Durbin-Watson, CMH, SMD, JS divergence, dispersion, Wasserstein, Bartlett, Wilson, PACF, RMST + stream twins.
  * Helpers live on EventQueries as private[queries]; behavior is
  * byte-identical — the order of EventQueries.all is preserved.
  */
private[queries] object EventTimeSeriesQueries {
  import EventQueries._

  val all: Seq[QueryDef] = Seq(
    // Stage-to-stage funnel conversion rates: of the users who
    // reached stage k, what ppm continued to k+1 — the derivative
    // view of q_funnel's histogram (reached(k) = Σ_{s>=k} n_users,
    // all integers, one small rollup over the 5-row stage table).
    QueryDef(
      "q_funnel_rates",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        def firstOf(t: String) =
          min(when(col("event_type") === t, col("us"))).as(s"t_$t")
        val stage = when(col("t_signup").isNull, 0)
          .when(col("t_view").isNull || col("t_view") <= col("t_signup"), 1)
          .when(col("t_click").isNull || col("t_click") <= col("t_view"), 2)
          .when(col("t_purchase").isNull ||
            col("t_purchase") <= col("t_click"), 3)
          .otherwise(4)
        val hist = e.groupBy(col("user_id"))
          .agg(firstOf("signup"), firstOf("view"),
            firstOf("click"), firstOf("purchase"))
          .select(stage.as("stage"))
          .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        val wGe = Window.orderBy(col("stage").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist
          .withColumn("reached", sum(col("n_users")).over(wGe))
          .withColumn("reached_next",
            lag(col("reached"), 1).over(Window.orderBy(col("stage"))))
          .select(col("stage"), col("n_users"), col("reached"),
            when(col("stage") > 0, expr(
              "(reached * CAST(1000000 AS BIGINT)) div reached_next"))
              .as("conv_from_prev_ppm"))
          .orderBy(col("stage"))
      },
      Some("""
        WITH f AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t1,
                 min(CASE WHEN event_type = 'view'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t2,
                 min(CASE WHEN event_type = 'click'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t3,
                 min(CASE WHEN event_type = 'purchase'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t4
          FROM events GROUP BY 1),
        s AS (
          SELECT CASE WHEN t1 IS NULL THEN 0
                      WHEN t2 IS NULL OR t2 <= t1 THEN 1
                      WHEN t3 IS NULL OR t3 <= t2 THEN 2
                      WHEN t4 IS NULL OR t4 <= t3 THEN 3
                      ELSE 4 END AS stage
          FROM f),
        hist AS (
          SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM s GROUP BY stage),
        roll AS (
          SELECT stage, n_users,
                 CAST(SUM(n_users) OVER (ORDER BY stage DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS reached
          FROM hist)
        SELECT stage, n_users, reached,
               CASE WHEN stage > 0 THEN
                 CAST((reached * 1000000)
                      // lag(reached, 1) OVER (ORDER BY stage)
                   AS BIGINT) END AS conv_from_prev_ppm
        FROM roll
        ORDER BY stage
      """)),

    // Ingestion-coverage gap audit: hours inside each event type's
    // own [first, last] span with ZERO events — the "did the feed go
    // dark" completeness check (expected hours generated from the
    // span, observed anti-joined away; counts only, all integer).
    QueryDef(
      "q_coverage_gaps",
      (s, dir) => {
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"),
            unix_timestamp(col("window.start")).as("h"))
        val spans = hourly.groupBy(col("event_type"))
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"),
            count(lit(1)).as("n_observed"))
        spans
          .select(col("event_type"), col("n_observed"),
            ((col("h1") - col("h0")) / 3600 + 1).cast("long")
              .as("n_expected"))
          .withColumn("n_missing", col("n_expected") - col("n_observed"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH hourly AS (
          SELECT event_type,
                 epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS h
          FROM events GROUP BY 1, 2),
        spans AS (
          SELECT event_type, min(h) AS h0, max(h) AS h1,
                 CAST(count(*) AS BIGINT) AS n_observed
          FROM hourly GROUP BY 1)
        SELECT event_type, n_observed,
               CAST((h1 - h0) / 3600 + 1 AS BIGINT) AS n_expected,
               CAST((h1 - h0) / 3600 + 1 - n_observed AS BIGINT)
                 AS n_missing
        FROM spans
        ORDER BY event_type
      """)),

    // Median signup→purchase conversion time under censoring: the
    // first event time where the KM survival curve drops to <= 0.5 —
    // THE "how long does conversion take" number, which a naive
    // median-of-converters understates by ignoring everyone still
    // unconverted. One more selection over the q_survival chain.
    QueryDef(
      "q_median_survival",
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
          .filter(col("km") <= 0.5)
          .orderBy(col("t"))
          .limit(1)
          .select(col("t").as("median_t_us"), col("n_risk"),
            col("km"), col("na_cumhaz"))
      },
      Some {
        // wrap the full survival replay: first step at or below 0.5
        s"""WITH survival AS (
          ${survivalOracle.replace("ORDER BY na.t", "")})
        SELECT t AS median_t_us, n_risk, km, na_cumhaz
        FROM survival WHERE km <= 0.5
        ORDER BY t LIMIT 1
      """
      }),

    // Per-user behavioral entropy: Shannon H over the user's
    // event-type distribution — predictability scoring (H near 0 =
    // single-purpose account, high H = diverse journeys), same
    // 9-dp/DECIMAL per-term lattice as q_token_entropy, users with
    // >= 5 events.
    QueryDef(
      "q_session_entropy",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cnts = Tables.events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("user_id"))
        val p = col("c").cast("double") / sum(col("c")).over(w)
        cnts
          .select(col("user_id"),
            sum(col("c")).over(w).as("n"),
            round(negate(p) * log10(p), 9)
              .cast(org.apache.spark.sql.types.DecimalType(38, 12))
              .as("h"))
          .groupBy(col("user_id"))
          .agg(max(col("n")).as("n_events"),
            round(sum(col("h")).cast("double"), 6).as("entropy"))
          .filter(col("n_events") >= 5)
          .orderBy(col("user_id"))
      },
      Some("""
        WITH cnts AS (
          SELECT user_id, event_type, count(*) AS c
          FROM events GROUP BY 1, 2),
        wn AS (
          SELECT user_id, c,
                 CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
          FROM cnts),
        contrib AS (
          SELECT user_id, n,
                 CAST(ROUND(-(CAST(c AS DOUBLE) / n)
                              * log10(CAST(c AS DOUBLE) / n), 9)
                      AS DECIMAL(38,12)) AS h
          FROM wn)
        SELECT user_id, max(n) AS n_events,
               ROUND(CAST(sum(h) AS DOUBLE), 6) AS entropy
        FROM contrib GROUP BY user_id
        HAVING max(n) >= 5
        ORDER BY user_id
      """)),

    // RFM segmentation: per-user Recency/Frequency/Monetary quartile
    // codes — the classic entity-scoring analytic. All three metrics
    // are exact integers (last-touch µs, event count, value-cents
    // sum); quartiles are ntile(4) with (metric, user_id) total
    // orders so the cut replays exactly. The users frame is
    // entity-sized — the quantile-sketch cut is the corpus-scale
    // swap-in for the ntile windows (the q_confidence_bins note).
    QueryDef(
      "q_rfm",
      (s, dir) => {
        val users = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(max(unix_micros(col("ts"))).as("last_us"),
            count(lit(1)).as("freq"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
        // two-pass ntiles (GlobalIds.withNtile, r20): the three naive
        // quartile windows each funneled the USER frame — corpus-
        // proportional — into one partition; the decomposition is
        // bit-identical to ntile (spec-pinned). Descending keys ride
        // as negations.
        val tiled = Seq(("r", "last_us"), ("f", "freq"), ("m", "cents"))
          .foldLeft(users) { case (d, (out, key)) =>
            graft.operators.GlobalIds.withNtile(
              d.withColumn(s"neg_$key", negate(col(key))),
              Seq(s"neg_$key", "user_id"), 4, out)
              .drop(s"neg_$key")
          }
        tiled
          .select(col("user_id"), col("last_us"), col("freq"),
            col("cents"),
            (col("r") * 100 + col("f") * 10 + col("m")).as("rfm"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH u AS (
          SELECT user_id,
                 max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
                 count(*) AS freq,
                 CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1)
        SELECT user_id, last_us, freq, cents,
               ntile(4) OVER (ORDER BY last_us DESC, user_id) * 100
               + ntile(4) OVER (ORDER BY freq DESC, user_id) * 10
               + ntile(4) OVER (ORDER BY cents DESC, user_id) AS rfm
        FROM u
        ORDER BY user_id
      """)),

    // Time-constrained funnel: each stage counts only when its FIRST
    // touch lands within 72 h of the previous stage's — the "did the
    // journey happen as a journey" variant of q_funnel (which admits
    // a purchase months later). Each stage is one conditional min
    // over the user's events after a broadcast join of the previous
    // stage's anchors — funnel depth bounds the pass count.
    QueryDef(
      "q_funnel_steps",
      (s, dir) => {
        val win = 72L * 3600 * 1000000
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        def stage(prev: org.apache.spark.sql.DataFrame, t: String,
            prevCol: String, outCol: String) =
          e.join(prev, "user_id")
            .groupBy(col("user_id"))
            .agg(min(when(col("event_type") === t &&
              col("us") > col(prevCol) &&
              col("us") <= col(prevCol) + win, col("us"))).as(outCol),
              max(col(prevCol)).as(prevCol))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
        val s2 = stage(s1, "view", "t1", "t2")
        val s3 = stage(s2.filter(col("t2").isNotNull)
          .select(col("user_id"), col("t2")), "click", "t2", "t3")
        val s4 = stage(s3.filter(col("t3").isNotNull)
          .select(col("user_id"), col("t3")), "purchase", "t3", "t4")
        val staged = s1
          .join(s2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
          .join(s3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
          .join(s4.select(col("user_id"), col("t4")), Seq("user_id"), "left")
          .select(when(col("t4").isNotNull, 4)
            .when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2)
            .otherwise(1).as("stage"))
        staged.groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("stage"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        s1 AS (SELECT user_id, min(us) AS t1 FROM e
               WHERE event_type = 'signup' GROUP BY 1),
        s2 AS (
          SELECT e.user_id,
                 min(CASE WHEN e.event_type = 'view' AND e.us > s1.t1
                          AND e.us <= s1.t1 + 259200000000
                          THEN e.us END) AS t2
          FROM e JOIN s1 USING (user_id) GROUP BY 1),
        s3 AS (
          SELECT e.user_id,
                 min(CASE WHEN e.event_type = 'click' AND e.us > s2.t2
                          AND e.us <= s2.t2 + 259200000000
                          THEN e.us END) AS t3
          FROM e JOIN s2 USING (user_id)
          WHERE s2.t2 IS NOT NULL GROUP BY 1),
        s4 AS (
          SELECT e.user_id,
                 min(CASE WHEN e.event_type = 'purchase' AND e.us > s3.t3
                          AND e.us <= s3.t3 + 259200000000
                          THEN e.us END) AS t4
          FROM e JOIN s3 USING (user_id)
          WHERE s3.t3 IS NOT NULL GROUP BY 1),
        staged AS (
          SELECT CASE WHEN s4.t4 IS NOT NULL THEN 4
                      WHEN s3.t3 IS NOT NULL THEN 3
                      WHEN s2.t2 IS NOT NULL THEN 2
                      ELSE 1 END AS stage
          FROM s1
          LEFT JOIN s2 USING (user_id)
          LEFT JOIN s3 USING (user_id)
          LEFT JOIN s4 USING (user_id))
        SELECT stage, COUNT(*) AS n_users FROM staged
        GROUP BY stage ORDER BY stage
      """)),

    // Streaming twin of q_funnel: per-user earliest stage touches as
    // O(1) mapGroupsWithState (min-merge — commutative, so arrival
    // order cannot change the state), stage verdict computed on the
    // final state exactly like the batch aggregate — shares
    // q_funnel's oracle (StreamingOps.funnelState scaladoc).
    QueryDef(
      "q_stream_funnel",
      (s, dir) =>
        StreamingOps.funnelHistogram(s, s"$dir/events.parquet")
          .orderBy(col("stage")),
      Some("""
        WITH f AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t1,
                 min(CASE WHEN event_type = 'view'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t2,
                 min(CASE WHEN event_type = 'click'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t3,
                 min(CASE WHEN event_type = 'purchase'
                     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t4
          FROM events GROUP BY 1),
        s AS (
          SELECT CASE WHEN t1 IS NULL THEN 0
                      WHEN t2 IS NULL OR t2 <= t1 THEN 1
                      WHEN t3 IS NULL OR t3 <= t2 THEN 2
                      WHEN t4 IS NULL OR t4 <= t3 THEN 3
                      ELSE 4 END AS stage
          FROM f)
        SELECT stage, COUNT(*) AS n_users FROM s
        GROUP BY stage ORDER BY stage
      """)),

    // Mann-Kendall monotone-trend test on the DAILY value rollup per
    // event_type — the distribution-free drift alarm (is purchase
    // volume trending?) that survives any monotone transform where
    // q_group_regression assumes a line. The rollup keeps n at the
    // calendar's size (30 points here) no matter the corpus scale;
    // S and the tie-corrected variance numerator are exact integers,
    // z snaps to micro (NonParametric.mannKendall scaladoc).
    QueryDef(
      "q_mann_kendall",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
          .select(col("event_type"),
            datediff(col("day"), to_date(lit("2024-01-01")))
              .cast("long").as("di"),
            col("cents"))
        graft.operators.NonParametric.mannKendall(
            daily, "event_type", "di", "cents")
          .orderBy(col("event_type"))
      },
      Some(mannKendallOracle)),

    // Streaming twin of q_mann_kendall: the drift alarm as
    // mapGroupsWithState — state per event_type is the day→cents
    // rollup (CALENDAR-bounded, the batch operator's own scale
    // contract), each trigger re-derives the exact integer (S,
    // var_num) from it, and the z edge is the batch column sequence
    // applied to the emitted integers, so the twin shares the batch
    // oracle bit-for-bit. The (day→cents) merge is commutative, so
    // the result is independent of micro-batch splits
    // (StreamingOps.mannKendallState scaladoc).
    QueryDef(
      "q_stream_mann_kendall",
      (s, dir) =>
        StreamingOps.mannKendallHistory(s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(mannKendallOracle)),

    // Seasonal Mann-Kendall on the same daily rollup: pairs compare
    // only within the same WEEKDAY, so the weekly rhythm can neither
    // mask nor fake a trend; exact integer S/Var sum across the 7
    // seasons and one continuity-corrected z forms at the edge
    // (NonParametric.seasonalMannKendall scaladoc). Season ids need
    // only GROUP the same dates in both engines — Spark's dayofweek
    // (Sun=1..7) and DuckDB's dow (Sun=0..6) differ as VALUES but
    // induce the identical partition, and the id never reaches the
    // output.
    QueryDef(
      "q_seasonal_mk",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
          .select(col("event_type"),
            dayofweek(col("day")).cast("long").as("season"),
            datediff(col("day"), to_date(lit("2024-01-01")))
              .cast("long").as("di"),
            col("cents"))
        graft.operators.NonParametric.seasonalMannKendall(
            daily, "event_type", "season", "di", "cents")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH daily AS (
          SELECT event_type,
                 date_part('dow', CAST(ts AS DATE)) AS season,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS di,
                 CAST(sum(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM events GROUP BY 1, 2, 3),
        p AS (
          SELECT a.event_type, a.season,
                 CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                               WHEN b.cents < a.cents THEN -1
                               ELSE 0 END) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.season = b.season
            AND a.di < b.di
          GROUP BY 1, 2),
        nn AS (SELECT event_type, season, CAST(count(*) AS BIGINT) AS n
               FROM daily GROUP BY 1, 2),
        ties AS (
          SELECT event_type, season,
                 CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
          FROM (SELECT event_type, season, cents, count(*) AS t
                FROM daily GROUP BY 1, 2, 3)
          GROUP BY 1, 2),
        per AS (
          SELECT nn.event_type, nn.n,
                 COALESCE(p.s_stat, 0) AS s_stat,
                 nn.n * (nn.n - 1) * (2 * nn.n + 5) - t.tie AS var_num
          FROM nn
          LEFT JOIN p ON p.event_type = nn.event_type
            AND p.season = nn.season
          JOIN ties t ON t.event_type = nn.event_type
            AND t.season = nn.season),
        tot AS (
          SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
                 CAST(SUM(s_stat) AS BIGINT) AS s_stat,
                 CAST(SUM(var_num) AS BIGINT) AS var_num
          FROM per GROUP BY 1)
        SELECT event_type, n, s_stat, var_num,
               CAST(ROUND((CASE WHEN s_stat > 0
                                THEN CAST(s_stat - 1 AS DOUBLE)
                                WHEN s_stat < 0
                                THEN CAST(s_stat + 1 AS DOUBLE)
                                ELSE 0.0 END
                           / sqrt(CAST(var_num AS DOUBLE) / 18.0))
                          * 1000000.0) AS BIGINT) AS z_micro
        FROM tot
        WHERE var_num > 0
        ORDER BY event_type
      """)),

    // Wald SPRT per event type: continuous "did the value>50 rate
    // move from 30% toward 40%" monitoring with early stopping —
    // boundaries keep their alpha/beta guarantees at ANY evaluation
    // cadence (the optional-stopping property q_ab_test's
    // fixed-horizon verdict lacks). The per-observation log terms
    // and boundaries snap once to the log10 micro lattice at plan
    // build, so the LLR is an exact integer linear form in (n,
    // successes) and the oracle replays it with the same pinned
    // constants (AbTest.sprt scaladoc).
    QueryDef(
      "q_sprt",
      (s, dir) =>
        graft.operators.AbTest.sprt(
            Tables.events(s, dir), "event_type",
            col("value") > 50, p0 = 0.30, p1 = 0.40)
          .orderBy(col("event_type")),
      Some(sprtOracle)),

    // Mixture SPRT per event type — always-valid inference for the
    // CONTINUOUS metric (integer cents) where q_sprt monitors a
    // rate: the normal-mixture likelihood ratio keeps α at any
    // peeking cadence (Johari et al. 2017). Exact per-cohort
    // (n, Σx, Σx²) integers, n·Σx² − (Σx)² exact in DECIMAL, τ² as
    // the exact rational tauMicro²/10¹², one IEEE sequence for
    // log₁₀Λ, and an integer-threshold decision
    // (AbTest.msprt scaladoc). τ = 10 cents, α = 5%.
    QueryDef(
      "q_msprt",
      (s, dir) =>
        graft.operators.AbTest.msprt(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1, "cents",
            tauMicro = 10000000L)
          .orderBy(col("event_type")),
      Some(msprtOracle)),

    // Streaming twin of q_msprt — always-valid by construction, so
    // a per-micro-batch readout is statistically sound; state is the
    // O(1) per-cohort sufficient statistics (a pure commutative
    // integer fold) and the decision edge is the batch operator's
    // own msprtDecision, so the twin shares q_msprt's oracle
    // (StreamingOps.msprtState scaladoc).
    QueryDef(
      "q_stream_msprt",
      (s, dir) =>
        graft.streaming.StreamingOps.msprtHistory(
            s, s"$dir/events.parquet", tauMicro = 10000000L)
          .orderBy(col("event_type")),
      Some(msprtOracle)),

    // Streaming twin of q_sprt — the test that EXISTS for this
    // mode: Wald's boundaries hold at any evaluation cadence, so a
    // per-micro-batch decision is statistically sound. State is the
    // O(1) (n, successes) sufficient statistics; the decision edge
    // is the batch operator's own pinned-lattice sprtDecision, so
    // the twin shares q_sprt's oracle; counting is commutative, so
    // batch splits can't change the result
    // (StreamingOps.sprtState scaladoc).
    QueryDef(
      "q_stream_sprt",
      (s, dir) =>
        StreamingOps.sprtHistory(s, s"$dir/events.parquet",
            p0 = 0.30, p1 = 0.40)
          .orderBy(col("event_type")),
      Some(sprtOracle)),

    // CUPED variance-reduced A/B readout per event type: X = each
    // user's first-half-of-January cents, Y = second-half cents
    // (users active in both halves), cohort = user parity. theta
    // and rho-squared from exact DECIMAL sufficient statistics, the
    // adjusted lift as one IEEE sequence, everything micro-snapped
    // (AbTest.cuped scaladoc) — the sensitivity-boost table an
    // experimentation platform prints beside the raw lift.
    QueryDef(
      "q_cuped",
      (s, dir) => {
        import graft.operators.AbTest
        val perUser = Tables.events(s, dir)
          .select(col("event_type"), col("user_id"),
            (dayofmonth(col("ts")) <= 15).as("pre"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
            sum(when(!col("pre"), col("cents")).otherwise(0L)).as("y"),
            max(when(col("pre"), 1L).otherwise(0L)).as("hp"),
            max(when(!col("pre"), 1L).otherwise(0L)).as("hq"))
          .filter(col("hp") === 1L && col("hq") === 1L)
        AbTest.cuped(perUser, "event_type",
            pmod(col("user_id"), lit(2L)) === 1, "x", "y")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type, user_id,
                 date_part('day', CAST(ts AS TIMESTAMP)) <= 15 AS pre,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events),
        u AS (
          SELECT event_type, user_id,
                 CAST(SUM(CASE WHEN pre THEN cents ELSE 0 END)
                   AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN NOT pre THEN cents ELSE 0 END)
                   AS BIGINT) AS y,
                 MAX(CASE WHEN pre THEN 1 ELSE 0 END) AS hp,
                 MAX(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS hq
          FROM e GROUP BY 1, 2),
        v AS (SELECT event_type, user_id % 2 = 1 AS b, x, y
              FROM u WHERE hp = 1 AND hq = 1),
        agg AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS sxy,
                 SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                   AS sxx,
                 SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS syy,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(SUM(CASE WHEN NOT b THEN x ELSE 0 END) AS BIGINT)
                   AS sxa,
                 CAST(SUM(CASE WHEN b THEN x ELSE 0 END) AS BIGINT)
                   AS sxb,
                 CAST(SUM(CASE WHEN NOT b THEN y ELSE 0 END) AS BIGINT)
                   AS sya,
                 CAST(SUM(CASE WHEN b THEN y ELSE 0 END) AS BIGINT)
                   AS syb
          FROM v GROUP BY 1),
        c AS (
          SELECT event_type, n, n_a, n_b, sxa, sxb, sya, syb,
                 CAST(n AS DECIMAL(38,0)) * sxy
                   - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                   AS covn,
                 CAST(n AS DECIMAL(38,0)) * sxx
                   - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                   AS vxn,
                 CAST(n AS DECIMAL(38,0)) * syy
                   - CAST(sy AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                   AS vyn
          FROM agg WHERE n_a > 0 AND n_b > 0)
        SELECT event_type, n, n_a, n_b,
               CAST(ROUND(CAST(covn AS DOUBLE) / CAST(vxn AS DOUBLE)
                          * 1e6) AS BIGINT) AS theta_micro,
               CAST(ROUND((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
                           - CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE))
                          * 1e6) AS BIGINT) AS raw_diff_micro,
               CAST(ROUND((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
                           - CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE)
                           - CAST(covn AS DOUBLE) / CAST(vxn AS DOUBLE)
                             * (CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE)
                                - CAST(sxa AS DOUBLE)
                                  / CAST(n_a AS DOUBLE)))
                          * 1e6) AS BIGINT) AS adj_diff_micro,
               CAST(ROUND(CAST(covn AS DOUBLE) * CAST(covn AS DOUBLE)
                          / (CAST(vxn AS DOUBLE) * CAST(vyn AS DOUBLE))
                          * 1e6) AS BIGINT) AS rho2_ppm
        FROM c
        WHERE vxn > 0 AND vyn > 0
        ORDER BY event_type
      """)),

    // Two-sample Kuiper test on the SAME cohort split as q_ks_test:
    // V = D⁺ + D⁻ adds the largest ECDF gaps in BOTH directions, so
    // a median-preserving variance shift (where the ECDFs cross and
    // KS goes half-blind) still registers, and the statistic is
    // rotation-invariant for cyclic metrics. Same integer merged-
    // order lattice as KS; verdict by (D⁺+D⁻)²·10⁴ >
    // 30520·n_a·n_b·(n_a+n_b) (c = 1.747 at 95%;
    // DistributionTests.kuiperTwoSample scaladoc).
    QueryDef(
      "q_kuiper",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.kuiperTwoSample(
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
                 max(ca * nb - cb * na) AS dpos,
                 max(cb * na - ca * nb) AS dneg
          FROM m GROUP BY 1)
        SELECT event_type, n_a, n_b,
               ROUND(CAST(dpos + dneg AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
                 AS kuiper_v,
               CASE WHEN CAST(dpos + dneg AS HUGEINT) * (dpos + dneg)
                         * 10000
                       > CAST(30520 AS HUGEINT) * n_a * n_b
                         * (n_a + n_b)
                    THEN 'shifted' ELSE 'same' END AS verdict
        FROM a
        ORDER BY event_type
      """)),

    // k-sample Anderson-Darling (Scholz-Stephens A²akN, midrank tie
    // version) across THREE user-cohort samples per event type, on
    // integer cents: the tail-weighted "did ANY source drift?" test
    // that fires on tail-only contamination KS and CvM dilute. The
    // doubled-midrank lattice clears every half into exact integers;
    // per-cell terms are one IEEE sequence 9-dp-snapped and
    // DECIMAL-summed (DistributionTests.andersonDarlingK scaladoc).
    QueryDef(
      "q_ad_test",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.andersonDarlingK(
            Tables.events(s, dir)
              .select(col("event_type"),
                pmod(col("user_id"), lit(3L)).as("cohort"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type", "cohort", "cents")
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type AS g, user_id % 3 AS s,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        pooled AS (SELECT g, x, count(*) AS l FROM e GROUP BY 1, 2),
        pc AS (
          SELECT g, x, l,
                 SUM(l) OVER (PARTITION BY g ORDER BY x
                   ROWS UNBOUNDED PRECEDING) AS c
          FROM pooled),
        bb AS (SELECT g, x, l, 2 * c - l AS b2 FROM pc),
        sizes AS (SELECT g, s, count(*) AS ni FROM e GROUP BY 1, 2),
        cells AS (SELECT g, s, x, count(*) AS lij FROM e GROUP BY 1, 2, 3),
        grid AS (
          SELECT bb.g, sz.s, bb.x, bb.l, bb.b2, sz.ni,
                 COALESCE(c.lij, 0) AS lij
          FROM bb JOIN sizes sz ON sz.g = bb.g
          LEFT JOIN cells c ON c.g = bb.g AND c.s = sz.s AND c.x = bb.x),
        gc AS (
          SELECT g, s, x, l, b2, ni, lij,
                 SUM(lij) OVER (PARTITION BY g, s ORDER BY x
                   ROWS UNBOUNDED PRECEDING) AS cij
          FROM grid),
        mm AS (SELECT g, s, x, l, b2, ni, 2 * cij - lij AS m2 FROM gc),
        tot AS (SELECT g, count(*) AS n, count(DISTINCT s) AS k
                FROM e GROUP BY 1),
        terms AS (
          SELECT mm.g, t.n, t.k,
                 ROUND(
                   (CAST(CAST(t.n AS HUGEINT) * m2
                         - CAST(ni AS HUGEINT) * b2 AS DOUBLE)
                    * CAST(CAST(t.n AS HUGEINT) * m2
                           - CAST(ni AS HUGEINT) * b2 AS DOUBLE))
                   / CAST(CAST(b2 AS HUGEINT) * (2 * t.n - b2)
                          - CAST(t.n AS HUGEINT) * l AS DOUBLE)
                   / CAST(ni AS DOUBLE) * CAST(l AS DOUBLE), 9) AS term
          FROM mm JOIN tot t ON t.g = mm.g
          WHERE t.k >= 2
            AND CAST(b2 AS HUGEINT) * (2 * t.n - b2)
                - CAST(t.n AS HUGEINT) * l > 0),
        agg AS (
          SELECT g, n, k, SUM(CAST(term AS DECIMAL(38,12))) AS terms
          FROM terms GROUP BY 1, 2, 3)
        SELECT g AS event_type, n, k,
               CAST(ROUND(CAST(n - 1 AS DOUBLE) * CAST(terms AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 * 1e6) AS BIGINT) AS a2_micro
        FROM agg
        ORDER BY event_type
      """)),

    // G-test of independence (log-likelihood χ²) between event type
    // and a three-way user cohort: the additive independence
    // statistic (G over a merged table = Σ component G's + the
    // between-table G), so per-shard G's roll up exactly — the right
    // drill-down companion to q_cramers_v. Per-cell O·ln(O·N/(R·C))
    // is one IEEE sequence 9-dp-snapped and DECIMAL-summed; verdict
    // at the exact DECIMAL edge vs χ²(df=8, 95%) = 15.5073
    // (DistributionTests.gTest scaladoc).
    QueryDef(
      "q_gtest",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.gTest(
            Tables.events(s, dir)
              .select(col("event_type"),
                pmod(col("user_id"), lit(3L)).as("cohort")),
            "event_type", "cohort", crit4 = 155073L)
      },
      Some(gtestOracle)),

    // Ljung-Box whiteness test on each event type's daily-count
    // series (the q_acf series), lags 1..3: is there ANY
    // autocorrelation, as one χ²(3) statistic — the i.i.d. sanity
    // check to run before trusting a drift test on a monitoring
    // counter. r_ℓ rides the exact n²-scaled ACF lattice widened to
    // DECIMAL; per-lag r²/(n−ℓ) terms 9-dp-snapped and
    // DECIMAL-summed; verdict vs χ²(3, 95%) = 7.8147
    // (ChangePoint.ljungBox scaladoc).
    QueryDef(
      "q_ljung_box",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.ljungBox(
            daily, "event_type", "i", "x", maxLag = 3, crit4 = 78147L)
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
          SELECT event_type, CAST(x AS BIGINT) AS x,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS i
          FROM series),
        tot AS (
          SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
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
                 SUM(CAST(xh AS HUGEINT) * xt) AS sxy,
                 CAST(SUM(xh) AS BIGINT) AS sh,
                 CAST(SUM(xt) AS BIGINT) AS st
          FROM pairs GROUP BY 1, 2),
        nd AS (
          SELECT p.event_type, t.n, p.lag,
                 CAST(t.n AS HUGEINT) * t.n * p.sxy
                   - CAST(t.n AS HUGEINT) * t.sx * (p.sh + p.st)
                   + CAST(t.n - p.lag AS HUGEINT) * t.sx * t.sx AS num,
                 CAST(t.n AS HUGEINT) * t.n * t.sxx
                   - CAST(t.n AS HUGEINT) * t.sx * t.sx AS den
          FROM perlag p JOIN tot t USING (event_type)
          WHERE t.n > 4
            AND CAST(t.n AS HUGEINT) * t.sxx
                <> CAST(t.sx AS HUGEINT) * t.sx),
        terms AS (
          SELECT event_type, n,
                 ROUND((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                       * (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                       / CAST(n - lag AS DOUBLE), 9) AS term
          FROM nd),
        agg AS (
          SELECT event_type, n,
                 SUM(CAST(term AS DECIMAL(38,12))) AS terms
          FROM terms GROUP BY 1, 2)
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CAST(3 AS BIGINT) AS h,
               ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                     * CAST(terms AS DOUBLE), 6) AS q_stat,
               CASE WHEN ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                               * CAST(terms AS DOUBLE), 6)
                       > CAST(78147 AS DOUBLE) / 10000.0
                    THEN 'autocorrelated' ELSE 'white' END AS verdict
        FROM agg
        ORDER BY event_type
      """)),

    // Dickey-Fuller unit-root test on the SAME daily series: is the
    // counter mean-reverting or a random walk? — the stationarity
    // pre-check that tells the dashboard whether a trend alarm
    // (q_mann_kendall) is even meaningful on this feed. Exact
    // n-scaled centered sums to one IEEE t-ratio; verdict at the
    // pinned Fuller 5% constant −2.86
    // (ChangePoint.dickeyFuller scaladoc).
    QueryDef(
      "q_dickey_fuller",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.dickeyFuller(
            daily, "event_type", "i", "x")
          .orderBy(col("event_type"))
      },
      Some(dickeyFullerOracle)),

    // ADF(1) on the SAME daily series: the augmented form whose
    // Δx_{t−1} regressor absorbs AR(2) serial correlation in the
    // differences — the robustness upgrade over q_dickey_fuller when
    // the counter's day-over-day changes are themselves
    // autocorrelated (q_ljung_box tells you when that is the case).
    // Two-regressor Cramer solve on exact DECIMAL sufficient sums,
    // one mirrored IEEE sequence to the micro edge, verdict at the
    // pinned Fuller 5% constant −2.86 (ChangePoint.adfLag1 scaladoc;
    // AdfSpec carries the brute-force normal-equations cross-check).
    QueryDef(
      "q_adf",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.adfLag1(
            daily, "event_type", "i", "x")
          .orderBy(col("event_type"))
      },
      Some(adfOracle)),

    // Streaming twin of q_adf: the same calendar day→count rollup
    // state as q_stream_dickey_fuller; every trigger re-derives the
    // exact TEN triple-regression sums by one sorted walk, combined
    // by the batch adfFromSums with all refusals intact. Shares
    // q_adf's oracle (StreamingOps.adfHistory scaladoc).
    QueryDef(
      "q_stream_adf",
      (s, dir) =>
        graft.streaming.StreamingOps.adfHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(adfOracle)),

    // Stuart-Maxwell marginal homogeneity over THREE paired
    // categories: per user, the FIRST-touch vs LAST-touch event type
    // among {click, purchase, view} — "do user journeys end on the
    // same channel mix they start on?", the k=3 McNemar that the 2×2
    // q_mcnemar cannot express. Exact integer 3×3 pair table, closed
    // 2×2 covariance inverse, verdict by integer cross-multiplication
    // vs χ²(2, 95%) (DistributionTests.stuartMaxwell3 scaladoc).
    QueryDef(
      "q_stuart_maxwell",
      (s, dir) => {
        import graft.operators.DistributionTests
        val e = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase", "view"))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"), col("event_id"))
        val paired = e.groupBy(col("user_id"))
          .agg(min(struct(col("us"), col("event_id"),
            col("event_type"))).as("f"),
            max(struct(col("us"), col("event_id"),
              col("event_type"))).as("l"))
          .select(lit("all").as("grp"),
            col("f.event_type").as("first_t"),
            col("l.event_type").as("last_t"))
        DistributionTests.stuartMaxwell3(
          paired, "grp", "first_t", "last_t", crit4 = 59915L)
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
          FROM events
          WHERE event_type IN ('click', 'purchase', 'view')),
        fl AS (
          -- (us, event_id) lexicographic == us*1e9 + event_id as one
          -- sortable key (event_id is unique and < 1e9 by fixture
          -- contract); this DuckDB's arg_min has no struct overload
          SELECT user_id,
                 arg_min(event_type,
                   CAST(us AS HUGEINT) * 1000000000 + event_id) AS f,
                 arg_max(event_type,
                   CAST(us AS HUGEINT) * 1000000000 + event_id) AS l
          FROM e GROUP BY 1),
        cells AS (
          SELECT 'all' AS grp, f, l, CAST(count(*) AS BIGINT) AS c
          FROM fl GROUP BY 1, 2, 3),
        cats AS (
          SELECT DISTINCT grp, cat FROM (
            SELECT grp, f AS cat FROM cells
            UNION ALL SELECT grp, l FROM cells)),
        rk AS (
          SELECT grp, cat,
                 ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cat)
                   AS rk
          FROM cats),
        rc AS (
          SELECT c.grp, ra.rk AS ra, rb.rk AS rb, c.c
          FROM cells c
          JOIN rk ra ON ra.grp = c.grp AND ra.cat = c.f
          JOIN rk rb ON rb.grp = c.grp AND rb.cat = c.l),
        a AS (
          SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
                 MAX(GREATEST(ra, rb)) AS k,
                 CAST(SUM(CASE WHEN ra = 1 THEN c ELSE 0 END)
                   AS BIGINT) AS r1,
                 CAST(SUM(CASE WHEN ra = 2 THEN c ELSE 0 END)
                   AS BIGINT) AS r2,
                 CAST(SUM(CASE WHEN rb = 1 THEN c ELSE 0 END)
                   AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN rb = 2 THEN c ELSE 0 END)
                   AS BIGINT) AS c2,
                 CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN c
                   ELSE 0 END) AS BIGINT) AS n11,
                 CAST(SUM(CASE WHEN ra = 2 AND rb = 2 THEN c
                   ELSE 0 END) AS BIGINT) AS n22,
                 CAST(SUM(CASE WHEN ra = 1 AND rb = 2 THEN c
                   ELSE 0 END) AS BIGINT) AS n12,
                 CAST(SUM(CASE WHEN ra = 2 AND rb = 1 THEN c
                   ELSE 0 END) AS BIGINT) AS n21
          FROM rc GROUP BY 1),
        m AS (
          SELECT grp, n, k,
                 CAST(r2 + c2 - 2 * n22 AS HUGEINT)
                   * (r1 - c1) * (r1 - c1)
                 - 2 * CAST(-(n12 + n21) AS HUGEINT)
                   * (r1 - c1) * (r2 - c2)
                 + CAST(r1 + c1 - 2 * n11 AS HUGEINT)
                   * (r2 - c2) * (r2 - c2) AS num,
                 CAST(r1 + c1 - 2 * n11 AS HUGEINT)
                   * (r2 + c2 - 2 * n22)
                 - CAST(-(n12 + n21) AS HUGEINT) * (-(n12 + n21))
                   AS den
          FROM a)
        SELECT grp, n,
               CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                 * 1e6) AS BIGINT) AS chi2_micro,
               CASE WHEN num * 10000 > 59915 * den
                    THEN 'shifted' ELSE 'stable' END AS verdict
        FROM m
        WHERE k = 3 AND den > 0
      """)),

    // Lag-1 Granger causality between every ordered pair of event
    // types' daily series: does yesterday's CLICK volume help
    // predict today's PURCHASE volume beyond purchases' own history?
    // — the cross-series lead-lag screen for wiring alert
    // dependencies. Exact DECIMAL sufficient sums, Cramer's-rule
    // two-regressor solve and F in one mirrored IEEE sequence; the
    // F(1, n−3) critical value depends on n, so the statistic is
    // reported raw (the q_cvm_test convention)
    // (ChangePoint.grangerLag1 scaladoc).
    QueryDef(
      "q_granger",
      (s, dir) => {
        // the index is the SHARED epoch-day number, not a per-series
        // row_number: a series missing a calendar day must break its
        // lag pair there, not silently shift against the other series
        // (grangerLag1's idxCol contract)
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", datediff(col("day"), lit("1970-01-01")))
        graft.operators.ChangePoint.grangerLag1(
            daily, "event_type", "i", "x")
          .orderBy(col("cause"), col("effect"))
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
                 CAST(day - DATE '1970-01-01' AS BIGINT) AS i
          FROM series),
        lagd AS (
          SELECT event_type AS s2, i, x AS y,
                 LAG(x) OVER (PARTITION BY event_type ORDER BY i) AS p,
                 LAG(i) OVER (PARTITION BY event_type ORDER BY i) AS pi
          FROM idx),
        base AS (SELECT * FROM lagd WHERE pi = i - 1),
        pr AS (
          SELECT c.event_type AS cause, e.s2 AS effect, e.y, e.p,
                 c.x AS q
          FROM base e JOIN idx c ON c.i = e.i - 1
                                AND c.event_type <> e.s2),
        a AS (
          SELECT cause, effect, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(p) AS BIGINT) AS sp,
                 CAST(SUM(q) AS BIGINT) AS sq,
                 SUM(CAST(y AS HUGEINT) * p) AS syp0,
                 SUM(CAST(y AS HUGEINT) * q) AS syq0,
                 SUM(CAST(p AS HUGEINT) * q) AS spq0,
                 SUM(CAST(p AS HUGEINT) * p) AS spp0,
                 SUM(CAST(q AS HUGEINT) * q) AS sqq0,
                 SUM(CAST(y AS HUGEINT) * y) AS syy0
          FROM pr GROUP BY 1, 2),
        ctr AS (
          SELECT cause, effect, n,
                 CAST(n AS HUGEINT) * spp0
                   - CAST(sp AS HUGEINT) * sp AS spp,
                 CAST(n AS HUGEINT) * sqq0
                   - CAST(sq AS HUGEINT) * sq AS sqq,
                 CAST(n AS HUGEINT) * spq0
                   - CAST(sp AS HUGEINT) * sq AS spq,
                 CAST(n AS HUGEINT) * syp0
                   - CAST(sy AS HUGEINT) * sp AS syp,
                 CAST(n AS HUGEINT) * syq0
                   - CAST(sy AS HUGEINT) * sq AS syq,
                 CAST(n AS HUGEINT) * syy0
                   - CAST(sy AS HUGEINT) * sy AS syy
          FROM a),
        sol AS (
          SELECT cause, effect, n, spp, sqq, spq, syp, syq, syy,
                 CAST(spp AS DOUBLE) * CAST(sqq AS DOUBLE)
                   - CAST(spq AS DOUBLE) * CAST(spq AS DOUBLE) AS det
          FROM ctr
          WHERE n >= 5 AND spp > 0 AND spp * sqq <> spq * spq),
        bc AS (
          SELECT *, (CAST(syp AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(syq AS DOUBLE) * CAST(spq AS DOUBLE)) / det
                   AS b,
                 (CAST(syq AS DOUBLE) * CAST(spp AS DOUBLE)
                  - CAST(syp AS DOUBLE) * CAST(spq AS DOUBLE)) / det
                   AS c
          FROM sol),
        rs AS (
          SELECT *, CAST(syy AS DOUBLE)
                   - CAST(syp AS DOUBLE) * CAST(syp AS DOUBLE)
                     / CAST(spp AS DOUBLE) AS rssr,
                 CAST(syy AS DOUBLE) - b * CAST(syp AS DOUBLE)
                   - c * CAST(syq AS DOUBLE) AS rssu
          FROM bc)
        SELECT cause, effect, n,
               CAST(ROUND((rssr - rssu)
                 / (rssu / (CAST(n AS DOUBLE) - 3.0)) * 1e6) AS BIGINT)
                 AS f_micro
        FROM rs
        WHERE rssu > 0.0
        ORDER BY cause, effect
      """)),

    // Durbin-Watson / von Neumann ratio on the SAME daily series:
    // the lag-1 serial-correlation check as a fully EXACT rational —
    // first-differencing cancels the mean, so both numerator and
    // denominator are integers and the 1.0/3.0 verdict bands are
    // exact integer cross-multiplications
    // (ChangePoint.durbinWatson scaladoc).
    QueryDef(
      "q_durbin_watson",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.durbinWatson(
            daily, "event_type", "i", "x")
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
          SELECT event_type, CAST(x AS BIGINT) AS x,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day) AS i
          FROM series),
        lagged AS (
          SELECT event_type, x,
                 x - LAG(x) OVER (PARTITION BY event_type ORDER BY i)
                   AS d
          FROM idx),
        agg AS (
          SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(d AS HUGEINT) * d) AS sdd
          FROM lagged GROUP BY 1)
        SELECT event_type, CAST(n AS BIGINT) AS n,
               ROUND(CAST(CAST(n AS HUGEINT) * sdd AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
                 AS dw,
               CASE
                 WHEN CAST(n AS HUGEINT) * sdd
                      < CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx THEN 'positive'
                 WHEN CAST(n AS HUGEINT) * sdd
                      > 3 * (CAST(n AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx) THEN 'negative'
                 ELSE 'none' END AS verdict
        FROM agg
        WHERE n >= 2
          AND CAST(n AS HUGEINT) * sxx <> CAST(sx AS HUGEINT) * sx
        ORDER BY event_type
      """)),

    // Cochran-Mantel-Haenszel: does the odd-user cohort convert
    // (value ≥ 100) differently AFTER controlling for event type?
    // The stratified companion to q_ab_test — a pooled 2×2 can point
    // the wrong way when strata differ in both mix and base rate
    // (Simpson's paradox); CMH sums each stratum's hypergeometric
    // O−E and variance on the logRank div+remnano lattice
    // (AbTest.cmh scaladoc). Verdict vs χ²(1, 95%) as an integer
    // comparison at the micro edge.
    QueryDef(
      "q_cmh",
      (s, dir) => {
        import graft.operators.AbTest
        AbTest.cmh(
          Tables.events(s, dir),
          "event_type",
          pmod(col("user_id"), lit(2L)) === 1,
          col("value") >= 100.0,
          crit4 = 38415L)
      },
      Some(cmhOracle)),

    // Standardized mean difference (covariate balance) between the
    // q_ks_test cohorts on integer cents, per event type: the check
    // every A/B readout should run FIRST — a significant q_welch_t
    // on the outcome means nothing if the cohorts already differed
    // pre-treatment; |SMD| < 0.1 is the conventional balanced band,
    // compared on the snapped micro integer
    // (AbTest.smdBalance scaladoc).
    QueryDef(
      "q_smd_balance",
      (s, dir) => {
        import graft.operators.AbTest
        AbTest.smdBalance(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "cents")
          .orderBy(col("event_type"))
      },
      Some(smdOracle)),

    // Jensen-Shannon divergence on the SAME 10-dollar bins and
    // cohort split as q_psi: the BOUNDED ([0, ln 2]), symmetric
    // drift number — PSI blows up on near-empty bins and KL is
    // unbounded, so JS is the cross-metric dashboard default. Same
    // Laplace-smoothed share lattice, per-bin IEEE terms
    // nano-snapped and integer-summed
    // (DistributionTests.jsDivergence scaladoc).
    QueryDef(
      "q_js_divergence",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.jsDivergence(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                expr("CAST(ROUND(value * 100) AS BIGINT) div 1000")
                  .as("bin")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "bin")
          .orderBy(col("event_type"))
      },
      Some("""
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
          SELECT *, SUM(ca) OVER w AS na, SUM(cb) OVER w AS nb,
                 COUNT(*) OVER w AS nbins
          FROM pb WINDOW w AS (PARTITION BY event_type)),
        p1 AS (
          SELECT event_type, na, nb, nbins,
                 (CAST(ca AS DOUBLE) + 1.0)
                   / (CAST(na AS DOUBLE) + CAST(nbins AS DOUBLE)) AS pa,
                 (CAST(cb AS DOUBLE) + 1.0)
                   / (CAST(nb AS DOUBLE) + CAST(nbins AS DOUBLE)) AS pb2
          FROM mk),
        t AS (
          SELECT event_type, na, nb, nbins,
                 CAST(ROUND((0.5 * pa * ln(pa / ((pa + pb2) / 2.0))
                   + 0.5 * pb2 * ln(pb2 / ((pa + pb2) / 2.0))) * 1e9)
                   AS BIGINT) AS tn
          FROM p1),
        a AS (
          SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
                 CAST(MAX(nb) AS BIGINT) AS n_b,
                 CAST(MAX(nbins) AS BIGINT) AS n_bins,
                 CAST(SUM(tn) AS BIGINT) AS tsum
          FROM t GROUP BY 1)
        SELECT event_type, n_a, n_b, n_bins,
               CAST(ROUND(CAST(tsum AS DOUBLE) / 1e9 * 1e6) AS BIGINT)
                 AS js_micro
        FROM a WHERE n_a > 0 AND n_b > 0
        ORDER BY event_type
      """)),

    // Index-of-dispersion test on each event type's daily counts:
    // is the volume counter Poisson, or bursty? — the modeling
    // pre-check before trusting rate-based anomaly bands
    // (q_event_anomaly assumes near-Poisson noise). D = (n·Σx²−S²)/S
    // is fully exact; the 95% verdict is an integer
    // cross-multiplication with the deviation sign choosing
    // over/under (DistributionTests.dispersionIndex scaladoc).
    QueryDef(
      "q_dispersion",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
        graft.operators.DistributionTests.dispersionIndex(
            daily, "event_type", "x")
          .orderBy(col("event_type"))
      },
      Some(dispersionOracle)),

    // Two-sample 1-Wasserstein distance on the SAME cohort split as
    // q_ks_test, in integer cents: the drift METRIC beside the
    // verdicts — "by how many cents did the distribution move", the
    // area between the ECDFs, comparable across time and
    // SLO-thresholdable. Exact integers (counts × value gaps,
    // DECIMAL-summed) to one micro-edge division
    // (DistributionTests.wasserstein scaladoc).
    QueryDef(
      "q_wasserstein",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.wasserstein(
            Tables.events(s, dir)
              .select(col("event_type"), col("user_id"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type",
            pmod(col("user_id"), lit(2L)) === 1,
            "cents")
          .orderBy(col("event_type"))
      },
      Some(wassersteinOracle)),

    // Bartlett's variance-homogeneity test across THREE user-cohort
    // samples per event type: the parametric "did the SPREAD change
    // in any source?" — sharper than q_brown_forsythe when the data
    // are near-normal, read beside the rank scale tests
    // (q_ansari_bradley / q_mood_median). Exact per-sample
    // (n, Σx, Σx²); three IEEE contributions per sample 9-dp-snapped
    // and DECIMAL-summed; verdict vs χ²(2, 95%) = 5.9915
    // (DistributionTests.bartlett scaladoc).
    QueryDef(
      "q_bartlett",
      (s, dir) => {
        import graft.operators.DistributionTests
        DistributionTests.bartlett(
            Tables.events(s, dir)
              .select(col("event_type"),
                pmod(col("user_id"), lit(3L)).as("cohort"),
                round(col("value") * 100).cast("long").as("cents")),
            "event_type", "cohort", "cents", crit4 = 59915L)
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type AS g, user_id % 3 AS i,
                 CAST(ROUND(value * 100) AS BIGINT) AS x
          FROM events),
        per AS (
          SELECT g, i, CAST(count(*) AS BIGINT) AS ni,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
          FROM e GROUP BY 1, 2),
        t AS (
          SELECT g, ni,
                 CASE WHEN ni >= 2 AND CAST(ni AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx > 0
                      THEN 1 ELSE 0 END AS ok,
                 CASE WHEN ni >= 2 AND CAST(ni AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx > 0
                      THEN ROUND(CAST(CAST(ni AS HUGEINT) * sxx
                          - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        / CAST(ni AS DOUBLE), 9)
                      ELSE 0.0 END AS pool,
                 CASE WHEN ni >= 2 AND CAST(ni AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx > 0
                      THEN ROUND((CAST(ni AS DOUBLE) - 1.0)
                        * ln(CAST(CAST(ni AS HUGEINT) * sxx
                            - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                          / (CAST(ni AS DOUBLE)
                             * (CAST(ni AS DOUBLE) - 1.0))), 9)
                      ELSE 0.0 END AS lsum,
                 CASE WHEN ni >= 2 AND CAST(ni AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx > 0
                      THEN ROUND(1.0 / (CAST(ni AS DOUBLE) - 1.0), 9)
                      ELSE 0.0 END AS hsum
          FROM per),
        a AS (
          SELECT g, CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(ni) AS BIGINT) AS n,
                 MIN(ok) AS allok,
                 SUM(CAST(pool AS DECIMAL(38,12))) AS p,
                 SUM(CAST(lsum AS DECIMAL(38,12))) AS l,
                 SUM(CAST(hsum AS DECIMAL(38,12))) AS h
          FROM t GROUP BY 1)
        SELECT g AS event_type, k, n,
               ROUND((CAST(n - k AS DOUBLE)
                      * ln(CAST(p AS DOUBLE) / CAST(n - k AS DOUBLE))
                      - CAST(l AS DOUBLE))
                 / (1.0 + (CAST(h AS DOUBLE)
                           - 1.0 / CAST(n - k AS DOUBLE))
                    / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6) AS b_stat,
               CASE WHEN ROUND((CAST(n - k AS DOUBLE)
                      * ln(CAST(p AS DOUBLE) / CAST(n - k AS DOUBLE))
                      - CAST(l AS DOUBLE))
                 / (1.0 + (CAST(h AS DOUBLE)
                           - 1.0 / CAST(n - k AS DOUBLE))
                    / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
                 > CAST(59915 AS DOUBLE) / 10000.0
                 THEN 'heteroscedastic' ELSE 'homoscedastic'
                 END AS verdict
        FROM a
        WHERE allok = 1 AND k >= 2
        ORDER BY event_type
      """)),

    // Wilson 95% score interval for each event type's conversion
    // rate (value ≥ 100) — the proportion CI that stays inside
    // [0, 1] and keeps width at p̂ near 0/1 where the Wald interval
    // collapses; the per-group readout layer under q_ab_test's
    // verdicts. One IEEE sequence per bound from exact (n, c),
    // micro-snapped (AbTest.wilsonCi scaladoc).
    QueryDef(
      "q_wilson_ci",
      (s, dir) => {
        import graft.operators.AbTest
        AbTest.wilsonCi(
            Tables.events(s, dir), "event_type",
            col("value") >= 100.0)
          .orderBy(col("event_type"))
      },
      Some("""
        WITH a AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c
          FROM events GROUP BY 1)
        SELECT event_type, n, c,
               CAST(ROUND((
                 (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
                 - 1.96 * sqrt(
                     (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE)
                     + 1.96 * 1.96
                       / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
                 ) * 1e6) AS BIGINT) AS lo_micro,
               CAST(ROUND((
                 (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE)))
                 / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
                 + 1.96 * sqrt(
                     (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     * (1.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE)
                     + 1.96 * 1.96
                       / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
                 ) * 1e6) AS BIGINT) AS hi_micro
        FROM a
        ORDER BY event_type
      """)),

    // Partial autocorrelation at lags 1..3 on the q_acf daily
    // series: ACF's identification partner — does lag ℓ add signal
    // AFTER the shorter lags (the AR-order cutoff a forecasting
    // layer reads before fitting Holt/Holt-Winters). Closed-form
    // Durbin-Levinson over the exact DECIMAL-widened r lattice;
    // each φ one mirrored IEEE sequence, micro edge
    // (ChangePoint.pacf scaladoc).
    QueryDef(
      "q_pacf",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"),
            to_date(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))))
        graft.operators.ChangePoint.pacf(daily, "event_type", "i", "x")
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
          SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
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
                 SUM(CAST(xh AS HUGEINT) * xt) AS sxy,
                 CAST(SUM(xh) AS BIGINT) AS sh,
                 CAST(SUM(xt) AS BIGINT) AS st
          FROM pairs GROUP BY 1, 2),
        nd AS (
          SELECT p.event_type, t.n, p.lag,
                 CAST(t.n AS HUGEINT) * t.n * p.sxy
                   - CAST(t.n AS HUGEINT) * t.sx * (p.sh + p.st)
                   + CAST(t.n - p.lag AS HUGEINT) * t.sx * t.sx AS num,
                 CAST(t.n AS HUGEINT) * t.n * t.sxx
                   - CAST(t.n AS HUGEINT) * t.sx * t.sx AS den
          FROM perlag p JOIN tot t USING (event_type)
          WHERE t.n > 4
            AND CAST(t.n AS HUGEINT) * t.sxx
                <> CAST(t.sx AS HUGEINT) * t.sx),
        piv AS (
          SELECT event_type, n, den,
                 MAX(CASE WHEN lag = 1 THEN num END) AS n1,
                 MAX(CASE WHEN lag = 2 THEN num END) AS n2,
                 MAX(CASE WHEN lag = 3 THEN num END) AS n3
          FROM nd GROUP BY 1, 2, 3
          HAVING den * den
                 <> MAX(CASE WHEN lag = 1 THEN num END)
                    * MAX(CASE WHEN lag = 1 THEN num END)),
        r AS (
          SELECT event_type, n,
                 CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
                 CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
                 CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
          FROM piv),
        s1 AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
               FROM r),
        s2 AS (SELECT *, r1 - p22 * r1 AS p21 FROM s1),
        s3 AS (SELECT *, 1.0 - p21 * r1 - p22 * r2 AS d3 FROM s2),
        outp AS (
          SELECT event_type, 1 AS lag, n, r1 AS phi, TRUE AS keep
          FROM s3
          UNION ALL
          SELECT event_type, 2, n, p22, TRUE FROM s3
          UNION ALL
          SELECT event_type, 3, n,
                 (r3 - p21 * r2 - p22 * r1) / d3, d3 <> 0.0
          FROM s3)
        SELECT event_type, CAST(lag AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n,
               CAST(ROUND(phi * 1e6) AS BIGINT) AS phi_micro
        FROM outp WHERE keep
        ORDER BY event_type, lag
      """)),

    // Streaming twin of q_wasserstein: two value→count maps per
    // event type (the q_stream_energy state bound); every trigger
    // re-derives the exact ECDF-area integer sum by one merged
    // sorted walk, and the micro edge is the batch operator's own
    // column sequence. Shares q_wasserstein's oracle
    // (StreamingOps.wassersteinHistory scaladoc).
    QueryDef(
      "q_stream_wasserstein",
      (s, dir) =>
        graft.streaming.StreamingOps.wassersteinHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(wassersteinOracle)),

    // Streaming twin of q_dickey_fuller: the same calendar
    // day→count rollup state as q_stream_dispersion; every trigger
    // re-derives the exact six lag-pair regression sums by one
    // sorted walk, combined by the batch dickeyFullerFromSums with
    // both refusals intact. Shares q_dickey_fuller's oracle
    // (StreamingOps.dickeyFullerHistory scaladoc).
    QueryDef(
      "q_stream_dickey_fuller",
      (s, dir) =>
        graft.streaming.StreamingOps.dickeyFullerHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(dickeyFullerOracle)),

    // Streaming twin of q_smd_balance: the six per-cohort
    // sufficient statistics as O(1) mapGroupsWithState per event
    // type, combined by the batch smdFromCounts — watch assignment
    // balance DURING an experiment ramp, not after. Shares
    // q_smd_balance's oracle (StreamingOps.smdHistory scaladoc).
    QueryDef(
      "q_stream_smd",
      (s, dir) =>
        graft.streaming.StreamingOps.smdHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(smdOracle)),

    // Streaming twin of q_dispersion: the calendar day→count rollup
    // as mapGroupsWithState (the q_stream_mann_kendall state bound);
    // every trigger emits exact (n, Σc, Σc²) and the batch
    // dispersionFromCounts combine applies the identical verdict
    // cross-multiplication. Shares q_dispersion's oracle
    // (StreamingOps.dispersionHistory scaladoc).
    QueryDef(
      "q_stream_dispersion",
      (s, dir) =>
        graft.streaming.StreamingOps.dispersionHistory(
            s, s"$dir/events.parquet")
          .orderBy(col("event_type")),
      Some(dispersionOracle)),

    // Streaming twin of q_gtest: per-cell counts accumulate as O(1)
    // mapGroupsWithState keyed by contingency CELL (a commutative
    // fold — no global map), then the batch operator's own
    // gTestFromCells combine runs over the latest cells. Shares
    // q_gtest's oracle (StreamingOps.gtestHistory scaladoc).
    QueryDef(
      "q_stream_gtest",
      (s, dir) =>
        graft.streaming.StreamingOps.gtestHistory(
          s, s"$dir/events.parquet", crit4 = 155073L),
      Some(gtestOracle)),

    // Streaming twin of q_cmh: the four per-stratum counts are the
    // test's complete sufficient statistics, kept as O(1)
    // mapGroupsWithState per stratum; the χ² combine is the batch
    // operator's own cmhFromCounts. Shares q_cmh's oracle
    // (StreamingOps.cmhHistory scaladoc).
    QueryDef(
      "q_stream_cmh",
      (s, dir) =>
        graft.streaming.StreamingOps.cmhHistory(
          s, s"$dir/events.parquet", crit4 = 38415L),
      Some(cmhOracle)),

    // Restricted mean survival time at a 30-day horizon over the
    // SAME signup→purchase durations as q_survival (in seconds):
    // the area under the KM curve to τ — "expected days-to-convert
    // within the first 30, counting the users who never did" — the
    // summary that exists even when the median doesn't (km never
    // crossing 0.5). km·10⁶ steps × integer widths on a DECIMAL
    // lattice, one 6-dp edge (Survival.rmst scaladoc).
    QueryDef(
      "q_rmst",
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
            expr("(CASE WHEN tp IS NOT NULL THEN tp - t00 " +
              "ELSE tmax - t00 END) div 1000000").as("duration"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("event"))
        graft.operators.Survival.rmst(
          dur, "duration", "event", tau = 2592000L)
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        t0 AS (SELECT user_id, min(us) AS t0 FROM e
               WHERE event_type = 'signup' GROUP BY 1),
        dur AS (
          SELECT (CASE WHEN tp IS NOT NULL THEN tp - t00
                       ELSE tmax - t00 END) // 1000000 AS duration,
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
                 ROUND(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9)
                   AS factor,
                 ROW_NUMBER() OVER (ORDER BY t) AS i
          FROM risked WHERE d >= 1),
        rec AS (
          SELECT i, factor AS km FROM steps WHERE i = 1
          UNION ALL
          SELECT s.i, r.km * s.factor
          FROM rec r JOIN steps s ON s.i = r.i + 1),
        km6 AS (
          SELECT s.t, CAST(ROUND(ROUND(rec.km, 6) * 1e6) AS BIGINT)
                   AS km_micro,
                 ROUND(rec.km, 6) AS km
          FROM steps s JOIN rec USING (i)),
        iv AS (
          SELECT t, km, km_micro,
                 COALESCE(LAG(km_micro) OVER (ORDER BY t), 1000000)
                   AS pkm_micro,
                 COALESCE(LAG(t) OVER (ORDER BY t), 0) AS pt
          FROM km6),
        area AS (
          SELECT CAST(count(*) AS BIGINT) AS n_steps,
                 SUM(CAST(pkm_micro AS HUGEINT) *
                     (LEAST(t, 2592000) - LEAST(pt, 2592000))) AS head,
                 MAX(t) AS last_t,
                 arg_max(km_micro, t) AS last_km_micro
          FROM iv)
        SELECT CAST(2592000 AS BIGINT) AS tau, n_steps,
               ROUND(CAST(head + CAST(last_km_micro AS HUGEINT) *
                 GREATEST(2592000 - last_t, 0) AS DOUBLE) / 1e6, 6)
                 AS rmst
        FROM area
        -- mirror the operator's empty-curve refusal: with zero
        -- death steps the global aggregate would still emit one
        -- NULL-rmst row while Survival.rmst returns zero rows
        WHERE n_steps > 0
      """))
  )
}

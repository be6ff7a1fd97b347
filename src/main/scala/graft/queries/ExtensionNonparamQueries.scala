package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Par, Similarity}
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * N-gram novelty, source anomaly, interarrival, nonparametric battery (kruskal, conover, jonckheere, cochran, wilcoxon, ansari-bradley, mood, brunner-munzel, hodges-lehmann), URL canonicalization layer.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionNonparamQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    // Per-document n-gram novelty: the fraction of a doc's 3-gram
    // shingles whose FIRST corpus appearance (min doc_id) is this
    // doc — the memorization/novelty curation signal ("is this doc
    // new content or recombined boilerplate"), one inverted-index
    // pass on pure integers.
    QueryDef(
      "q_ngram_novelty",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
          .transform(Par.pin)
        val firstSeen = sh.groupBy(col("shingle"))
          .agg(min(col("id")).as("first_id"))
        sh.join(firstSeen, "shingle")
          .groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_ppm",
            expr("(n_novel * CAST(1000000 AS BIGINT)) div n_shingles"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH ${shingleCtes(3, "documents")},
        firstseen AS (
          SELECT shingle, min(doc_id) AS first_id FROM grams GROUP BY 1)
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN f.first_id = g.doc_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST((sum(CASE WHEN f.first_id = g.doc_id
                         THEN 1 ELSE 0 END) * 1000000) // count(*)
                 AS BIGINT) AS novelty_ppm
        FROM grams g JOIN firstseen f USING (shingle)
        GROUP BY 1
        ORDER BY g.doc_id
      """)),

    // Peer-group source anomaly: which FEED is the outlier — each
    // source's mean-doc-length micro-mean robust-z-scored against
    // the CROSS-SOURCE median/MAD (the q_robust_outliers machinery
    // one level up: within-feed tests ask "which doc broke", this
    // asks "which feed broke"). Exact lower-median selection under
    // total orders, z on the milli lattice, |z| > 3.5 flags.
    QueryDef(
      "q_source_anomaly",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val perSource = Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(expr("(sum(n_chars) * CAST(1000000 AS BIGINT)) " +
            "div count(1)").as("mean_micro"))
        val wVal = Window.orderBy(col("mean_micro"), col("source"))
        val n = perSource.count()
        val med = perSource
          .withColumn("rk", row_number().over(wVal))
          .filter(col("rk") === (n + 1) / 2)
          .select(col("mean_micro").as("med"))
        val devs = perSource.crossJoin(broadcast(med))
          .withColumn("adev", abs(col("mean_micro") - col("med")))
        val wDev = Window.orderBy(col("adev"), col("source"))
        val mad = devs
          .withColumn("rk", row_number().over(wDev))
          .filter(col("rk") === (n + 1) / 2)
          .select(col("adev").as("mad"))
        devs.crossJoin(broadcast(mad))
          .filter(col("mad") > 0)
          // sign · (|diff|·1000 div mad): Spark's div truncates while
          // DuckDB's // floors, so a signed lattice division would
          // diverge by one on negative deviations (the q_k_anonymity
          // FLOOR lesson) — magnitude-then-sign agrees everywhere
          .select(col("source"), col("mean_micro"),
            (signum((col("mean_micro") - col("med")).cast("double"))
              .cast("long") *
              expr("(abs(mean_micro - med) * CAST(1000 AS BIGINT)) " +
                "div mad")).as("robust_z_milli"))
          .withColumn("anomalous",
            abs(col("robust_z_milli")) > lit(3500L))
          .orderBy(col("source"))
      },
      Some("""
        WITH per AS (
          SELECT source,
                 CAST((sum(n_chars) * 1000000) // count(*) AS BIGINT)
                   AS mean_micro
          FROM documents GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM per),
        med AS (
          SELECT mean_micro AS med FROM (
            SELECT mean_micro,
                   ROW_NUMBER() OVER (ORDER BY mean_micro, source) AS rk
            FROM per)
          WHERE rk = ((SELECT n FROM nn) + 1) // 2),
        devs AS (
          SELECT p.source, p.mean_micro,
                 abs(p.mean_micro - m.med) AS adev, m.med
          FROM per p CROSS JOIN med m),
        mad AS (
          SELECT adev AS mad FROM (
            SELECT adev,
                   ROW_NUMBER() OVER (ORDER BY adev, source) AS rk
            FROM devs)
          WHERE rk = ((SELECT n FROM nn) + 1) // 2)
        SELECT d.source, d.mean_micro,
               CAST(CASE WHEN d.mean_micro >= d.med THEN 1 ELSE -1 END
                    * ((abs(d.mean_micro - d.med) * 1000) // m.mad)
                 AS BIGINT) AS robust_z_milli,
               (abs(d.mean_micro - d.med) * 1000) // m.mad > 3500
                 AS anomalous
        FROM devs d CROSS JOIN mad m
        WHERE m.mad > 0
        ORDER BY d.source
      """)),

    // Inter-arrival-time percentiles per event type: exact p50/p90
    // of the gaps between consecutive events (lag under the
    // (ts, event_id) total order), selected by rank — the
    // capacity-planning distribution behind rate alarms; engines
    // agree on selection, never on interpolation.
    QueryDef(
      "q_interarrival",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy(col("event_type"))
          .orderBy(col("us"), col("event_id"))
        val gaps = Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("gap", col("us") - lag(col("us"), 1).over(wOrd))
          .filter(col("gap").isNotNull)
        val wGap = Window.partitionBy(col("event_type"))
          .orderBy(col("gap"), col("event_id"))
        gaps
          .withColumn("rk", row_number().over(wGap))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("event_type"))))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n_gaps"),
            max(when(col("rk") === expr("(n + 1) div 2"), col("gap")))
              .as("p50_us"),
            max(when(col("rk") === expr("(9 * n + 9) div 10"),
              col("gap"))).as("p90_us"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH gaps AS (
          SELECT event_type, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                     OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS gap
          FROM events),
        ranked AS (
          SELECT event_type, gap,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY gap, event_id) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM gaps WHERE gap IS NOT NULL)
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
               max(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS p50_us,
               max(CASE WHEN rk = (9 * n + 9) // 10 THEN gap END)
                 AS p90_us
        FROM ranked GROUP BY 1
        ORDER BY event_type
      """)),

    // Per-source language purity: the dominant recorded language's
    // ppm share — a mixed-language feed dilutes monolingual training
    // mixes, and this is the one-row-per-feed gauge a mixture plan
    // filters on (dominant by count, ties to the smaller lang).
    QueryDef(
      "q_lang_purity",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cnts = Tables.documents(s, dir)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("c").desc, col("lang"))
        cnts
          .withColumn("rk", row_number().over(w))
          .withColumn("n", sum(col("c")).over(
            Window.partitionBy(col("source"))))
          .filter(col("rk") === 1)
          .select(col("source"), col("lang").as("dominant_lang"),
            col("n").as("n_docs"),
            expr("(c * CAST(1000000 AS BIGINT)) div n").as("purity_ppm"))
          .orderBy(col("source"))
      },
      Some("""
        WITH cnts AS (
          SELECT source, lang, count(*) AS c
          FROM documents GROUP BY 1, 2),
        ranked AS (
          SELECT source, lang, c,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY c DESC, lang) AS rk,
                 CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM cnts)
        SELECT source, lang AS dominant_lang, n AS n_docs,
               CAST((c * 1000000) // n AS BIGINT) AS purity_ppm
        FROM ranked WHERE rk = 1
        ORDER BY source
      """)),

    // Exact-dedup ROI accounting per source: docs and bytes removed
    // by the keep-min-id rule over md5(text) groups — the number
    // that justifies (or kills) a dedup stage in a pipeline review,
    // computed WITHOUT materializing the deduped corpus (group-sized
    // aggregation only).
    QueryDef(
      "q_dedup_savings",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"),
            md5(col("text")).as("h"))
        val keep = docs.groupBy(col("h"))
          .agg(min(col("doc_id")).as("keep_id"))
        docs.join(keep, "h")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
              .as("n_dropped"),
            sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
              .otherwise(0L)).as("bytes_saved"))
          .withColumn("saved_ppm",
            expr("(n_dropped * CAST(1000000 AS BIGINT)) div n_docs"))
          .orderBy(col("source"))
      },
      Some("""
        WITH d AS (
          SELECT source, doc_id, n_chars, md5(text) AS h
          FROM documents),
        keep AS (SELECT h, min(doc_id) AS keep_id FROM d GROUP BY 1)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN d.doc_id <> k.keep_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN d.doc_id <> k.keep_id
                        THEN d.n_chars ELSE 0 END) AS BIGINT)
                 AS bytes_saved,
               CAST((sum(CASE WHEN d.doc_id <> k.keep_id
                         THEN 1 ELSE 0 END) * 1000000) // count(*)
                 AS BIGINT) AS saved_ppm
        FROM d JOIN keep k USING (h)
        GROUP BY 1
        ORDER BY d.source
      """)),

    // Embedding-space outlier factor (simplified LOF, Breunig et al.
    // 2000): each point's mean distance to its 3 nearest neighbors,
    // ratioed against its NEIGHBORS' own mean-kNN-distances — a
    // point deep in a cluster scores ~1000 milli, an isolated point
    // scores high because its neighbors are mutually close. Entirely
    // on integer lattices: per-edge cosine DISTANCE micro, per-point
    // mean by floor division, the final ratio in milli — two
    // node-keyed joins over the directed kNN-3 edge list, top-20 by
    // (lof desc, id).
    QueryDef(
      "q_lof",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val knn = Similarity.cellBlockedTopK(
            emb, "vec_id", "embedding", 3)
          .select(col("query_id").as("a"), col("neighbor_id").as("b"),
            (lit(1000000L) -
              round(col("cosine") * lit(1e6)).cast("long")).as("dmicro"))
        val md = knn.groupBy(col("a"))
          .agg(expr("sum(dmicro) div count(1)").as("md"))
        val rm = knn
          .join(md.select(col("a").as("b"), col("md").as("nbmd")), "b")
          .groupBy(col("a"))
          .agg(expr("sum(nbmd) div count(1)").as("rm"))
        md.join(rm, "a")
          .filter(col("rm") > 0)
          .select(col("a").as("vec_id"), col("md").as("mean_dist_micro"),
            expr("(md * CAST(1000 AS BIGINT)) div rm").as("lof_milli"))
          .orderBy(col("lof_milli").desc, col("vec_id"))
          .limit(20)
      },
      Some(s"""
        WITH $cellKnnEdgeCtes,
        knn AS (
          -- ranked carries only (qa, qb, rn); rejoin scored for cos
          SELECT r.qa AS a, r.qb AS b,
                 1000000 - CAST(ROUND(s.cos * 1e6) AS BIGINT) AS dmicro
          FROM ranked r
          JOIN scored s ON s.qa = r.qa AND s.qb = r.qb
          WHERE r.rn <= 3),
        md AS (
          SELECT a, CAST(SUM(dmicro) // count(*) AS BIGINT) AS md
          FROM knn GROUP BY 1),
        rm AS (
          SELECT knn.a, CAST(SUM(nb.md) // count(*) AS BIGINT) AS rm
          FROM knn JOIN md nb ON nb.a = knn.b
          GROUP BY 1)
        SELECT md.a AS vec_id, md.md AS mean_dist_micro,
               CAST((md.md * 1000) // rm.rm AS BIGINT) AS lof_milli
        FROM md JOIN rm ON rm.a = md.a
        WHERE rm.rm > 0
        ORDER BY lof_milli DESC, vec_id
        LIMIT 20
      """)),

    // Cliff's delta ordinal effect size per source (doc length,
    // alternating-doc_id-block cohort split) — the "how big is the
    // difference" companion to q_mann_whitney's "is there one": exact
    // comparison counts over the cross pairs, signed-ppm edge via the
    // sign·(|·| div m) convention so truncating and flooring division
    // agree (NonParametric.cliffsDelta scaladoc). The cohort
    // predicate is (doc_id div 20) % 2 — INDEPENDENT of source
    // (= doc_id mod 20 in the fixture): a doc_id-parity split is
    // collinear with the source key and leaves every group's
    // treatment side empty, a structurally-0-row "green" that
    // exercises nothing (the round-10 vacuous-oracle lesson).
    QueryDef(
      "q_cliffs_delta",
      (s, dir) =>
        graft.operators.NonParametric.cliffsDelta(
            Tables.documents(s, dir), "source",
            pmod(expr("doc_id div 20"), lit(2L)) === 1, "n_chars")
          .orderBy(col("source")),
      Some("""
        WITH d AS (
          SELECT source, (doc_id // 20) % 2 = 1 AS t, n_chars
          FROM documents),
        x AS (
          SELECT t1.source,
                 CAST(count(*) AS BIGINT) AS pairs,
                 CAST(SUM(CASE WHEN t1.n_chars > t0.n_chars
                          THEN 1 ELSE 0 END) AS BIGINT) AS gt,
                 CAST(SUM(CASE WHEN t1.n_chars < t0.n_chars
                          THEN 1 ELSE 0 END) AS BIGINT) AS lt
          FROM d t1 JOIN d t0
            ON t1.source = t0.source AND t1.t AND NOT t0.t
          GROUP BY 1),
        c0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n0
               FROM d WHERE NOT t GROUP BY 1),
        c1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n1
               FROM d WHERE t GROUP BY 1)
        SELECT x.source, c0.n0, c1.n1, x.gt, x.lt,
               CAST((CASE WHEN x.gt > x.lt THEN 1
                          WHEN x.gt < x.lt THEN -1 ELSE 0 END)
                    * ((abs(x.gt - x.lt) * 1000000) // x.pairs)
                 AS BIGINT) AS delta_ppm
        FROM x JOIN c0 USING (source) JOIN c1 USING (source)
        ORDER BY x.source
      """)),

    // Kruskal-Wallis rank ANOVA: do the 20 sources draw doc lengths
    // from one distribution, tested WITHIN each language partition —
    // the rank twin of q_anova that outliers and monotone rescaling
    // cannot move. Average-rank ties ride the doubled-rank integer
    // lattice (the q_spearman convention); Σ R²/n stays exact as
    // integer quotients + nano-snapped remainder fractions until ONE
    // written IEEE sequence forms H (NonParametric.kruskalWallis
    // scaladoc).
    QueryDef(
      "q_kruskal",
      (s, dir) =>
        graft.operators.NonParametric.kruskalWallis(
            Tables.documents(s, dir), "lang", "source", "n_chars")
          .orderBy(col("lang")),
      Some("""
        WITH ranked AS (
          SELECT lang, source,
                 2 * RANK() OVER (PARTITION BY lang ORDER BY n_chars)
                   + COUNT(*) OVER (PARTITION BY lang, n_chars) - 1
                   AS r2
          FROM documents),
        pg AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS ng,
                 CAST(sum(r2) AS BIGINT) AS rsum
          FROM ranked GROUP BY 1, 2),
        pq AS (
          SELECT lang, ng,
                 (rsum * rsum) // ng AS q,
                 CAST(ROUND(CAST((rsum * rsum) % ng AS DOUBLE)
                      / CAST(ng AS DOUBLE) * 1e9) AS BIGINT) AS remnano
          FROM pg),
        ties AS (
          SELECT lang, CAST(SUM(t * t * t - t) AS BIGINT) AS tie
          FROM (SELECT lang, n_chars, count(*) AS t
                FROM documents GROUP BY 1, 2)
          GROUP BY 1),
        st AS (
          SELECT lang, CAST(SUM(ng) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS k_groups,
                 CAST(SUM(CAST(q AS HUGEINT)) AS DOUBLE) AS qsum_d,
                 CAST(SUM(remnano) AS BIGINT) AS remsum
          FROM pq GROUP BY 1)
        SELECT st.lang, st.n, st.k_groups,
               CAST(ROUND((3.0 * (qsum_d + CAST(remsum AS DOUBLE) / 1e9)
                           / (CAST(n AS DOUBLE)
                              * (CAST(n AS DOUBLE) + 1.0))
                           - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                          * 1000000.0) AS BIGINT) AS h_micro,
               CAST(ROUND(((3.0 * (qsum_d + CAST(remsum AS DOUBLE) / 1e9)
                            / (CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) + 1.0))
                            - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                           / (1.0 - CAST(tie AS DOUBLE)
                                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                   * CAST(n AS DOUBLE)
                                   - CAST(n AS DOUBLE))))
                          * 1000000.0) AS BIGINT)
                 AS h_tie_corrected_micro
        FROM st JOIN ties USING (lang)
        WHERE k_groups >= 2 AND n >= 2 AND tie < n * n * n - n
        ORDER BY lang
      """)),

    // Conover-Iman post-hoc pairwise comparisons on the SAME pooled
    // midranks as q_kruskal: KW says "some source differs",
    // Conover-Iman says WHICH pairs — more powerful than re-running
    // pairwise Mann-Whitney, and the comparison Conover recommends.
    // Exact lattices throughout (doubled midranks, DECIMAL Σ(2R)²,
    // the div+remnano quotient for H_c), one IEEE sequence per
    // pair, pair enumeration over the GROUP-STATS table (k²-bounded,
    // never the corpus) (NonParametric.conoverIman scaladoc).
    QueryDef(
      "q_conover_posthoc",
      (s, dir) =>
        graft.operators.NonParametric.conoverIman(
            Tables.documents(s, dir), "lang", "source", "n_chars")
          .orderBy(col("lang"), col("g1"), col("g2")),
      Some("""
        WITH ranked AS (
          SELECT lang, source,
                 2 * RANK() OVER (PARTITION BY lang ORDER BY n_chars)
                   + COUNT(*) OVER (PARTITION BY lang, n_chars) - 1
                   AS r2
          FROM documents),
        pg AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS ng,
                 CAST(sum(r2) AS BIGINT) AS rsum
          FROM ranked GROUP BY 1, 2),
        pq AS (
          SELECT lang, ng,
                 (rsum * rsum) // ng AS q,
                 CAST(ROUND(CAST((rsum * rsum) % ng AS DOUBLE)
                      / CAST(ng AS DOUBLE) * 1e9) AS BIGINT)
                   AS remnano
          FROM pg),
        ties AS (
          SELECT lang, CAST(SUM(t * t * t - t) AS BIGINT) AS tie
          FROM (SELECT lang, n_chars, count(*) AS t
                FROM documents GROUP BY 1, 2)
          GROUP BY 1),
        sq AS (
          SELECT lang, SUM(CAST(r2 AS HUGEINT) * r2) AS sumr2sq
          FROM ranked GROUP BY 1),
        st AS (
          SELECT pq.lang, CAST(SUM(ng) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(CAST(q AS HUGEINT)) AS DOUBLE) AS qsum_d,
                 CAST(SUM(remnano) AS BIGINT) AS remsum
          FROM pq GROUP BY 1),
        fx AS (
          SELECT st.lang,
                 ((CAST(sq.sumr2sq AS DOUBLE) / 4.0
                   - CAST(st.n AS DOUBLE)
                     * (CAST(st.n AS DOUBLE) + 1.0)
                     * (CAST(st.n AS DOUBLE) + 1.0) / 4.0)
                  / (CAST(st.n AS DOUBLE) - 1.0))
                 * (CAST(st.n AS DOUBLE) - 1.0
                    - (3.0 * (qsum_d + CAST(remsum AS DOUBLE) / 1e9)
                       / (CAST(st.n AS DOUBLE)
                          * (CAST(st.n AS DOUBLE) + 1.0))
                       - 3.0 * (CAST(st.n AS DOUBLE) + 1.0))
                      / (1.0 - CAST(tie AS DOUBLE)
                         / (CAST(st.n AS DOUBLE) * CAST(st.n AS DOUBLE)
                            * CAST(st.n AS DOUBLE)
                            - CAST(st.n AS DOUBLE))))
                 / (CAST(st.n AS DOUBLE) - CAST(st.k AS DOUBLE))
                   AS factor
          FROM st JOIN ties USING (lang) JOIN sq USING (lang)
          WHERE st.k >= 2 AND st.n > st.k
            AND ties.tie < st.n * st.n * st.n - st.n)
        SELECT a.lang, a.source AS g1, b.source AS g2,
               a.ng AS n1, b.ng AS n2,
               CAST(ROUND((CAST(a.rsum AS DOUBLE)
                      / CAST(a.ng AS DOUBLE)
                    - CAST(b.rsum AS DOUBLE) / CAST(b.ng AS DOUBLE))
                    / 2.0
                    / sqrt(fx.factor * (1.0 / CAST(a.ng AS DOUBLE)
                           + 1.0 / CAST(b.ng AS DOUBLE)))
                    * 1e6) AS BIGINT) AS t_micro
        FROM pg a
        JOIN pg b ON a.lang = b.lang AND a.source < b.source
        JOIN fx ON fx.lang = a.lang
        WHERE fx.factor > 0
        ORDER BY a.lang, g1, g2
      """)),

    // Jonckheere-Terpstra ordered-alternative trend within each
    // language partition: do per-batch character totals TREND with
    // the source index (the src0 < src1 < ... ordering), the sharper
    // one-directional companion to q_kruskal's "any difference" on
    // the SAME partition layout. Observations are a SCALE-FREE
    // upstream rollup — pmod(doc_id, 256) batches per source, so a
    // lang partition holds at most sources×256 rows no matter the
    // corpus size and the operator's O(n²) maxGroupRows guard can
    // never trip at scale (the mannKendall roll-up-first contract).
    // Doubled-J lattice (2·gt + eq — the exact ½-tie convention),
    // exact integer E2 and tie-corrected variance aggregates, one
    // written IEEE sequence for z
    // (NonParametric.jonckheereTerpstra scaladoc).
    QueryDef(
      "q_jonckheere",
      (s, dir) =>
        graft.operators.NonParametric.jonckheereTerpstra(
            Tables.documents(s, dir)
              .groupBy(
                col("lang"),
                substring(col("source"), 4, 10).cast("long")
                  .as("src_idx"),
                pmod(col("doc_id"), lit(256L)).as("batch"))
              .agg(sum(col("n_chars")).cast("long").as("batch_chars")),
            "lang", "src_idx", "batch_chars")
          .orderBy(col("lang")),
      Some("""
        WITH r AS (
          SELECT lang, CAST(substr(source, 4) AS BIGINT) AS o,
                 CAST(SUM(n_chars) AS BIGINT) AS x
          FROM documents
          GROUP BY lang, o, doc_id % 256),
        j AS (
          SELECT a.lang,
                 CAST(SUM(CASE WHEN b.x > a.x THEN 2
                               WHEN b.x = a.x THEN 1
                               ELSE 0 END) AS BIGINT) AS j2
          FROM r a JOIN r b ON b.lang = a.lang AND a.o < b.o
          GROUP BY 1),
        gs AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS k_groups,
                 CAST(sum(ng) AS BIGINT) AS n,
                 CAST(sum(ng * ng) AS BIGINT) AS sn2,
                 CAST(sum(ng * (ng - 1) * (2 * ng + 5)) AS BIGINT) AS ga,
                 CAST(sum(ng * (ng - 1) * (ng - 2)) AS BIGINT) AS gb,
                 CAST(sum(ng * (ng - 1)) AS BIGINT) AS gc
          FROM (SELECT lang, o, CAST(count(*) AS BIGINT) AS ng
                FROM r GROUP BY 1, 2)
          GROUP BY 1),
        ts AS (
          SELECT lang,
                 CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ta,
                 CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS tb,
                 CAST(sum(t * (t - 1)) AS BIGINT) AS tc
          FROM (SELECT lang, x, CAST(count(*) AS BIGINT) AS t
                FROM r GROUP BY 1, 2)
          GROUP BY 1),
        stat AS (
          SELECT gs.lang, gs.n, gs.k_groups, j.j2,
                 (gs.n * gs.n - gs.sn2) // 2 AS e2,
                 CAST(gs.n * (gs.n - 1) * (2 * gs.n + 5)
                      - gs.ga - ts.ta AS DOUBLE) / 72.0
                 + CASE WHEN gs.n > 2 THEN
                     CAST(gs.gb AS DOUBLE) * CAST(ts.tb AS DOUBLE)
                     / (36.0 * CAST(gs.n AS DOUBLE)
                        * (CAST(gs.n AS DOUBLE) - 1.0)
                        * (CAST(gs.n AS DOUBLE) - 2.0))
                   ELSE 0.0 END
                 + CAST(gs.gc AS DOUBLE) * CAST(ts.tc AS DOUBLE)
                   / (8.0 * CAST(gs.n AS DOUBLE)
                      * (CAST(gs.n AS DOUBLE) - 1.0)) AS v
          FROM gs JOIN ts ON ts.lang = gs.lang
          JOIN j ON j.lang = gs.lang
          WHERE gs.k_groups >= 2 AND gs.n >= 3)
        SELECT lang, n, k_groups, j2, e2,
               CAST(ROUND(CAST(j2 - e2 AS DOUBLE) / (2.0 * sqrt(v))
                          * 1e6) AS BIGINT) AS z_micro
        FROM stat
        WHERE v > 0
        ORDER BY lang
      """)),

    // Cochran's Q per source: do three binary quality filters
    // (length >= 300 chars, >= 56 whitespace tokens, mentions
    // 'data') flag the same documents — the blocked binary
    // agreement test (Friedman's dichotomous sibling, McNemar past
    // two raters), the pre-flight before composing filters into a
    // curation gate. Every term is an exact integer aggregate — no
    // ranks, no pairs — so the statistic is scale-safe at any
    // document count (NonParametric.cochranQ scaladoc).
    QueryDef(
      "q_cochran_q",
      (s, dir) => {
        val obs = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            expr("stack(3, " +
              "'f_len', n_chars >= 300, " +
              "'f_toks', size(split(text, ' ')) >= 56, " +
              "'f_word', text LIKE '%data%') AS (filter, pass)"))
        graft.operators.NonParametric.cochranQ(
            obs, "source", "doc_id", "filter", "pass")
          .orderBy(col("source"))
      },
      Some("""
        WITH obs AS (
          SELECT source, doc_id, f.filter,
                 CASE f.filter
                   WHEN 'f_len' THEN n_chars >= 300
                   WHEN 'f_toks' THEN len(string_split(text, ' ')) >= 56
                   ELSE text LIKE '%data%' END AS pass
          FROM documents
          CROSS JOIN (SELECT unnest(['f_len', 'f_toks', 'f_word'])
                      AS filter) f),
        ct AS (
          SELECT source, filter,
                 CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS cj
          FROM obs GROUP BY 1, 2),
        cs AS (
          SELECT source, CAST(count(*) AS BIGINT) AS kt,
                 CAST(SUM(cj) AS BIGINT) AS nsucc,
                 SUM(CAST(cj AS DECIMAL(38,0)) * CAST(cj AS DECIMAL(38,0)))
                   AS c2
          FROM ct GROUP BY 1),
        rt AS (
          SELECT source, doc_id,
                 CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS ri
          FROM obs GROUP BY 1, 2),
        rs AS (
          SELECT source, CAST(count(*) AS BIGINT) AS nb,
                 SUM(CAST(ri AS DECIMAL(38,0)) * CAST(ri AS DECIMAL(38,0)))
                   AS r2
          FROM rt GROUP BY 1),
        st AS (
          SELECT cs.source, rs.nb, cs.kt, cs.nsucc,
                 CAST(cs.kt - 1 AS DECIMAL(38,0))
                   * (CAST(cs.kt AS DECIMAL(38,0)) * cs.c2
                      - CAST(cs.nsucc AS DECIMAL(38,0))
                        * CAST(cs.nsucc AS DECIMAL(38,0))) AS num,
                 CAST(cs.kt AS DECIMAL(38,0))
                   * CAST(cs.nsucc AS DECIMAL(38,0)) - rs.r2 AS den
          FROM cs JOIN rs ON rs.source = cs.source
          WHERE cs.kt >= 2 AND rs.nb >= 2)
        SELECT source, nb AS n_blocks, kt AS k_treatments,
               nsucc AS n_success,
               CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                          * 1e6) AS BIGINT) AS q_micro
        FROM st
        WHERE den > 0
        ORDER BY source
      """)),

    // Wilcoxon signed-rank per source: is "5 chars per token" a
    // calibrated length model — pair each doc's n_chars against
    // 5 × its whitespace token count and ask whether the signed
    // differences center on zero WITHIN the doc (the paired
    // companion to q_mann_whitney's independent-samples readout).
    // Zero differences drop by Wilcoxon's own convention; |d| ranks
    // on the doubled average-rank lattice and every sufficient
    // statistic (W2+, E2, the tie-corrected 12·Var) is an exact
    // integer until ONE written IEEE sequence forms the continuity-
    // corrected z (NonParametric.wilcoxonSignedRank scaladoc).
    QueryDef(
      "q_wilcoxon_signed",
      (s, dir) =>
        graft.operators.NonParametric.wilcoxonSignedRank(
            Tables.documents(s, dir)
              .select(col("source"), col("n_chars").as("chars"),
                (lit(5) * size(split(col("text"), " ")))
                  .cast("long").as("toks5")),
            "source", "chars", "toks5")
          .orderBy(col("source")),
      Some(wilcoxonOracle)),

    // Streaming twin of q_wilcoxon_signed — the paired drift monitor
    // run as mapGroupsWithState: each doc folds one difference into
    // a per-source value→count multiset (state is O(distinct
    // differences), never the pair count) and the doubled-lattice
    // statistics replay per trigger. The multiset fold is
    // commutative, so the result is independent of micro-batch
    // splits; the twin shares q_wilcoxon_signed's oracle
    // (StreamingOps.wilcoxonState scaladoc).
    QueryDef(
      "q_stream_wilcoxon",
      (s, dir) =>
        graft.streaming.StreamingOps.wilcoxonHistory(
            s, s"$dir/documents.parquet")
          .orderBy(col("source")),
      Some(wilcoxonOracle)),

    // Benjamini-Hochberg FDR control over the per-source Wilcoxon
    // battery: with 20 sources at α = 0.05, one "significant" cell
    // per readout is EXPECTED under the global null — the step-up
    // rule is what makes a battery of this family's tests honest.
    // p = erfc(|z|/√2) via the PINNED Abramowitz-Stegun 7.1.26
    // polynomial (one IEEE sequence both engines replay — the q_nb
    // log10 precedent); after the nano snap every BH comparison is
    // exact integer arithmetic
    // (NonParametric.benjaminiHochberg scaladoc).
    QueryDef(
      "q_fdr_battery",
      (s, dir) =>
        graft.operators.NonParametric.benjaminiHochberg(
            graft.operators.NonParametric.wilcoxonSignedRank(
              Tables.documents(s, dir)
                .select(col("source"), col("n_chars").as("chars"),
                  (lit(5) * size(split(col("text"), " ")))
                    .cast("long").as("toks5")),
              "source", "chars", "toks5"),
            "source", "z_micro")
          .orderBy(col("source")),
      Some(s"""
        WITH wsr AS ($wilcoxonOracle),
        px AS (
          SELECT source,
                 abs(CAST(z_micro AS DOUBLE)) / 1000000.0 / sqrt(2.0)
                   AS x
          FROM wsr),
        pt AS (
          SELECT source, x, 1.0 / (1.0 + 0.3275911 * x) AS t FROM px),
        pe AS (
          SELECT source,
                 CAST(ROUND(
                   ((((1.061405429 * t - 1.453152027) * t
                      + 1.421413741) * t - 0.284496736) * t
                    + 0.254829592) * t * exp(-(x * x)) * 1e9)
                   AS BIGINT) AS p_nano
          FROM pt),
        rk AS (
          SELECT source, p_nano,
                 CAST(ROW_NUMBER() OVER (ORDER BY p_nano, source)
                   AS BIGINT) AS p_rank,
                 CAST(COUNT(*) OVER () AS BIGINT) AS m
          FROM pe),
        fl AS (
          SELECT *,
                 CASE WHEN p_nano * m <= p_rank * 50000 * 1000
                      THEN p_rank ELSE 0 END AS fr
          FROM rk),
        ks AS (SELECT *, MAX(fr) OVER () AS kstar FROM fl)
        SELECT source, p_nano, p_rank, p_rank <= kstar AS discovery
        FROM ks
        ORDER BY source
      """)),

    // Ansari-Bradley rank scale test per language: do odd- and
    // even-doc_id cohorts differ in length DISPERSION around a
    // common center — the moment-free companion to q_brown_forsythe
    // on the same partition layout. Pooled lengths rank on the
    // doubled lattice, every row scores from both ends
    // (a2 = min(r2, 2(N+1) − r2)), and the conditional null moments
    // given the observed tie-shared score multiset keep AB2/S2/Q2
    // exact integers until the one written IEEE z
    // (NonParametric.ansariBradley scaladoc).
    QueryDef(
      "q_ansari_bradley",
      (s, dir) =>
        graft.operators.NonParametric.ansariBradley(
            Tables.documents(s, dir), "lang",
            pmod(col("doc_id"), lit(2L)) === 1, "n_chars")
          .orderBy(col("lang")),
      Some("""
        WITH d AS (
          SELECT lang, doc_id % 2 = 1 AS b, n_chars AS x
          FROM documents),
        r AS (
          SELECT lang, b,
                 2 * RANK() OVER (PARTITION BY lang ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY lang, x) - 1 AS r2,
                 COUNT(*) OVER (PARTITION BY lang) AS nn
          FROM d),
        sc AS (
          SELECT lang, b,
                 LEAST(r2, 2 * (nn + 1) - r2) AS a2
          FROM r),
        st AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(SUM(CASE WHEN b THEN a2 ELSE 0 END) AS BIGINT)
                   AS ab2,
                 CAST(SUM(a2) AS BIGINT) AS s2,
                 SUM(CAST(a2 AS HUGEINT) * CAST(a2 AS HUGEINT)) AS q2
          FROM sc GROUP BY 1)
        SELECT lang, n_a, n_b, ab2,
               CAST(ROUND(
                 CAST(CAST(n AS HUGEINT) * ab2
                      - CAST(n_b AS HUGEINT) * s2 AS DOUBLE)
                 / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * q2
                               - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                        / (CAST(n AS DOUBLE) - 1.0))
                 * 1000000.0) AS BIGINT) AS z_micro
        FROM st
        WHERE n_a > 0 AND n_b > 0
          AND CAST(n AS HUGEINT) * q2 > CAST(s2 AS HUGEINT) * s2
        ORDER BY lang
      """)),

    // Mood's median test per language: dichotomize every doc length
    // against the language's pooled LOWER median (an exact order
    // statistic — no interpolation for either engine to disagree on)
    // and chi-square the 2×20 source table — the bluntest location
    // check, immune to everything but the center, run beside
    // q_kruskal as the outlier-proof sanity net. Per-group quotients
    // ride the kruskal div+remnano lattice; one written IEEE
    // sequence forms chi2 (NonParametric.moodMedian scaladoc).
    QueryDef(
      "q_mood_median",
      (s, dir) =>
        graft.operators.NonParametric.moodMedian(
            Tables.documents(s, dir), "lang", "source", "n_chars")
          .orderBy(col("lang")),
      Some("""
        WITH rows_ AS (
          SELECT lang, source, n_chars AS x FROM documents),
        bv AS (
          SELECT lang, x, CAST(count(*) AS BIGINT) AS c
          FROM rows_ GROUP BY 1, 2),
        med AS (
          SELECT lang, MIN(x) AS m FROM (
            SELECT lang, x,
                   SUM(c) OVER (PARTITION BY lang ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                   SUM(c) OVER (PARTITION BY lang) AS nn
            FROM bv)
          WHERE cum * 2 >= nn GROUP BY 1),
        pg AS (
          SELECT r.lang, r.source, CAST(count(*) AS BIGINT) AS ng,
                 CAST(SUM(CASE WHEN r.x > med.m THEN 1 ELSE 0 END)
                   AS BIGINT) AS ag
          FROM rows_ r JOIN med ON med.lang = r.lang
          GROUP BY 1, 2),
        tot AS (
          SELECT lang, CAST(SUM(ng) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k_groups,
                 CAST(SUM(ag) AS BIGINT) AS above_total
          FROM pg GROUP BY 1),
        q AS (
          SELECT pg.lang, pg.ng, tot.n, tot.k_groups, tot.above_total,
                 CAST(tot.n AS HUGEINT) * pg.ag
                   - CAST(pg.ng AS HUGEINT) * tot.above_total AS num
          FROM pg JOIN tot USING (lang)),
        q2 AS (
          SELECT lang, n, k_groups, above_total,
                 (num * num) // ng AS qq,
                 CAST(ROUND(CAST((num * num) % ng AS DOUBLE)
                      / CAST(ng AS DOUBLE) * 1e9) AS BIGINT) AS remnano
          FROM q),
        agg AS (
          SELECT lang, MAX(n) AS n, MAX(k_groups) AS k_groups,
                 MAX(above_total) AS above_total,
                 CAST(SUM(qq) AS DOUBLE) AS qsum_d,
                 CAST(SUM(remnano) AS BIGINT) AS remsum
          FROM q2 GROUP BY 1)
        SELECT lang, n, k_groups, above_total,
               CAST(ROUND(
                 (qsum_d + CAST(remsum AS DOUBLE) / 1e9)
                 / (CAST(above_total AS DOUBLE)
                    * CAST(n - above_total AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS chi2_micro
        FROM agg
        WHERE k_groups >= 2 AND above_total > 0 AND above_total < n
        ORDER BY lang
      """)),

    // Brunner-Munzel stochastic-superiority test per language on the
    // SAME cohort split as q_ansari_bradley: the modern Mann-Whitney
    // replacement that estimates a separate rank variance per cohort
    // (the rank-world Welch correction), so it stays honest when the
    // two cohorts differ in shape, not just location. Pooled and
    // within-cohort doubled midranks; the variance numerator expands
    // to per-cohort integer aggregates with no join-back; p̂ on the
    // exact ppm lattice, one IEEE sequence each for W and the
    // Welch-Satterthwaite df (NonParametric.brunnerMunzel scaladoc).
    QueryDef(
      "q_brunner_munzel",
      (s, dir) =>
        graft.operators.NonParametric.brunnerMunzel(
            Tables.documents(s, dir), "lang",
            pmod(col("doc_id"), lit(2L)) === 1, "n_chars")
          .orderBy(col("lang")),
      Some("""
        WITH d AS (
          SELECT lang, doc_id % 2 = 1 AS cb, n_chars AS x
          FROM documents),
        r AS (
          SELECT lang, cb,
                 2 * RANK() OVER (PARTITION BY lang ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY lang, x) - 1 AS r2,
                 2 * RANK() OVER (PARTITION BY lang, cb ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY lang, cb, x) - 1
                   AS r2w
          FROM d),
        pc AS (
          SELECT lang, cb, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(r2) AS BIGINT) AS s,
                 CAST(SUM(r2 - r2w) AS BIGINT) AS sd,
                 SUM(CAST(r2 - r2w AS HUGEINT) * (r2 - r2w)) AS sd2
          FROM r GROUP BY 1, 2),
        pv AS (
          SELECT lang, cb, n, s,
                 CAST(n AS HUGEINT) * n * sd2
                   - 2 * CAST(n AS HUGEINT)
                     * (s - CAST(n AS HUGEINT) * (n + 1)) * sd
                   + CAST(n AS HUGEINT)
                     * (s - CAST(n AS HUGEINT) * (n + 1))
                     * (s - CAST(n AS HUGEINT) * (n + 1)) AS v2
          FROM pc),
        j AS (
          SELECT a.lang, a.n AS n_a, b.n AS n_b,
                 a.s AS sa, b.s AS sb,
                 CAST(a.v2 AS DOUBLE)
                   / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0))
                   AS ua,
                 CAST(b.v2 AS DOUBLE)
                   / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0))
                   AS ub
          FROM pv a JOIN pv b ON a.lang = b.lang AND NOT a.cb AND b.cb
          WHERE a.n >= 2 AND b.n >= 2)
        SELECT lang, n_a, n_b,
               CAST(((sb - n_b * (n_b + 1)) * 1000000) // (2 * n_a * n_b)
                 AS BIGINT) AS p_ppm,
               CAST(ROUND(
                 CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 * (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)
                    - CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE))
                 / (CAST(n_a + n_b AS DOUBLE) * sqrt(ua + ub))
                 * 1000000.0) AS BIGINT) AS w_micro,
               CAST(ROUND(
                 (ua + ub) * (ua + ub)
                 / (ua * ua / (CAST(n_a AS DOUBLE) - 1.0)
                    + ub * ub / (CAST(n_b AS DOUBLE) - 1.0))
                 * 1000000.0) AS BIGINT) AS df_micro
        FROM j
        WHERE ua + ub > 0
        ORDER BY lang
      """)),

    // Hodges-Lehmann shift estimator per source on the SAME cohort
    // split as q_cliffs_delta: where δ says HOW OFTEN treatment
    // beats control, HL says BY HOW MUCH in original units — the
    // exact lower+upper-middle median of all treatment-minus-control
    // pairwise character-count differences, on the doubled lattice
    // (hl2 = sum of the two middle order statistics, never
    // interpolated; true estimator = hl2/2). The cross-pair set is
    // O(n0·n1) by definition and guarded; every output cell is an
    // exact integer — no IEEE anywhere
    // (NonParametric.hodgesLehmannShift scaladoc).
    QueryDef(
      "q_hodges_lehmann",
      (s, dir) =>
        graft.operators.NonParametric.hodgesLehmannShift(
            Tables.documents(s, dir), "source",
            pmod(expr("doc_id div 20"), lit(2L)) === 1, "n_chars")
          .orderBy(col("source")),
      Some("""
        WITH d AS (
          SELECT source, (doc_id // 20) % 2 = 1 AS t, n_chars AS x
          FROM documents),
        diffs AS (
          SELECT t1.source, t1.x - t0.x AS dd,
                 CAST(count(*) AS BIGINT) AS c
          FROM d t1 JOIN d t0
            ON t1.source = t0.source AND t1.t AND NOT t0.t
          GROUP BY 1, 2),
        cum AS (
          SELECT source, dd,
                 SUM(c) OVER (PARTITION BY source ORDER BY dd
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cm,
                 SUM(c) OVER (PARTITION BY source) AS pr
          FROM diffs),
        lo AS (
          SELECT source, MIN(dd) AS dlo, MAX(pr) AS pairs
          FROM cum WHERE cm * 2 >= pr GROUP BY 1),
        hi AS (
          SELECT source, MIN(dd) AS dhi
          FROM cum WHERE cm * 2 > pr GROUP BY 1),
        sz AS (
          SELECT source,
                 CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
                 CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
          FROM d GROUP BY 1)
        SELECT sz.source, sz.n0, sz.n1,
               CAST(lo.pairs AS BIGINT) AS pairs,
               CAST(lo.dlo + hi.dhi AS BIGINT) AS hl2_shift
        FROM sz JOIN lo USING (source) JOIN hi USING (source)
        WHERE sz.n0 > 0 AND sz.n1 > 0
        ORDER BY sz.source
      """)),

    // URL canonicalization over deterministically-derived messy URLs
    // (upper-case scheme/host, www, userinfo-free, default :443,
    // doubled slashes, trailing slash, tracking params in shuffled
    // order, fragments): the crawl-curation primitive that collapses
    // trivially-distinct URLs of one resource BEFORE any text-level
    // dedup. Pure codegen'd regexp/array builtins — the
    // canonicalizer fuses into the scan projection; both engines
    // derive the identical raw string from (doc_id, source) and then
    // canonicalize with their own pipelines, so the cross-check
    // verifies the SEMANTICS, not a shared implementation
    // (UrlOps.canonicalizeUrl scaladoc).
    QueryDef(
      "q_url_canonical",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), derivedUrl.as("url"))
          .select(col("doc_id"),
            graft.operators.UrlOps.canonicalizeUrl(col("url"))
              .as("canonical"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH $urlCanonCtes
        SELECT doc_id, canonical FROM canon ORDER BY doc_id
      """)),

    // Per-domain cap (the C4/RefinedWeb corpus-balance rule): keep
    // the 3 longest docs per REGISTRABLE domain (public-suffix-aware
    // owner grouping, so src0.co.uk and www.src0.co.uk collapse while
    // src0.com stays separate) with a pinned total order. One
    // hash-partitioned window — the cap is k-bounded per domain, so
    // output is domains×k no matter the corpus size
    // (UrlOps.domainCap scaladoc).
    QueryDef(
      "q_domain_cap",
      (s, dir) =>
        graft.operators.UrlOps.domainCap(
            Tables.documents(s, dir)
              .select(col("doc_id"), col("n_chars"),
                derivedUrl.as("url")),
            "url", 3, Seq(col("n_chars").desc, col("doc_id")))
          .select(col("domain"), col("doc_id"), col("rk"))
          .orderBy(col("domain"), col("rk")),
      Some(s"""
        WITH $urlCanonCtes,
        rk AS (
          SELECT domain, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY domain
                        ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
          FROM canon)
        SELECT domain, doc_id, rk FROM rk
        WHERE rk <= 3
        ORDER BY domain, rk
      """)),

    // URL-keyed exact dedup — what the canonicalizer exists FOR: the
    // derivation maps doc_ids to (source, doc_id%7, doc_id-parity)
    // buckets, so distinct raw URLs (case, www, ports, tracking
    // params, fragments) collapse to one canonical key and the
    // keep-min rule picks a deterministic survivor; one hash
    // aggregate, group-sized output (the Dedup.exact shape on the
    // URL key instead of the text hash).
    QueryDef(
      "q_url_dedup",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), derivedUrl.as("url"))
          .select(col("doc_id"),
            graft.operators.UrlOps.canonicalizeUrl(col("url"))
              .as("canonical"))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_dups"),
            min(col("doc_id")).as("keeper"))
          .orderBy(col("canonical")),
      Some(s"""
        WITH $urlCanonCtes
        SELECT canonical, CAST(count(*) AS BIGINT) AS n_dups,
               CAST(MIN(doc_id) AS BIGINT) AS keeper
        FROM canon
        GROUP BY canonical
        ORDER BY canonical
      """)),

    // Per-domain corpus share audit: docs, characters, and the exact
    // integer-ppm share per registrable domain — the "is any owner
    // dominating the mix" pre-flight a corpus curator reads before
    // setting caps. One aggregate + a broadcast scalar total
    // (UrlOps.domainShares scaladoc).
    QueryDef(
      "q_domain_share",
      (s, dir) =>
        graft.operators.UrlOps.domainShares(
            Tables.documents(s, dir)
              .select(col("n_chars"), derivedUrl.as("url")),
            "url", "n_chars")
          .orderBy(col("domain")),
      Some(s"""
        WITH $urlCanonCtes,
        pd AS (
          SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_chars) AS BIGINT) AS chars
          FROM canon GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM pd)
        SELECT pd.domain, pd.n_docs, pd.chars,
               CAST((pd.n_docs * 1000000) // tot.t AS BIGINT)
                 AS share_ppm
        FROM pd, tot
        ORDER BY pd.domain
      """))
  )
}

package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sqlList
import graft.functions.{TextAnalysis, TextFunctions}
import graft.operators.{CorpusMixing, CurationPipeline, Dedup, DistributionTests, GlobalIds, Par, RankCorrelation, SequencePacking, Similarity, Skyline, UnigramLM}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * Kendall, percolation, RBO, streaming twins, theil-sen, conformal, DBSCAN, silhouette, assoc rules, tail index, drift, power analysis, threshold sweeps, backtest, link prediction, ANN filtered, slices, mcnemar, coreset.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionGraphStatsQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    // Kendall's tau-b per nation: account balance (cents lattice) vs
    // order count — the pair-concordance twin of q_spearman, exact
    // C/D/tie counts with the operator refusing unbounded strata
    // (RankCorrelation.kendallTauB scaladoc).
    QueryDef(
      "q_kendall",
      (s, dir) => {
        val oc = Tables.orders(s, dir)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        val pts = Tables.customer(s, dir)
          .join(oc, col("o_custkey") === col("c_custkey"), "left")
          .select(col("c_nationkey"),
            (col("c_acctbal") * 100).cast("long").as("bal_cents"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        RankCorrelation.kendallTauB(pts, "c_nationkey",
            "bal_cents", "n_orders")
          .orderBy(col("c_nationkey"))
      },
      Some("""
        WITH oc AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        pts AS (
          SELECT c_nationkey AS g, CAST(c_acctbal * 100 AS BIGINT) AS x,
                 COALESCE(n_orders, 0) AS y
          FROM customer LEFT JOIN oc ON o_custkey = c_custkey),
        cd AS (
          SELECT a.g,
                 CAST(SUM(CASE WHEN (a.x > b.x AND a.y > b.y)
                            OR (a.x < b.x AND a.y < b.y)
                          THEN 1 ELSE 0 END) // 2 AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN (a.x > b.x AND a.y < b.y)
                            OR (a.x < b.x AND a.y > b.y)
                          THEN 1 ELSE 0 END) // 2 AS BIGINT) AS d
          FROM pts a JOIN pts b USING (g)
          GROUP BY 1),
        tx AS (SELECT g, CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS tiex
               FROM (SELECT g, x, count(*) AS t FROM pts GROUP BY 1, 2)
               GROUP BY 1),
        ty AS (SELECT g, CAST(SUM(t * (t - 1)) // 2 AS BIGINT) AS tiey
               FROM (SELECT g, y, count(*) AS t FROM pts GROUP BY 1, 2)
               GROUP BY 1),
        nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1)
        SELECT nn.g AS c_nationkey, nn.n, cd.c AS concordant,
               cd.d AS discordant,
               CAST(ROUND(CAST(cd.c - cd.d AS DOUBLE)
                     / sqrt(CAST((nn.n * (nn.n - 1)) // 2 - tx.tiex
                                 AS DOUBLE)
                            * CAST((nn.n * (nn.n - 1)) // 2 - ty.tiey
                                   AS DOUBLE)) * 1000000.0) AS BIGINT)
                 / 1000000.0 AS tau_b
        FROM nn JOIN cd USING (g) JOIN tx USING (g) JOIN ty USING (g)
        WHERE nn.n >= 2
          AND (nn.n * (nn.n - 1)) // 2 > tx.tiex
          AND (nn.n * (nn.n - 1)) // 2 > ty.tiey
        ORDER BY c_nationkey
      """)),

    // Reverse search (percolation): stored queries = each %97 doc's
    // first-3-token conjunction; the incoming batch (doc_id%5=4) is
    // indexed ONCE and routed to every stored query whose terms it
    // fully contains — exact by construction, no verify pass
    // (Percolator scaladoc).
    QueryDef(
      "q_percolate",
      (s, dir) => {
        val docs = docTokens(s, dir)
        graft.operators.Percolator.percolate(
            docs.filter(pmod(col("doc_id"), lit(5L)) === 4),
            "doc_id", "tokens",
            docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
              .select(col("doc_id").as("query_id"),
                explode(slice(col("tokens"), 1, 3)).as("term")),
            "query_id", "term")
          .orderBy(col("query_id"), col("doc_id"))
      },
      Some("""
        WITH q AS (
          SELECT DISTINCT doc_id AS query_id, term
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                       generate_subscripts(string_split(text, ' '), 1)
                         AS pos
                FROM documents WHERE doc_id % 97 = 0) t
          WHERE pos <= 3),
        need AS (SELECT query_id, count(*) AS need FROM q GROUP BY 1),
        p AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
                       AS term
              FROM documents WHERE doc_id % 5 = 4),
        m AS (SELECT q.query_id, p.doc_id, count(*) AS got
              FROM q JOIN p USING (term) GROUP BY 1, 2)
        SELECT m.query_id, m.doc_id
        FROM m JOIN need USING (query_id)
        WHERE got = need
        ORDER BY query_id, doc_id
      """)),

    // Ranking-agreement eval: truncated RBO@10 (p=1/2) between the
    // BM25 and query-likelihood rankers per query — "do the two
    // retrieval stacks agree on the head", top-weighted. Per-match
    // weights are shared 9-dp DECIMAL constants (RankFusion
    // .rboWeights), so neither engine computes a power or division
    // at query time and the sum is exact DECIMAL addition.
    QueryDef(
      "q_rbo",
      (s, dir) => {
        import graft.operators.{Bm25, QueryLikelihood, RankFusion}
        val docs = docTokens(s, dir)
        // pinned: BOTH rankers consume the index, and their differing
        // downstream plans defeat exchange reuse (q_prf_expand note).
        // widenBy(doc_id), not widen: the r19 round-robin widen
        // spread the contrib map but its shuffle grew 3.4 → 17 MB —
        // diagnosed r20: the growth is LOST MAP-SIDE PARTIAL
        // AGGREGATION, not compression (both rankers partially
        // aggregate contribs per (query, doc) before the exchange,
        // and any doc-splitting layout leaves each group spread over
        // every map task). Hashing the pinned index by doc_id keeps
        // every doc's postings in ONE task, so the partial agg
        // collapses exactly as the single-task plan did while the
        // contrib map parallelizes (profiled 2.8 s + 1.8 s
        // single-task over the 1-partition pin before this)
        val index = graft.operators.Par.widenBy(
          Bm25.postings(docs, "doc_id", "tokens").transform(Par.pin),
          col("doc_id"))
        val qt = retrievalQueryTerms(docs)
        val bm = Bm25.scoreTopK(
          index, Bm25.totals(docs, "doc_id", "tokens"), qt, k = 10)
        val ql = QueryLikelihood.scoreTopK(index, qt, k = 10)
        RankFusion.rankBiasedOverlap(
            bm.select(col("query_id"), col("doc_id"), col("rank")),
            ql.select(col("query_id"), col("doc_id"), col("rank")),
            k = 10)
          .orderBy(col("query_id"))
      },
      Some {
        val wts = graft.operators.RankFusion.rboWeights(10)
          .map { case (m, w) =>
            s"($m, CAST($w AS DECIMAL(18,9)))"
          }.mkString(", ")
        s"""
        WITH $retrievalCtes,
        $bm25ScoredCtes,
        $qlScoredCtes,
        wts(m, w) AS (VALUES $wts),
        aa AS (SELECT query_id, doc_id, rank
               FROM bm25_ranked WHERE rank <= 10),
        bb AS (SELECT query_id, doc_id, rank
               FROM ql_ranked WHERE rank <= 10),
        mt AS (
          SELECT aa.query_id, count(*) AS n_overlap,
                 SUM(CAST(w AS DECIMAL(38,12))) AS s
          FROM aa JOIN bb USING (query_id, doc_id)
          JOIN wts ON wts.m = greatest(aa.rank, bb.rank)
          GROUP BY 1),
        qs AS (SELECT query_id FROM aa
               UNION SELECT query_id FROM bb)
        SELECT qs.query_id,
               CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
               ROUND(COALESCE(CAST(s AS DOUBLE), 0.0), 6) AS rbo
        FROM qs LEFT JOIN mt USING (query_id)
        ORDER BY query_id
      """
      }),

    // Streaming twin of q_table_fingerprint: the XOR/SUM combiners
    // ARE legal incremental stream-aggregation state (commutative,
    // associative), so complete-mode output is always the fingerprint
    // of everything ingested — continuous replica comparison instead
    // of a nightly batch (StreamingOps.fingerprintStream scaladoc).
    // Shares the batch oracle.
    QueryDef(
      "q_stream_fingerprint",
      (s, dir) =>
        graft.streaming.StreamingOps.fingerprintStream(
            s, s"$dir/documents.parquet", "source",
            Seq("doc_id", "text", "lang", "n_chars"))
          .orderBy(col("source")),
      Some("""
        WITH h AS (
          SELECT source,
                 CAST(concat('0x', substr(md5(
                     doc_id || chr(1) || text || chr(1) || lang
                       || chr(1) || n_chars), 1, 15))
                   AS BIGINT) AS h
          FROM documents)
        SELECT source, COUNT(*) AS n_rows,
               CAST(bit_xor(h) AS BIGINT) AS xor_sig,
               CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT)
                    % 2305843009213693952 AS BIGINT) AS sum_sig
        FROM h GROUP BY 1
        ORDER BY source
      """)),

    // Streaming twin of q_percolate: per-micro-batch stateless
    // routing of incoming docs to the static stored-query set —
    // percolation needs no streaming state at all (a doc matches on
    // its own content), so the append-mode result over a bounded
    // stream equals the batch answer and shares its oracle.
    QueryDef(
      "q_stream_percolate",
      (s, dir) => Par.withTempStore("graft_stream_perc") { out =>
        val docs = docTokens(s, dir)
        graft.streaming.StreamingOps.percolateStream(
            s, s"$dir/documents.parquet",
            docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
              .select(col("doc_id").as("query_id"),
                explode(slice(col("tokens"), 1, 3)).as("term")),
            "query_id", "term", out)
          .filter(pmod(col("doc_id"), lit(5L)) === 4)
          .orderBy(col("query_id"), col("doc_id"))
      },
      Some("""
        WITH q AS (
          SELECT DISTINCT doc_id AS query_id, term
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                       generate_subscripts(string_split(text, ' '), 1)
                         AS pos
                FROM documents WHERE doc_id % 97 = 0) t
          WHERE pos <= 3),
        need AS (SELECT query_id, count(*) AS need FROM q GROUP BY 1),
        p AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))
                       AS term
              FROM documents WHERE doc_id % 5 = 4),
        m AS (SELECT q.query_id, p.doc_id, count(*) AS got
              FROM q JOIN p USING (term) GROUP BY 1, 2)
        SELECT m.query_id, m.doc_id
        FROM m JOIN need USING (query_id)
        WHERE got = need
        ORDER BY query_id, doc_id
      """)),

    // Unicode NFC canonicalization via the native codegen expression
    // (NfcNormalize scaladoc) — the step that keeps "é"-precomposed
    // and "e"+combining-accent from hashing as different documents.
    // The synthetic corpus is pure ASCII (NFC normalization of it is
    // a vacuous witness), so a decomposed suffix is appended to make
    // the normalization OBSERVABLE: nfc_len = raw_len − 2 exactly
    // when the two combining marks compose.
    QueryDef(
      "q_unicode_normalize",
      (s, dir) => {
        val suffixed = concat(col("text"), lit(decomposedSuffix))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            length(suffixed).as("raw_len"),
            length(graft.functions.NfcNormalize(suffixed)).as("nfc_len"),
            graft.functions.NfcNormalize(suffixed).as("normalized"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        SELECT doc_id,
               CAST(length(text || '$decomposedSuffix') AS BIGINT)
                 AS raw_len,
               CAST(length(nfc_normalize(text || '$decomposedSuffix'))
                 AS BIGINT) AS nfc_len,
               nfc_normalize(text || '$decomposedSuffix') AS normalized
        FROM documents
        ORDER BY doc_id
      """)),

    // Theil-Sen robust slope per nation (balance cents vs order
    // count) — the outlier-immune companion to q_group_regression's
    // OLS, exact lower-median SELECTION of pairwise slopes and
    // residuals under total orders (RobustStats.theilSen scaladoc;
    // the same O(n^2)-pairs stratum guard as q_kendall).
    QueryDef(
      "q_theil_sen",
      (s, dir) => {
        val oc = Tables.orders(s, dir)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        val pts = Tables.customer(s, dir)
          .join(oc, col("o_custkey") === col("c_custkey"), "left")
          .select(col("c_nationkey"), col("c_custkey"),
            (col("c_acctbal") * 100).cast("long").as("bal_cents"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        graft.operators.RobustStats.theilSen(pts, "c_nationkey",
            "c_custkey", "bal_cents", "n_orders")
          .orderBy(col("c_nationkey"))
      },
      Some("""
        WITH oc AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1),
        pts AS (
          SELECT c_nationkey AS g, c_custkey AS id,
                 CAST(c_acctbal * 100 AS BIGINT) AS x,
                 COALESCE(n_orders, 0) AS y
          FROM customer LEFT JOIN oc ON o_custkey = c_custkey),
        slopes AS (
          SELECT a.g, a.id AS ia, b.id AS ib,
                 CASE WHEN a.x < b.x
                   THEN CAST(b.y - a.y AS DOUBLE)
                        / CAST(b.x - a.x AS DOUBLE)
                   ELSE CAST(a.y - b.y AS DOUBLE)
                        / CAST(a.x - b.x AS DOUBLE) END AS s
          FROM pts a JOIN pts b
            ON a.g = b.g AND a.id < b.id AND a.x <> b.x),
        smed AS (
          SELECT g, m AS n_pairs, s AS slope FROM (
            SELECT g, s,
                   ROW_NUMBER() OVER (PARTITION BY g
                                      ORDER BY s, ia, ib) AS rk,
                   COUNT(*) OVER (PARTITION BY g) AS m
            FROM slopes)
          WHERE rk = (m + 1) // 2),
        resid AS (
          SELECT p.g, sm.n_pairs, sm.slope, p.id,
                 CAST(p.y AS DOUBLE)
                   - sm.slope * CAST(p.x AS DOUBLE) AS r
          FROM pts p JOIN smed sm USING (g))
        SELECT g AS c_nationkey, n, n_pairs,
               CAST(ROUND(slope * 1000000.0) AS BIGINT) / 1000000.0
                 AS slope,
               CAST(ROUND(r * 1000000.0) AS BIGINT) / 1000000.0
                 AS intercept
        FROM (
          SELECT g, n_pairs, slope, r,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY r, id) AS rk,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM resid)
        WHERE rk = (n + 1) // 2
        ORDER BY c_nationkey
      """)),

    // Split-conformal interval audit per source: GroupedOls point
    // predictor (chars → BPE tokens), q-hat by exact order-statistic
    // selection on the md5-dealt calibration split, realized
    // coverage on the held-out test split (Conformal scaladoc). The
    // md5 deal decorrelates roles from the source-blocked doc_id.
    QueryDef(
      "q_conformal",
      (s, dir) => {
        val role = expr(
          "CASE pmod(cast(conv(substring(md5(cast(doc_id as string)), " +
            "1, 15), 16, 10) as bigint), 5) " +
            "WHEN 0 THEN 1 WHEN 4 THEN 2 ELSE 0 END")
        graft.operators.Conformal.splitConformal(
            Tables.documents(s, dir)
              .select(col("source"), col("doc_id"), col("n_chars"),
                TextAnalysis.bpeTokenEstimate(col("text"))
                  .cast("long").as("toks"),
                role.as("role")),
            "source", "doc_id", "n_chars", "toks", "role")
          .orderBy(col("source"))
      },
      Some(s"""
        WITH base AS (
          SELECT source, doc_id, n_chars,
                 CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.bpePattern.replace("'", "''")}'))
                   AS BIGINT) AS toks,
                 CASE CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS UBIGINT) % 5
                   WHEN 0 THEN 1 WHEN 4 THEN 2 ELSE 0 END AS role
          FROM documents),
        stats AS (
          SELECT source, count(*) AS n,
                 sum(n_chars) AS sx, sum(toks) AS sy,
                 sum(n_chars * toks) AS sxy,
                 sum(n_chars * n_chars) AS sxx
          FROM base WHERE role = 0 GROUP BY 1),
        model AS (
          SELECT source,
                 CAST(ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * 1000000.0) AS BIGINT) / 1000000.0
                   AS slope,
                 CAST(ROUND(((CAST(sy AS DOUBLE)
                        - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
                     * 1000000.0) AS BIGINT) / 1000000.0
                   AS intercept
          FROM stats
          WHERE n >= 2
            AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                <> CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
        scored AS (
          SELECT b.source, b.role, b.doc_id,
                 abs(CAST(b.toks AS DOUBLE)
                     - (m.slope * CAST(b.n_chars AS DOUBLE)
                        + m.intercept)) AS res
          FROM base b JOIN model m USING (source)
          WHERE b.role <> 0),
        qh AS (
          SELECT source, ncal AS n_cal, k AS k_rank, res AS qhat
          FROM (
            SELECT source, res,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY res, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS ncal,
                   least((900000 * (COUNT(*) OVER (PARTITION BY source)
                                    + 1) + 999999) // 1000000,
                         COUNT(*) OVER (PARTITION BY source)) AS k
            FROM scored WHERE role = 1)
          WHERE rk = k)
        SELECT s.source, q.n_cal, q.k_rank,
               CAST(ROUND(q.qhat * 1000000.0) AS BIGINT) / 1000000.0
                 AS qhat,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN s.res <= q.qhat THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_covered,
               CAST((sum(CASE WHEN s.res <= q.qhat THEN 1 ELSE 0 END)
                     * 1000000) // count(*) AS BIGINT) AS coverage_ppm
        FROM scored s JOIN qh q USING (source)
        WHERE s.role = 2
        GROUP BY 1, 2, 3, 4
        ORDER BY s.source
      """)),

    // Neyman-optimal eval-label allocation over sources: quota ∝
    // stratum size × stratum sd of doc length, snapped to the micro
    // lattice and dealt by largest remainder so quotas sum EXACTLY
    // to the budget (Sampling.neymanAllocation scaladoc) — where
    // q_eval_allocation deals proportionally, this spends the budget
    // where the variance is.
    QueryDef(
      "q_neyman_alloc",
      (s, dir) =>
        graft.operators.Sampling.neymanAllocation(
            Tables.documents(s, dir), "source", "n_chars",
            budget = 1000L)
          .orderBy(col("source")),
      Some("""
        WITH stats AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s,
                 SUM(CAST(n_chars AS HUGEINT) * n_chars) AS ss
          FROM documents GROUP BY 1),
        w AS (
          SELECT source, n,
                 CASE WHEN n >= 2 THEN
                   CAST(ROUND(CAST(n AS DOUBLE)
                     * sqrt(GREATEST(
                         (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / (CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0)), 0.0))
                     * 1e6) AS BIGINT)
                 ELSE 0 END AS weight_micro
          FROM stats),
        tot AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS t FROM w),
        based AS (
          SELECT source, n, weight_micro,
                 (weight_micro * 1000) // t AS fl,
                 weight_micro * 1000 - ((weight_micro * 1000) // t) * t
                   AS rem
          FROM w CROSS JOIN tot),
        lft AS (SELECT 1000 - SUM(fl) AS lv FROM based),
        ranked AS (
          SELECT based.*,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
          FROM based)
        SELECT source, n, weight_micro,
               CAST(fl + CASE WHEN rk <= (SELECT lv FROM lft)
                              THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM ranked
        ORDER BY source
      """)),

    // DBSCAN over the embedding table at cosine-eps 0.3 / minPts 3
    // (neighbor count excludes self), with the ε-graph generated the
    // way the operator's scaladoc prescribes FOR SCALE: candidate
    // pairs come from IVF-cell blocking (the shared sampled-codebook
    // assignment — same kernel as semantic dedup), so the pair join
    // is cell-bounded instead of corpus². Cores by degree, clusters =
    // components of the core-core subgraph, borders take the MINIMUM
    // core-neighbor label, noise keeps -1 (Dbscan scaladoc). The
    // oracle replays assignment → within-cell pair cosines → degrees
    // → recursive reach → border mins → noise fill on the shared
    // derived-nlist assignment CTEs.
    QueryDef(
      "q_dbscan",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // nlist derived from the corpus count (the kNN-family scale
        // rule — the r13 q_silhouette migration): at fixed nlist the
        // within-cell pair join is Θ(n²/nlist), quadratic at 100×;
        // deriving pins expected cell population at 128 rows so the
        // ε-graph build stays Θ(n·128)
        val nl = Similarity.derivedNlist(
          emb.select(col("vec_id")).count())
        val assigned = Similarity.assignCellsSampledCodebook(
            emb, "vec_id", "embedding", nlist = nl)
          .transform(Par.pin)
        val pairs = assigned
          .select(col("cell"), col("id").as("id_a"), col("cv").as("va"))
          .join(assigned.select(col("cell"), col("id").as("id_b"),
            col("cv").as("vb")), Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .filter(round(graft.functions.VectorFunctions
            .cosine(col("va"), col("vb")), 6) >= 0.3)
          .select(col("id_a"), col("id_b"))
        graft.operators.Dbscan.cluster(emb, "vec_id",
            pairs, "id_a", "id_b", minPts = 3)
          .orderBy(col("id"))
      },
      Some(s"""
        WITH RECURSIVE $ivfAssignDerivedCtes,
        pdots AS MATERIALIZED (
          SELECT a.nid AS id_a, b.nid AS id_b, sum(da.x * db.x) AS d
          FROM asg a JOIN asg b ON a.cell = b.cell AND a.nid < b.nid
          JOIN dims da ON da.vec_id = a.nid
          JOIN dims db ON db.vec_id = b.nid AND db.i = da.i
          GROUP BY 1, 2),
        eps AS MATERIALIZED (
          SELECT id_a AS u, id_b AS v
          FROM pdots
          JOIN norms na ON na.vec_id = id_a
          JOIN norms nb ON nb.vec_id = id_b
          WHERE ROUND(d / (na.nrm * nb.nrm), 6) >= 0.3),
        und AS MATERIALIZED (
          SELECT u, v FROM eps UNION ALL SELECT v, u FROM eps),
        deg AS MATERIALIZED (
          SELECT u AS id, count(*) AS d FROM und GROUP BY 1),
        cores AS MATERIALIZED (SELECT id FROM deg WHERE d >= 3),
        ce AS MATERIALIZED (
          SELECT u, v FROM eps
          WHERE u IN (SELECT id FROM cores)
            AND v IN (SELECT id FROM cores)),
        -- MATERIALIZED + hoisted symmetric edges (VERDICT r15 #1):
        -- DuckDB 1.0 re-inlined the inline (ce UNION ce-swapped)
        -- subquery -- and through it the whole IVF-assignment
        -- pipeline -- on EVERY recursive iteration: 437 s of the
        -- sweep's oracle replay. One evaluation each is semantics-
        -- free (exact compare held); replay is ~2 s.
        ce2 AS MATERIALIZED (
          SELECT u, v FROM ce UNION SELECT v, u FROM ce),
        reach(a, b) AS (
          SELECT u, v FROM ce2
          UNION
          SELECT r.a, x.v FROM reach r JOIN ce2 x ON x.u = r.b
        ),
        complab AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a),
        corelab AS (
          SELECT c.id, COALESCE(cl.label, c.id) AS label
          FROM cores c LEFT JOIN complab cl USING (id)),
        borderlab AS (
          SELECT und.u AS id, MIN(k.label) AS label
          FROM und JOIN corelab k ON k.id = und.v
          WHERE und.u NOT IN (SELECT id FROM cores)
          GROUP BY 1),
        clustered AS (
          SELECT id, label, TRUE AS is_core FROM corelab
          UNION ALL
          SELECT id, label, FALSE FROM borderlab)
        SELECT emb.vec_id AS id,
               COALESCE(c.label, -1) AS label,
               COALESCE(c.is_core, FALSE) AS is_core
        FROM embeddings emb LEFT JOIN clustered c ON c.id = emb.vec_id
        ORDER BY id
      """)),

    // Per-cell simplified silhouette over the IVF sampled-codebook
    // assignment: (b−a)/max(a,b) against own vs nearest-other
    // centroid on the 6-dp cosine lattice, cell means by the
    // order-free DECIMAL sum — the "should nlist change" gauge
    // (Similarity.silhouetteSampledCodebook scaladoc). nlist follows
    // the kNN-family DERIVED rule (max(16, ceil(n/128)) — the r12
    // fixed-16 was the one holdout), so the oracle replays the
    // derived-codebook CTE chain; past nlist≈256 the operator
    // switches to the two-level coarse-quantizer prune
    // (SilhouetteSpec pins it), which these SFs never reach.
    QueryDef(
      "q_silhouette",
      (s, dir) =>
        Similarity.silhouetteSampledCodebook(
            Tables.embeddings(s, dir), "vec_id", "embedding")
          .orderBy(col("cell")),
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        ranked2 AS (
          SELECT nid, cell, csim,
                 ROW_NUMBER() OVER (PARTITION BY nid
                                    ORDER BY csim DESC, cell) AS rn
          FROM asim),
        t2 AS (
          SELECT r1.nid, r1.cell, r1.csim AS c1, r2.csim AS c2
          FROM ranked2 r1 JOIN ranked2 r2
            ON r2.nid = r1.nid AND r1.rn = 1 AND r2.rn = 2),
        scored AS (
          SELECT cell,
                 ROUND(CASE WHEN greatest(1.0 - c1, 1.0 - c2) = 0
                            THEN 0.0
                            ELSE (c1 - c2) / greatest(1.0 - c1, 1.0 - c2)
                       END, 6) AS s
          FROM t2)
        SELECT cell, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_silhouette
        FROM scored GROUP BY 1
        ORDER BY cell
      """)),

    // Association rules (Agrawal-Srikant market-basket, 2-itemsets)
    // over per-doc presence of the top-200-df vocabulary: directed
    // rules a→b with support count, integer-ppm confidence, and
    // integer-micro lift, thresholded (co-count >= 10, conf >= 0.6),
    // top-50 by (conf desc, a, b). The vocab cap blocks the pair
    // space exactly like q_kcore's co-occurrence graph; every
    // statistic is a pure integer ratio.
    QueryDef(
      "q_assoc_rules",
      (s, dir) => {
        val toks = docTokens(s, dir)
          .select(col("doc_id"), explode(col("tokens")).as("term"))
          .distinct()
        val vocab = toks.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("term"))
          .limit(200)
          .select(col("term"))
        val vt = toks.join(broadcast(vocab), "term")
          .transform(Par.pin)
        val nDocs = Tables.documents(s, dir)
          .agg(countDistinct(col("doc_id")).as("__n"))
        val ca = vt.groupBy(col("term")).agg(count(lit(1)).as("__c"))
        val ab = vt.select(col("doc_id"), col("term").as("a"))
          .join(vt.select(col("doc_id"), col("term").as("b")), "doc_id")
          .filter(col("a") =!= col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("co_count"))
        ab
          .join(ca.select(col("term").as("a"), col("__c").as("__cna")), "a")
          .join(ca.select(col("term").as("b"), col("__c").as("__cnb")), "b")
          .crossJoin(broadcast(nDocs))
          .filter(col("co_count") >= 10)
          .select(col("a"), col("b"), col("co_count"),
            expr("(co_count * CAST(1000000 AS BIGINT)) div __cna")
              .as("conf_ppm"),
            expr("(co_count * __n * CAST(1000000 AS BIGINT)) " +
              "div (__cna * __cnb)").as("lift_micro"))
          .filter(col("conf_ppm") >= 600000L)
          .orderBy(col("conf_ppm").desc, col("a"), col("b"))
          .limit(50)
      },
      Some("""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        vocab AS (
          SELECT term FROM (
            SELECT term, count(*) AS df FROM toks GROUP BY 1
            ORDER BY df DESC, term LIMIT 200)),
        vt AS (SELECT t.doc_id, t.term FROM toks t JOIN vocab v
               USING (term)),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        ca AS (SELECT term, CAST(count(*) AS BIGINT) AS c
               FROM vt GROUP BY 1),
        ab AS (
          SELECT a.term AS a, b.term AS b,
                 CAST(count(*) AS BIGINT) AS co_count
          FROM vt a JOIN vt b
            ON a.doc_id = b.doc_id AND a.term <> b.term
          GROUP BY 1, 2)
        SELECT ab.a, ab.b, ab.co_count,
               CAST((ab.co_count * 1000000) // x.c AS BIGINT) AS conf_ppm,
               CAST((ab.co_count * nd.n * 1000000) // (x.c * y.c)
                 AS BIGINT) AS lift_micro
        FROM ab
        JOIN ca x ON x.term = ab.a
        JOIN ca y ON y.term = ab.b
        CROSS JOIN nd
        WHERE ab.co_count >= 10
          AND (ab.co_count * 1000000) // x.c >= 600000
        ORDER BY conf_ppm DESC, a, b
        LIMIT 50
      """)),

    // Hill tail-index numerator per source (Hill 1975): mean excess
    // log10 of the top-10 doc lengths over the 11th — the
    // heavy-tail gauge that says whether a source's length
    // distribution has Pareto tails (huge docs keep coming) or dies
    // exponentially; complements q_zipf's rank-slope. Pure integer:
    // each log10 snaps alone to the micro lattice, the mean is a
    // floor division — the tail index itself is 1/(ln10 · Δ), left
    // to the consumer so no engine-variant ln(10) enters the hash.
    QueryDef(
      "q_hill_tail",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        val ranked = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"),
            round(log10(col("n_chars").cast("double")) * lit(1e6))
              .cast("long").as("lg"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 11)
        val kth = ranked.filter(col("rk") === 11)
          .select(col("source"), col("lg").as("lg11"))
        ranked.filter(col("rk") <= 10)
          .join(kth, "source")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("k"),
            expr("sum(lg - lg11) div count(1)").as("hill_excess_micro"))
          .orderBy(col("source"))
      },
      Some("""
        WITH ranked AS (
          SELECT source, doc_id,
                 CAST(ROUND(log10(CAST(n_chars AS DOUBLE)) * 1e6)
                   AS BIGINT) AS lg,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id) AS rk
          FROM documents),
        kth AS (SELECT source, lg AS lg11 FROM ranked WHERE rk = 11)
        SELECT r.source, CAST(count(*) AS BIGINT) AS k,
               CAST(SUM(r.lg - k2.lg11) // count(*) AS BIGINT)
                 AS hill_excess_micro
        FROM ranked r JOIN kth k2 USING (source)
        WHERE r.rk <= 10
        GROUP BY 1
        ORDER BY source
      """)),

    // Embedding-distribution drift: squared mean discrepancy
    // (linear-kernel MMD²) between the odd- and even-id halves of
    // the embedding table — the vector-space drift monitor beside
    // q_corpus_drift's token-level KL. Coordinates snap once to the
    // 1e6 integer lattice so the per-dim mean difference is the
    // EXACT rational (Sa·nb − Sb·na)/(na·nb); per-dim squared terms
    // snap to 9 dp and sum as DECIMAL — order-free end to end.
    QueryDef(
      "q_embedding_drift",
      (s, dir) => {
        val dims = Tables.embeddings(s, dir)
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("i", "x")))
          .select(pmod(col("vec_id"), lit(2L)).as("half"), col("i"),
            round(col("x").cast("double") * lit(1e6)).cast("long")
              .as("xl"))
        val sums = dims.groupBy(col("i"))
          .agg(
            sum(when(col("half") === 0, col("xl")).otherwise(0L)).as("sa"),
            sum(when(col("half") === 0, 1L).otherwise(0L)).as("na"),
            sum(when(col("half") === 1, col("xl")).otherwise(0L)).as("sb"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("nb"))
        val diff = (col("sa").cast("double") * col("nb").cast("double") -
          col("sb").cast("double") * col("na").cast("double")) /
          (col("na").cast("double") * col("nb").cast("double")) / lit(1e6)
        sums
          .select(col("na"), col("nb"),
            round(diff * diff, 9).cast(org.apache.spark.sql.types
              .DecimalType(38, 12)).as("__t"))
          .groupBy(col("na"), col("nb"))
          .agg(round(sum(col("__t")).cast("double"), 6).as("mmd2"))
      },
      Some("""
        WITH dims AS (
          SELECT vec_id % 2 AS half, generate_subscripts(embedding, 1)
                   AS i,
                 CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6)
                   AS BIGINT) AS xl
          FROM embeddings),
        sums AS (
          SELECT i,
                 CAST(SUM(CASE WHEN half = 0 THEN xl ELSE 0 END)
                   AS BIGINT) AS sa,
                 CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS na,
                 CAST(SUM(CASE WHEN half = 1 THEN xl ELSE 0 END)
                   AS BIGINT) AS sb,
                 CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb
          FROM dims GROUP BY 1),
        terms AS (
          SELECT na, nb,
                 CAST(ROUND(
                   ((CAST(sa AS DOUBLE) * CAST(nb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(na AS DOUBLE))
                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e6)
                   * ((CAST(sa AS DOUBLE) * CAST(nb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(na AS DOUBLE))
                      / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 1e6),
                   9) AS DECIMAL(38,12)) AS t
          FROM sums)
        SELECT na, nb,
               ROUND(CAST(SUM(t) AS DOUBLE), 6) AS mmd2
        FROM terms GROUP BY 1, 2
      """)),

    // A/B pre-flight power analysis per event type: the sample size
    // each arm needs to detect the OBSERVED odd/even-cohort
    // conversion gap at alpha=5%/power=80% — "how long must this
    // experiment run". The z constants are shared 4-dp decimals
    // (1.96, 0.8416) so neither engine inverts a normal CDF; rates
    // are exact integer rationals and the closed form is one written
    // double sequence, ceiling at the edge (both engines ceil the
    // same bits). Cohorts with a zero gap are excluded (infinite n).
    QueryDef(
      "q_power_analysis",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("event_type"),
            pmod(col("user_id"), lit(2L)).as("arm"),
            when(col("value") > 50.0, 1L).otherwise(0L).as("conv"))
        val stats = e.groupBy(col("event_type"))
          .agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
            sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("ca"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
            sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("cb"))
        val pa = col("ca").cast("double") / col("na").cast("double")
        val pb = col("cb").cast("double") / col("nb").cast("double")
        val pbar = (col("ca") + col("cb")).cast("double") /
          (col("na") + col("nb")).cast("double")
        val delta = pa - pb
        val nReq = ceil(
          ((lit(1.96) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
            lit(0.8416) * sqrt(pa * (lit(1.0) - pa) +
              pb * (lit(1.0) - pb))) / delta) *
            ((lit(1.96) * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
              lit(0.8416) * sqrt(pa * (lit(1.0) - pa) +
                pb * (lit(1.0) - pb))) / delta)).cast("long")
        stats
          .filter(col("na") >= 1 && col("nb") >= 1)
          .filter(pa =!= pb)
          .select(col("event_type"), col("na"), col("ca"), col("nb"),
            col("cb"), nReq.as("n_per_arm"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH e AS (
          SELECT event_type, user_id % 2 AS arm,
                 CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS conv
          FROM events),
        stats AS (
          SELECT event_type,
                 CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS na,
                 CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb,
                 CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)
                   AS BIGINT) AS cb
          FROM e GROUP BY 1),
        calc AS (
          SELECT event_type, na, ca, nb, cb,
                 CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
                 CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb,
                 CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)
                   AS pbar
          FROM stats
          WHERE na >= 1 AND nb >= 1)
        SELECT event_type, na, ca, nb, cb,
               CAST(ceil(
                 ((1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
                   + 0.8416 * sqrt(pa * (1.0 - pa) + pb * (1.0 - pb)))
                  / (pa - pb))
                 * ((1.96 * sqrt(2.0 * pbar * (1.0 - pbar))
                     + 0.8416 * sqrt(pa * (1.0 - pa) + pb * (1.0 - pb)))
                    / (pa - pb))) AS BIGINT) AS n_per_arm
        FROM calc
        WHERE pa <> pb
        ORDER BY event_type
      """)),

    // Threshold-sweep operating table for near-dup dedup: pair counts
    // per 0.05-wide exact-Jaccard band (>= 0.30) plus the cumulative
    // pairs-at-or-above count — the one-pass table an operator reads
    // to CHOOSE minJaccard instead of re-running dedup per candidate
    // threshold. Bands and cumulations are pure integers; the
    // cumulative window runs over the ~14-row band table.
    QueryDef(
      "q_dedup_threshold_sweep",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        val pairs = Dedup.jaccardPairs(sh, 0.30)
          .select((round(col("jaccard") * lit(1e6)).cast("long"))
            .as("jppm"))
        val bands = pairs
          .select(expr("jppm div 50000").as("band"))
          .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        bands
          .withColumn("n_at_or_above",
            sum(col("n_pairs")).over(Window.orderBy(col("band").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select((col("band") * 50000).as("threshold_ppm"),
            col("n_pairs"), col("n_at_or_above"))
          .orderBy(col("threshold_ppm"))
      },
      Some(s"""
        WITH ${shingleCtes(3, "documents")},
        sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
          FROM grams a JOIN grams b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        j AS (
          SELECT CAST(ROUND(CAST(i AS DOUBLE)
                   / CAST(sa.n + sb.n - i AS DOUBLE) * 1e6) AS BIGINT)
                   AS jppm
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                >= 0.30),
        bands AS (
          SELECT jppm // 50000 AS band, CAST(count(*) AS BIGINT)
                   AS n_pairs
          FROM j GROUP BY 1)
        SELECT CAST(band * 50000 AS BIGINT) AS threshold_ppm, n_pairs,
               CAST(SUM(n_pairs) OVER (ORDER BY band DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_at_or_above
        FROM bands
        ORDER BY threshold_ppm
      """)),

    // LSH banding operating point: candidate pairs from 4 bands × 4
    // rows of md5-lattice minhash signatures, scored as a DETECTOR of
    // exact Jaccard >= 0.7 — one row of precision/recall/candidate
    // counts, the measured answer to "is (b, r) = (4, 4) right for my
    // threshold" that the 1-(1-s^r)^b S-curve only estimates. Band
    // agreement is plain equality on the 4-signature tuple (no
    // re-hashing to replay); candidates are generated per band and
    // deduped, never doc×doc; both sides of the confusion come from
    // frames this engine already oracles (q_minhash_calibration's
    // signatures, q_dedup_jaccard's exact pairs).
    QueryDef(
      "q_lsh_operating_point",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
          .transform(Par.pin)
        // md5-lattice signatures, 16 hashes (the calibration kernel):
        // the SAME Dedup.md5LatticeSignatures single definition the
        // calibration query folds through — bit-identical band keys,
        // one array row per doc instead of 16 narrow rows
        val sigs = Dedup.md5LatticeSignatures(sh, 16)
        val bands = sigs
          .select(col("id"), explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              concat_ws(":", (0 until 4).map(r =>
                col("sig")(b * 4 + r).cast("string")): _*).as("key")))
            : _*)).as("bk"))
          .select(col("id"), col("bk.band").as("band"),
            col("bk.key").as("key"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") &&
              col("x.key") === col("y.key") &&
              col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .distinct()
          .transform(Par.pin)
        val truth = Dedup.jaccardPairs(sh, 0.7)
          .select(col("id_a"), col("id_b"))
          .transform(Par.pin)
        val tp = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
        val counts = cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        counts.select(col("n_candidates"), col("n_truth"), col("n_tp"),
          expr("(n_tp * CAST(1000000 AS BIGINT)) div n_candidates")
            .as("precision_ppm"),
          expr("(n_tp * CAST(1000000 AS BIGINT)) div n_truth")
            .as("recall_ppm"))
      },
      Some(s"""
        WITH ${shingleCtes(3, "documents")},
        seeds AS (SELECT unnest(range(0, 16)) AS seed),
        hs AS (
          SELECT g.doc_id AS id, s.seed,
                 min(CAST(concat('0x', substr(md5(
                     s.seed || ':' || g.shingle), 1, 15)) AS BIGINT)) AS h
          FROM grams g CROSS JOIN seeds s
          GROUP BY 1, 2),
        bandkeys AS (
          SELECT id, seed // 4 AS band,
                 string_agg(CAST(h AS VARCHAR), ':' ORDER BY seed)
                   AS key
          FROM hs GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b
          FROM bandkeys x JOIN bandkeys y
            ON x.band = y.band AND x.key = y.key AND x.id < y.id),
        sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
          FROM grams a JOIN grams b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT id_a, id_b
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                >= 0.7),
        tp AS (SELECT * FROM cand SEMI JOIN truth
               USING (id_a, id_b)),
        c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
        c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        c3 AS (SELECT CAST(count(*) AS BIGINT) AS n_tp FROM tp)
        SELECT n_candidates, n_truth, n_tp,
               CAST((n_tp * 1000000) // n_candidates AS BIGINT)
                 AS precision_ppm,
               CAST((n_tp * 1000000) // n_truth AS BIGINT) AS recall_ppm
        FROM c1 CROSS JOIN c2 CROSS JOIN c3
      """)),

    // Walk-forward forecast backtest per event type: naive
    // (last-hour) vs seasonal-naive (same-hour-yesterday) MAE over
    // the last quarter of each type's OBSERVED hours — the honest
    // eval that predicts each test hour from ACTUAL history only
    // (pure lag windows, no recursion, exact integer errors on the
    // milli lattice).
    QueryDef(
      "q_backtest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables.events(s, dir)
          .groupBy(col("event_type"),
            window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"),
            unix_timestamp(col("window.start")).as("h"), col("n"))
        val wOrd = Window.partitionBy(col("event_type")).orderBy(col("h"))
        val wAll = Window.partitionBy(col("event_type"))
        val lagged = hourly
          .withColumn("i", row_number().over(wOrd))
          .withColumn("nh", count(lit(1)).over(wAll))
          .withColumn("p_naive", lag(col("n"), 1).over(wOrd))
          .withColumn("p_seasonal", lag(col("n"), 24).over(wOrd))
          .filter(col("i") > expr("(3 * nh) div 4") &&
            col("p_seasonal").isNotNull)
        lagged.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_hours"),
            expr("(sum(abs(n - p_naive)) * CAST(1000 AS BIGINT)) " +
              "div count(1)").as("mae_naive_milli"),
            expr("(sum(abs(n - p_seasonal)) * CAST(1000 AS BIGINT)) " +
              "div count(1)").as("mae_seasonal_milli"))
          .orderBy(col("event_type"))
      },
      Some("""
        WITH hourly AS (
          SELECT event_type,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        lagged AS (
          SELECT event_type, n,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY h) AS i,
                 COUNT(*) OVER (PARTITION BY event_type) AS nh,
                 lag(n, 1) OVER (PARTITION BY event_type ORDER BY h)
                   AS p_naive,
                 lag(n, 24) OVER (PARTITION BY event_type ORDER BY h)
                   AS p_seasonal
          FROM hourly)
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               CAST((SUM(abs(n - p_naive)) * 1000) // count(*)
                 AS BIGINT) AS mae_naive_milli,
               CAST((SUM(abs(n - p_seasonal)) * 1000) // count(*)
                 AS BIGINT) AS mae_seasonal_milli
        FROM lagged
        WHERE i > (3 * nh) // 4 AND p_seasonal IS NOT NULL
        GROUP BY 1
        ORDER BY event_type
      """)),

    // Link prediction over the cell-blocked 3-NN similarity graph:
    // for every
    // 2-hop non-edge pair, common-neighbor count, neighbor-set
    // Jaccard (ppm), and Adamic-Adar (Σ 1/log10 deg(z) over shared
    // neighbors z, 9-dp-snapped per z then DECIMAL-summed) — the
    // "which similar-doc edges are MISSING" candidates. Wedge
    // generation is two node-keyed joins; existing edges drop by
    // anti-join; top-50 by (aa desc, ids). Every common neighbor in
    // an undirected kNN-3 graph has degree ≥ 2, so 1/log10(deg) is
    // finite by construction.
    QueryDef(
      "q_link_prediction",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val knn = Similarity.cellBlockedTopK(
          emb, "vec_id", "embedding", 3)
        val e = knn
          .select(least(col("query_id"), col("neighbor_id")).as("u"),
            greatest(col("query_id"), col("neighbor_id")).as("v"))
          .distinct().transform(Par.pin)
        val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val deg = und.groupBy(col("u").as("z"))
          .agg(count(lit(1)).as("dz"))
        val wedges = und.select(col("u").as("a"), col("v").as("z"))
          .join(und.select(col("u").as("z"), col("v").as("b")), "z")
          .filter(col("a") < col("b"))
          .join(e.select(col("u").as("a"), col("v").as("b")),
            Seq("a", "b"), "left_anti")
        val scored = wedges
          .join(deg, "z")
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("common_neighbors"),
            sum(round(lit(1.0) / log10(col("dz").cast("double")), 9)
              .cast(org.apache.spark.sql.types.DecimalType(38, 12)))
              .as("__aa"))
        scored
          .join(deg.select(col("z").as("a"), col("dz").as("da")), "a")
          .join(deg.select(col("z").as("b"), col("dz").as("db")), "b")
          .select(col("a"), col("b"), col("common_neighbors"),
            expr("(common_neighbors * CAST(1000000 AS BIGINT)) " +
              "div (da + db - common_neighbors)").as("jaccard_ppm"),
            round(col("__aa").cast("double"), 6).as("adamic_adar"))
          .orderBy(col("adamic_adar").desc, col("a"), col("b"))
          .limit(50)
      },
      Some(s"""
        WITH $cellKnnEdgeCtes,
        und AS (SELECT id_a AS u, id_b AS v FROM e
                UNION ALL SELECT id_b, id_a FROM e),
        deg AS (SELECT u AS z, CAST(count(*) AS BIGINT) AS dz
                FROM und GROUP BY 1),
        wedges AS (
          SELECT x.u AS a, x.v AS z, y.v AS b
          FROM und x JOIN und y ON y.u = x.v
          WHERE x.u < y.v
            AND NOT EXISTS (SELECT 1 FROM e
                            WHERE e.id_a = x.u AND e.id_b = y.v)),
        lpscored AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS common_neighbors,
                 SUM(CAST(ROUND(1.0 / log10(CAST(dz AS DOUBLE)), 9)
                   AS DECIMAL(38,12))) AS aa
          FROM wedges JOIN deg USING (z)
          GROUP BY 1, 2)
        SELECT s.a, s.b, s.common_neighbors,
               CAST((s.common_neighbors * 1000000)
                    // (da.dz + db.dz - s.common_neighbors) AS BIGINT)
                 AS jaccard_ppm,
               ROUND(CAST(s.aa AS DOUBLE), 6) AS adamic_adar
        FROM lpscored s
        JOIN deg da ON da.z = s.a
        JOIN deg db ON db.z = s.b
        ORDER BY adamic_adar DESC, a, b
        LIMIT 50
      """)),

    // Entity resolution end-to-end: blocked edit-distance pairs over
    // part names (the q_fuzzy_join kernel) closed into entity
    // clusters by the engine's own min-label components — the
    // pairs→entities step every record-linkage pipeline needs after
    // matching. Names map to stable numeric node ids (min partkey
    // per name) so the component kernel and the recursive-reach
    // oracle agree on labels; output = one row per multi-name
    // entity with its size and canonical (minimum) name.
    QueryDef(
      "q_entity_clusters",
      (s, dir) => {
        import graft.operators.{Dedup, FuzzyJoin}
        val parts = Tables(s, dir, "part")
        val nameIds = parts.groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("nid"))
          .transform(Par.pin)
        val pairs = FuzzyJoin.similarPairs(
            parts.select(col("p_name")), "p_name", maxDist = 2)
          .join(nameIds.select(col("p_name").as("name_a"),
            col("nid").as("id_a")), "name_a")
          .join(nameIds.select(col("p_name").as("name_b"),
            col("nid").as("id_b")), "name_b")
          .select(col("id_a"), col("id_b"))
        val comp = Dedup.connectedComponents(pairs)
        comp
          .join(nameIds.select(col("nid").as("id"), col("p_name")), "id")
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_names"),
            min(col("p_name")).as("canonical_name"))
          .filter(col("n_names") >= 2)
          .orderBy(col("label"))
      },
      Some("""
        WITH RECURSIVE nm AS (
          SELECT p_name, min(p_partkey) AS nid FROM part GROUP BY 1),
        pr AS (
          SELECT a.nid AS id_a, b.nid AS id_b
          FROM nm a JOIN nm b ON a.p_name < b.p_name
          WHERE levenshtein(a.p_name, b.p_name) <= 2),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pr
          UNION SELECT id_b, id_a FROM pr),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
        lab AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a)
        SELECT l.label, CAST(count(*) AS BIGINT) AS n_names,
               min(nm.p_name) AS canonical_name
        FROM lab l JOIN nm ON nm.nid = l.id
        GROUP BY 1
        HAVING count(*) >= 2
        ORDER BY label
      """)),

    // Filtered vector search: top-5 cosine neighbors RESTRICTED to
    // the query's own label — the metadata-filtered ANN every
    // retrieval stack needs ("similar docs from the same collection
    // only"). The filter applies BEFORE scoring (label equality
    // rides the candidate join), so selective filters shrink the
    // work instead of starving a post-filtered top-k; the label
    // lives on the shuffle key alongside the dimension index.
    QueryDef(
      "q_ann_filtered",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir)
        val dims = emb.select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("vec_id"), col("label"), col("i"),
            col("x").cast("double").as("x"))
        val norms = dims.groupBy(col("vec_id"))
          .agg(sqrt(sum(col("x") * col("x"))).as("nrm"))
        val qd = dims.filter(pmod(col("vec_id"), lit(97L)) === 0)
        val dots = qd.as("q").join(dims.as("c"),
            col("q.i") === col("c.i") &&
              col("q.label") === col("c.label") &&
              col("q.vec_id") =!= col("c.vec_id"))
          .groupBy(col("q.vec_id").as("query_id"),
            col("c.vec_id").as("neighbor_id"))
          .agg(sum(col("q.x") * col("c.x")).as("d"))
        val scored = dots
          .join(norms.select(col("vec_id").as("query_id"),
            col("nrm").as("nq")), "query_id")
          .join(norms.select(col("vec_id").as("neighbor_id"),
            col("nrm").as("nc")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            round(col("d") / (col("nq") * col("nc")), 6).as("cosine"))
        scored
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("cosine").desc, col("neighbor_id"))))
          .filter(col("rank") <= 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH dims AS (
          SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm
                  FROM dims GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c
            ON q.i = c.i AND q.label = c.label
           AND q.vec_id <> c.vec_id
          WHERE q.vec_id % 97 = 0
          GROUP BY 1, 2),
        scored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
          FROM dots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nc ON nc.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // Modality-mix budget accounting: per deterministic modality
    // (doc_id mod 3 → text/image/audio) the byte and estimated
    // patch-token totals plus integer-ppm shares — q_token_budget's
    // multimodal sibling, computed on the same binary payload
    // column the multimodal plumbing carries (patch tokens =
    // ceil(bytes/256), the byte-budget stand-in for a real patch
    // tokenizer).
    QueryDef(
      "q_modality_budget",
      (s, dir) => {
        val withMod = graft.multimodal.Multimodal.withPayload(
            Tables.documents(s, dir), "doc_id", "text")
          .select(col("id"),
            element_at(array(lit("text"), lit("image"), lit("audio")),
              (pmod(col("id"), lit(3L)) + 1).cast("int")).as("modality"),
            octet_length(col("payload")).cast("long").as("bytes"))
          .withColumn("patch_tokens", expr("(bytes + 255) div 256"))
        val grouped = withMod.groupBy(col("modality"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("bytes")).as("total_bytes"),
            sum(col("patch_tokens")).as("total_patch_tokens"))
        grouped
          .crossJoin(broadcast(
            grouped.agg(sum(col("total_patch_tokens")).as("__t"))))
          .select(col("modality"), col("n_items"), col("total_bytes"),
            col("total_patch_tokens"),
            expr("(total_patch_tokens * CAST(1000000 AS BIGINT)) div __t")
              .as("share_ppm"))
          .orderBy(col("modality"))
      },
      Some("""
        WITH m AS (
          SELECT doc_id,
                 CASE doc_id % 3 WHEN 0 THEN 'text' WHEN 1 THEN 'image'
                      ELSE 'audio' END AS modality,
                 CAST(strlen(text) AS BIGINT) AS bytes,
                 (CAST(strlen(text) AS BIGINT) + 255) // 256
                   AS patch_tokens
          FROM documents),
        grouped AS (
          SELECT modality, CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(bytes) AS BIGINT) AS total_bytes,
                 CAST(sum(patch_tokens) AS BIGINT) AS total_patch_tokens
          FROM m GROUP BY 1)
        SELECT modality, n_items, total_bytes, total_patch_tokens,
               CAST((total_patch_tokens * 1000000)
                    // (SELECT SUM(total_patch_tokens) FROM grouped)
                 AS BIGINT) AS share_ppm
        FROM grouped
        ORDER BY modality
      """)),

    // Slice-based evaluation: the NB classifier's held-out accuracy
    // DISAGGREGATED by source — the responsible-eval table that
    // catches a model that is 90% overall and 40% on one feed, which
    // the global q_nb_confusion can hide. Integer counts + one ppm
    // division per slice.
    QueryDef(
      "q_sliced_accuracy",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        graft.operators.NaiveBayes.classify(model, test, "doc_id", "text")
          .join(test.select(col("doc_id"), col("lang"), col("source")),
            "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
              .as("n_correct"))
          .withColumn("acc_ppm",
            expr("(n_correct * CAST(1000000 AS BIGINT)) div n"))
          .orderBy(col("source"))
      },
      Some(s"WITH $nbTrainCtes, ${nbClassifyCtesOver("doc_id % 5 = 0")}" +
        """
        SELECT d.source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN b.label = te.lang THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct,
               CAST((sum(CASE WHEN b.label = te.lang THEN 1 ELSE 0 END)
                     * 1000000) // count(*) AS BIGINT) AS acc_ppm
        FROM best b
        JOIN te USING (doc_id)
        JOIN documents d ON d.doc_id = te.doc_id
        WHERE b.rn = 1
        GROUP BY 1
        ORDER BY d.source
      """)),

    // McNemar's paired test: is the NB classifier actually BETTER
    // than the lexicon lang-id heuristic on the same held-out docs,
    // or do they just disagree? Discordant counts b (lexicon right,
    // NB wrong) and c (NB right, lexicon wrong), the continuity-
    // corrected statistic as an exact integer rational, verdict by
    // the chi-square(1) 5% cross-multiplication (the chiSquareUniform
    // policy — no float anywhere).
    QueryDef(
      "q_mcnemar",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        val paired = graft.operators.NaiveBayes
          .classify(model, test, "doc_id", "text")
          .join(test.select(col("doc_id"), col("lang"),
            TextAnalysis.langId(col("text")).as("lex")), "doc_id")
          .select(
            when(col("pred") === col("lang"), 1L).otherwise(0L).as("nbok"),
            when(col("lex") === col("lang"), 1L).otherwise(0L).as("lxok"))
        paired.agg(count(lit(1)).as("n"),
            sum(when(col("lxok") === 1 && col("nbok") === 0, 1L)
              .otherwise(0L)).as("b"),
            sum(when(col("nbok") === 1 && col("lxok") === 0, 1L)
              .otherwise(0L)).as("c"))
          .filter(col("b") + col("c") > 0)
          .select(col("n"), col("b"), col("c"),
            expr("((abs(b - c) - 1) * (abs(b - c) - 1) " +
              "* CAST(10000 AS BIGINT)) div (b + c)").as("stat_e4"),
            when(expr("(abs(b - c) - 1) * (abs(b - c) - 1) * 10000 " +
              "> 38415 * (b + c)"), "different").otherwise("same")
              .as("verdict"))
      },
      Some {
        val unions = TextAnalysis.langLexicons.map { case (l, lex) =>
          s"""SELECT doc_id, lang, '$l' AS guess,
              len(list_intersect(list_distinct(string_split(text, ' ')),
                  [${sqlList(lex)}])) AS s
              FROM documents WHERE doc_id % 5 = 0"""
        }.mkString(" UNION ALL ")
        s"WITH $nbTrainCtes, ${nbClassifyCtesOver("doc_id % 5 = 0")}," +
          s"""
        lexscores AS ($unions),
        lexbest AS (
          SELECT doc_id, lang,
                 CASE WHEN s > 0 THEN guess ELSE 'und' END AS lex
          FROM (SELECT doc_id, lang, guess, s,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY s DESC, guess ASC)
                         AS rn
                FROM lexscores)
          WHERE rn = 1),
        paired AS (
          SELECT CASE WHEN b.label = te.lang THEN 1 ELSE 0 END AS nbok,
                 CASE WHEN lx.lex = te.lang THEN 1 ELSE 0 END AS lxok
          FROM best b
          JOIN te USING (doc_id)
          JOIN lexbest lx ON lx.doc_id = te.doc_id
          WHERE b.rn = 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN lxok = 1 AND nbok = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS b,
                 CAST(sum(CASE WHEN nbok = 1 AND lxok = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS c
          FROM paired)
        SELECT n, b, c,
               CAST(((abs(b - c) - 1) * (abs(b - c) - 1) * 10000)
                    // (b + c) AS BIGINT) AS stat_e4,
               CASE WHEN (abs(b - c) - 1) * (abs(b - c) - 1) * 10000
                         > 38415 * (b + c)
                    THEN 'different' ELSE 'same' END AS verdict
        FROM agg
        WHERE b + c > 0
      """
      }),

    // Farthest-point coreset: 6 greedy k-center picks over the
    // embedding table — the classic 2-approximation coverage sample
    // ("the 6 most mutually-distant exemplars") behind coreset
    // selection and diverse eval-set seeding. The greedy loop is
    // inherently sequential, so it runs k−1 bounded driver steps
    // (each one aggregation + a 1-row argmax collect — the BPE-train
    // loop discipline); distances are 1 − cosine on the 6-dp
    // lattice, argmax ties to the smaller id. The oracle unrolls the
    // same five steps as generated CTEs over the shared all-pairs
    // cosine replay (the mmrPickCtes move).
    QueryDef(
      "q_coreset",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding")).transform(Par.pin)
        val k = 6
        val first = emb.agg(min(col("vec_id"))).collect().head.getLong(0)
        var picks = Seq((first, 1, Option.empty[Double]))
        while (picks.size < k) {
          val pickedDf = emb
            .filter(col("vec_id").isin(picks.map(_._1): _*))
            .select(col("vec_id").as("pid"), col("embedding").as("pv"))
          val next = emb
            .filter(!col("vec_id").isin(picks.map(_._1): _*))
            .crossJoin(broadcast(pickedDf))
            .groupBy(col("vec_id"))
            .agg(min(round(lit(1.0) - round(graft.functions
              .VectorFunctions.cosine(col("embedding"), col("pv")), 6),
              6)).as("md"))
            .orderBy(col("md").desc, col("vec_id"))
            .limit(1).collect().head
          picks = picks :+ ((next.getLong(0), picks.size + 1,
            Some(next.getDouble(1))))
        }
        import s.implicits._
        picks.map(p => (p._2, p._1, p._3))
          .toDF("pick", "vec_id", "min_dist")
          .orderBy(col("pick"))
      },
      Some {
        val steps = (2 to 6).map { i =>
          val prev = s"sel${i - 1}"
          s"""
        c$i AS (
          SELECT s.qa AS id, MIN(ROUND(1.0 - s.cos, 6)) AS md
          FROM scored s
          WHERE s.qb IN (SELECT id FROM $prev)
            AND s.qa NOT IN (SELECT id FROM $prev)
          GROUP BY 1),
        p$i AS (SELECT id, md FROM c$i ORDER BY md DESC, id LIMIT 1),
        sel$i AS (SELECT id FROM $prev UNION ALL SELECT id FROM p$i)"""
        }.mkString(",")
        s"""
        WITH $knnEdgeCtes,
        sel1 AS (SELECT min(vec_id) AS id FROM embeddings),
        $steps
        SELECT pick, id AS vec_id, md AS min_dist FROM (
          SELECT 1 AS pick, id, CAST(NULL AS DOUBLE) AS md FROM sel1
          UNION ALL SELECT 2, id, md FROM p2
          UNION ALL SELECT 3, id, md FROM p3
          UNION ALL SELECT 4, id, md FROM p4
          UNION ALL SELECT 5, id, md FROM p5
          UNION ALL SELECT 6, id, md FROM p6)
        ORDER BY pick
      """
      }),

    // Connected-components AT-SCALE witness on the worst-case shape:
    // a single PATH whose diameter is the whole graph — the input
    // that turns plain min-label propagation into O(diameter) rounds
    // of full edge shuffles (the classic 100-TB CC failure) and the
    // reason connectedComponents switches to pointer halving after
    // round 6. The chain is 16× the documents table (doc_id·16+c,
    // c∈[0,16), consecutive ids linked — contiguous-id arithmetic,
    // no global sort/window anywhere), so sf0.1 runs an 80,000-hop
    // chain that closes in 21 rounds instead of 80,000. The MEASURED
    // round count is an oracle-checked COLUMN: the loop's reach
    // dynamics on a path have the closed form reach(t) = t for t ≤ 6,
    // reach(t) = 2·(reach(t−1)+1) after, exit one round after reach
    // covers the diameter — replayed in DuckDB as a recursive CTE on
    // nothing but count(*). Any change to the propagation cadence
    // flips this row red. Labels are exact: one component, minimum 0.
    QueryDef(
      "q_cc_diameter_scale",
      (s, dir) => {
        val nDocs = Tables.documents(s, dir).count() // bounded scalar
        val total = nDocs * 16L
        val nodes = Tables.documents(s, dir)
          .select(col("doc_id"), explode(sequence(lit(0), lit(15)))
            .as("c"))
          .select((col("doc_id") * 16L + col("c")).as("k"))
        val edges = nodes.filter(col("k") < total - 1L)
          .select(col("k").as("id_a"), (col("k") + 1L).as("id_b"))
        val (labels, rounds) =
          Dedup.connectedComponentsWithRounds(edges)
        labels
          .agg(count(lit(1)).as("n_nodes"),
            min(col("label")).as("label_min"),
            countDistinct(col("label")).as("n_labels"))
          .select(col("n_nodes"), lit(total - 1L).as("n_edges"),
            col("label_min"), col("n_labels"),
            lit(rounds.toLong).as("rounds"))
      },
      Some("""
        WITH RECURSIVE n AS (
          SELECT 16 * count(*) AS n FROM documents),
        rec AS (
          SELECT 1 AS t, CAST(1 AS BIGINT) AS reach
          UNION ALL
          SELECT t + 1,
                 CASE WHEN t + 1 <= 6 THEN reach + 1
                      ELSE 2 * (reach + 1) END
          FROM rec, n WHERE reach < n.n - 1)
        SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_nodes,
               (SELECT CAST(n - 1 AS BIGINT) FROM n) AS n_edges,
               CAST(0 AS BIGINT) AS label_min,
               CAST(1 AS BIGINT) AS n_labels,
               (SELECT CAST(max(t) + 1 AS BIGINT) FROM rec) AS rounds
      """)),

  )
}

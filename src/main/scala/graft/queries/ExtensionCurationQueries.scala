package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sqlList
import graft.functions.{TextAnalysis, TextFunctions}
import graft.operators.{CorpusMixing, CurationPipeline, Dedup, DistributionTests, GlobalIds, Par, RankCorrelation, SequencePacking, Similarity, Skyline, UnigramLM}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * Text analytics + curation: token stats/budgets, quality, quarantine, curate chain, redaction, lang-id, sampling, mixing, sketches, pagerank, keywords, BPE, CV folds.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionCurationQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    // ---- Text analytics ----

    QueryDef(
      "q_token_stats",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            length(col("text")).as("len_chars"),
            TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
            TextAnalysis.bpeTokenEstimate(col("text")).as("bpe_tokens"),
            round(TextAnalysis.uniqueRatio(col("text")), 6).as("unique_ratio"),
            round(TextAnalysis.stopwordRatio(col("text")), 6)
              .as("stopword_ratio"))
          .orderBy(col("doc_id")),
      Some(s"""
        SELECT doc_id,
               length(text) AS len_chars,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '${TextAnalysis.bpePattern.replace("'", "''")}')) AS bpe_tokens,
               ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS unique_ratio,
               ROUND(CAST(len(list_filter(string_split(text, ' '),
                              w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio
        FROM documents
        ORDER BY doc_id
      """)),

    // Token-budget accounting per (source, lang): the table a mixture
    // plan (q_mix_sources rates) is computed FROM. Share uses a
    // broadcast total, not a global window (a single-partition window
    // over even a small frame is the pattern this engine bans). The
    // share is emitted as integer parts-per-million via integer
    // division — no double ever reaches the hashed output, so no
    // ROUND(double, n) implementation skew between engines (or between
    // DuckDB builds) can flip a bit. Both `div` (Spark) and `//`
    // (DuckDB) floor on the all-positive operands here.
    QueryDef(
      "q_token_budget",
      (s, dir) => {
        val perDoc = Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            TextAnalysis.bpeTokenEstimate(col("text"))
              .cast("long").as("toks"))
        val grouped = perDoc.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
        val total = grouped.agg(sum(col("tokens")).as("__t"))
        grouped.crossJoin(broadcast(total))
          .select(col("source"), col("lang"), col("n_docs"), col("tokens"),
            expr("(tokens * CAST(1000000 AS BIGINT)) div __t")
              .as("share_ppm"))
          .orderBy(col("source"), col("lang"))
      },
      Some(s"""
        WITH per AS (
          SELECT source, lang,
                 CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.bpePattern.replace("'", "''")}')) AS BIGINT)
                   AS toks
          FROM documents),
        grouped AS (
          -- CAST: SUM(BIGINT) is HUGEINT → float64 in pandas → the
          -- driver's value hash reads 1234.0 vs Spark's 1234. THIS
          -- column (not share rounding) was the persistent r07/r08
          -- q_token_budget red cell.
          SELECT source, lang, COUNT(*) AS n_docs,
                 CAST(SUM(toks) AS BIGINT) AS tokens
          FROM per GROUP BY 1, 2)
        SELECT source, lang, n_docs, tokens,
               CAST((tokens * 1000000)
                    // (SELECT SUM(tokens) FROM grouped) AS BIGINT)
                 AS share_ppm
        FROM grouped
        ORDER BY source, lang
      """)),

    // ------------------------------------------------------------------
    // q_token_budget decomposition — fault-localization diagnostics.
    // q_token_budget has been hash-red at the driver for two rounds
    // while every ingredient is individually driver-green (per-doc BPE
    // counts via q_token_stats, lang ordering via q_lang_id, source
    // grouping via q_mix_sources) and the full query is bit-exact
    // against local DuckDB 1.0.0. These four queries split the
    // composite along its only seams — group counts alone, token sums
    // alone, the ppm division alone, and the same rows under a numeric
    // (tokens DESC) sort key — so whichever cell is red in the next
    // CORRECTNESS report names the faulty ingredient (and if only the
    // string-ordered variants are red, the driver hash is row-order
    // sensitive to something in (source, lang) sorting).
    QueryDef(
      "q_budget_groups",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"), col("lang")),
      Some("""
        SELECT source, lang, COUNT(*) AS n_docs
        FROM documents GROUP BY 1, 2
        ORDER BY source, lang
      """)),

    QueryDef(
      "q_budget_tokens",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            TextAnalysis.bpeTokenEstimate(col("text"))
              .cast("long").as("toks"))
          .groupBy(col("source"), col("lang"))
          .agg(sum(col("toks")).as("tokens"))
          .orderBy(col("source"), col("lang")),
      Some(s"""
        SELECT source, lang,
               CAST(SUM(CAST(len(regexp_extract_all(text,
                 '${TextAnalysis.bpePattern.replace("'", "''")}')) AS BIGINT))
                 AS BIGINT) AS tokens
        FROM documents GROUP BY 1, 2
        ORDER BY source, lang
      """)),

    QueryDef(
      "q_budget_share",
      (s, dir) => {
        val grouped = Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            TextAnalysis.bpeTokenEstimate(col("text"))
              .cast("long").as("toks"))
          .groupBy(col("source"), col("lang"))
          .agg(sum(col("toks")).as("tokens"))
        grouped
          .crossJoin(broadcast(grouped.agg(sum(col("tokens")).as("__t"))))
          .select(col("source"), col("lang"),
            expr("(tokens * CAST(1000000 AS BIGINT)) div __t")
              .as("share_ppm"))
          .orderBy(col("source"), col("lang"))
      },
      Some(s"""
        WITH grouped AS (
          SELECT source, lang,
                 CAST(SUM(CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.bpePattern.replace("'", "''")}')) AS BIGINT))
                   AS BIGINT) AS tokens
          FROM documents GROUP BY 1, 2)
        SELECT source, lang,
               CAST((tokens * 1000000)
                    // (SELECT SUM(tokens) FROM grouped) AS BIGINT)
                 AS share_ppm
        FROM grouped
        ORDER BY source, lang
      """)),

    QueryDef(
      "q_budget_by_size",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("source"), col("lang"),
            TextAnalysis.bpeTokenEstimate(col("text"))
              .cast("long").as("toks"))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
          .orderBy(col("tokens").desc, col("source"), col("lang")),
      Some(s"""
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(CAST(len(regexp_extract_all(text,
                 '${TextAnalysis.bpePattern.replace("'", "''")}')) AS BIGINT))
                 AS BIGINT) AS tokens
        FROM documents GROUP BY 1, 2
        ORDER BY tokens DESC, source, lang
      """)),

    QueryDef(
      "q_quality",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH parts AS (
          SELECT doc_id,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity,
                 abs(CAST(len(list_filter(string_split(text, ' '),
                         w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.4) AS stop_penalty,
                 CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} ]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) AS punct
          FROM documents)
        SELECT doc_id,
               ROUND(len_score * 0.3 + diversity * 0.3 +
                     (1.0 - stop_penalty) * 0.3 + (1.0 - punct) * 0.1, 6) AS quality
        FROM parts
        ORDER BY doc_id
      """)),

    // Quality calibration: the raw composite score is NOT comparable
    // across sources (different boilerplate/length profiles), so a
    // single global threshold over- or under-prunes per source. The
    // fix used by per-domain curation: rank-normalize within source —
    // cume_dist of the 6-dp score, ties sharing a value (both engines
    // define cume_dist as rows≤current / n, an exact integer ratio).
    // One window exchange on source.
    QueryDef(
      "q_quality_calibrated",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
          .withColumn("pct", cume_dist().over(
            Window.partitionBy(col("source")).orderBy(col("quality"))))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH parts AS (
          SELECT doc_id, source,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity,
                 abs(CAST(len(list_filter(string_split(text, ' '),
                         w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.4) AS stop_penalty,
                 CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} ]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) AS punct
          FROM documents),
        scored AS (
          SELECT doc_id, source,
                 ROUND(len_score * 0.3 + diversity * 0.3 +
                       (1.0 - stop_penalty) * 0.3 + (1.0 - punct) * 0.1, 6)
                   AS quality
          FROM parts)
        SELECT doc_id, source, quality,
               cume_dist() OVER (PARTITION BY source ORDER BY quality)
                 AS pct
        FROM scored
        ORDER BY doc_id
      """)),

    // Deequ-style data-validation profile: per-column completeness
    // (non-null count) and uniqueness (exact distinct) in one
    // aggregation pass — the gate a pipeline runs before training on
    // a new snapshot.
    QueryDef(
      "q_profile",
      (s, dir) =>
        graft.operators.DataQuality.profile(
            Tables.documents(s, dir),
            Seq("doc_id", "lang", "source", "text"))
          .orderBy(col("column")),
      Some("""
        SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
               COUNT(doc_id) AS n_nonnull,
               COUNT(DISTINCT doc_id) AS n_distinct FROM documents
        UNION ALL
        SELECT 'lang', COUNT(*), COUNT(lang), COUNT(DISTINCT lang)
        FROM documents
        UNION ALL
        SELECT 'source', COUNT(*), COUNT(source), COUNT(DISTINCT source)
        FROM documents
        UNION ALL
        SELECT 'text', COUNT(*), COUNT(text), COUNT(DISTINCT text)
        FROM documents
        ORDER BY "column"
      """)),

    // Row-level rule validation (DataQuality.validate): the
    // dead-letter-queue split. One (doc_id, failed_rule) row per
    // violated rule; the rule set mixes always-pass integrity checks
    // with a length rule that actually fires, so both branches of the
    // null-safe pass logic are exercised.
    QueryDef(
      "q_quarantine",
      (s, dir) =>
        graft.operators.DataQuality.validate(
            Tables.documents(s, dir), Seq("doc_id"),
            Seq(
              "too_short" -> (col("n_chars") >= 200),
              "lang_known" ->
                col("lang").isin("en", "de", "es", "fr", "zh"),
              "chars_match_text" -> (col("n_chars") === length(col("text")))))
          .orderBy(col("doc_id"), col("failed_rule")),
      Some("""
        SELECT doc_id, failed_rule FROM (
          SELECT doc_id, 'too_short' AS failed_rule FROM documents
          WHERE NOT coalesce(n_chars >= 200, false)
          UNION ALL
          SELECT doc_id, 'lang_known' FROM documents
          WHERE NOT coalesce(lang IN ('en','de','es','fr','zh'), false)
          UNION ALL
          SELECT doc_id, 'chars_match_text' FROM documents
          WHERE NOT coalesce(n_chars = length(text), false))
        ORDER BY doc_id, failed_rule
      """)),

    // The batch-curation composite, end to end: CurationPipeline.run
    // chains quarantine → quality floor → MinHash near-dup dedup →
    // (identity) mixture → contiguous global ids, each stage the
    // already-oracled operator. The oracle replays the whole five-
    // stage chain — row filters, the 6-dp-rounded quality threshold,
    // exact-Jaccard closure over the SURVIVING docs (the LSH path
    // agrees exactly: planted pairs sit at j≥0.97 where banded recall
    // is deterministic — see q_dedup_minhash), and row_number over the
    // md5 sort key GlobalIds orders by. A green row here verifies the
    // composite's plumbing, not just its stages.
    QueryDef(
      "q_curate",
      (s, dir) => {
        val r = CurationPipeline.run(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text"), col("source")),
          "doc_id", "text", "source")
        r.curated.select(col("row_id"), col("doc_id"))
          .orderBy(col("row_id"))
      },
      Some(s"""
        WITH RECURSIVE
        $curateCtes
        SELECT CAST(ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || '#0'))
               AS BIGINT) AS row_id,
               doc_id
        FROM kept
        ORDER BY row_id
      """)),

    // The composite's per-stage row LEDGER — the operational contract
    // a pipeline report is built from — verified as data: five (step,
    // stage, n_rows) rows counted from the same replayed chain.
    QueryDef(
      "q_curate_ledger",
      (s, dir) => {
        val r = CurationPipeline.run(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text"), col("source")),
          "doc_id", "text", "source")
        val rows = r.ledger.zipWithIndex.map { case ((stage, n), i) =>
          (i, stage, n)
        }
        s.createDataFrame(rows).toDF("step", "stage", "n_rows")
          .orderBy(col("step"))
      },
      Some(s"""
        WITH RECURSIVE
        $curateCtes
        SELECT * FROM (
          SELECT 0 AS step, 'input' AS stage,
                 (SELECT COUNT(*) FROM documents) AS n_rows
          UNION ALL SELECT 1, 'quarantine', (SELECT COUNT(*) FROM valid)
          UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM good)
          UNION ALL SELECT 3, 'dedup', (SELECT COUNT(*) FROM kept)
          UNION ALL SELECT 4, 'mix', (SELECT COUNT(*) FROM kept))
        ORDER BY step
      """)),

    // The composite with a REAL mixture stage (stage 4 non-identity):
    // per-source DoReMi-style rates over the deduped survivors, then
    // ids over (doc, copy). The md5 15-hex uniform draw and the
    // binary-exact rates replay bit-for-bit (q_mix_sources pattern),
    // so the full chain stays hash-checkable.
    QueryDef(
      "q_curate_mix",
      (s, dir) => {
        val r = CurationPipeline.run(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text"), col("source")),
          "doc_id", "text", "source",
          CurationPipeline.Config(rates =
            Map("src0" -> 1.5, "src1" -> 0.5, "src2" -> 0.25)))
        r.curated.select(col("row_id"), col("doc_id"), col("copy"))
          .orderBy(col("row_id"))
      },
      Some(s"""
        WITH RECURSIVE
        $curateCtes,
        mixb AS (
          SELECT doc_id,
                 CASE source WHEN 'src0' THEN 1.5 WHEN 'src1' THEN 0.5
                             WHEN 'src2' THEN 0.25 ELSE 1.0 END AS rate,
                 CAST(CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS UBIGINT) AS DOUBLE)
                   / 1152921504606846976.0 AS u
          FROM kept),
        counted AS (
          SELECT doc_id,
                 CAST(floor(rate) +
                      (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END)
                   AS INT) AS copies
          FROM mixb),
        expl AS (
          SELECT doc_id,
                 CAST(unnest(generate_series(1, copies)) AS INT) AS copy
          FROM counted WHERE copies > 0)
        SELECT CAST(ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || '#'
                              || CAST(copy AS VARCHAR)))
               AS BIGINT) AS row_id,
               doc_id, copy
        FROM expl
        ORDER BY row_id
      """)),

    // Gopher-style repetition filters (token-level): duplicate-token
    // fraction and most-frequent-bigram coverage per doc — the
    // MassiveText signals for dropping boilerplate/degenerate docs.
    QueryDef(
      "q_repetition",
      (s, dir) =>
        TextAnalysis.repetitionStats(
            Tables.documents(s, dir), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text,' ')) AS word,
                 generate_subscripts(string_split(text,' '), 1) AS pos
          FROM documents),
        big AS (
          SELECT doc_id, word || ' ' || lead(word,1) OVER w AS bigram
          FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM big
               WHERE bigram IS NOT NULL GROUP BY 1, 2),
        mb AS (SELECT doc_id, MAX(c) AS max_bi FROM bc GROUP BY 1),
        tot AS (SELECT doc_id, COUNT(*) AS n_tokens,
                       COUNT(DISTINCT word) AS n_types
                FROM words GROUP BY 1)
        SELECT t.doc_id, t.n_tokens,
               1.0 - CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 AS dup_token_frac,
               COALESCE(CAST(max_bi AS DOUBLE)
                 / CAST(GREATEST(n_tokens - 1, 1) AS DOUBLE), 0.0)
                 AS top_bigram_frac
        FROM tot t LEFT JOIN mb USING (doc_id)
        ORDER BY doc_id
      """)),

    // PII redaction: emails → IPv4 → phone runs, fixed order, all
    // RE2-safe so DuckDB runs the IDENTICAL patterns. The corpus has
    // no natural PII, so the query plants deterministic pseudo-PII
    // derived from doc_id (same construction in both engines) — the
    // oracle exercises real matches, not a vacuous no-op pass.
    // DuckDB's regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all semantics.
    QueryDef(
      "q_redact",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(
              lit("contact u"), col("doc_id"),
              lit("@mail.example.com from 10.0."),
              pmod(col("doc_id"), lit(256)),
              lit(".7 or call +1 555 01"),
              pmod(col("doc_id"), lit(90)) + 10,
              lit(" "), col("text")).as("raw"))
          .select(col("doc_id"),
            graft.functions.Redaction.redactPii(col("raw")).as("redacted"))
          .orderBy(col("doc_id")),
      Some {
        import graft.functions.Redaction._
        s"""
        WITH built AS (
          SELECT doc_id,
                 'contact u' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com from 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR)
                 || '.7 or call +1 555 01'
                 || CAST(doc_id % 90 + 10 AS VARCHAR)
                 || ' ' || text AS raw
          FROM documents)
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(raw,
                 '$emailPattern', '<EMAIL>', 'g'),
                 '$ipv4Pattern', '<IP>', 'g'),
                 '$phonePattern', '<PHONE>', 'g') AS redacted
        FROM built
        ORDER BY doc_id
        """
      }),

    // The audit side of redaction: per-doc counts of PII-shaped
    // entities from the SAME patterns the scrubber applies —
    // quarantine-thresholdable before scrubbing, zero-provable after.
    // Row-local codegen regexp counts; the planted PII from q_redact's
    // construction guarantees nonzero counts at any SF.
    QueryDef(
      "q_entity_counts",
      (s, dir) => {
        val (em, ip, ph) =
          graft.functions.Redaction.entityCounts(col("raw"))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(
              lit("contact u"), col("doc_id"),
              lit("@mail.example.com from 10.0."),
              pmod(col("doc_id"), lit(256)),
              lit(".7 or call +1 555 01"),
              pmod(col("doc_id"), lit(90)) + 10,
              lit(" "), col("text")).as("raw"))
          .select(col("doc_id"), em.as("n_emails"), ip.as("n_ipv4"),
            ph.as("n_phones"))
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.functions.Redaction._
        s"""
        WITH built AS (
          SELECT doc_id,
                 'contact u' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com from 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR)
                 || '.7 or call +1 555 01'
                 || CAST(doc_id % 90 + 10 AS VARCHAR)
                 || ' ' || text AS raw
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(raw, '$emailPattern')) AS n_emails,
               len(regexp_extract_all(raw, '$ipv4Pattern')) AS n_ipv4,
               len(regexp_extract_all(raw, '$phonePattern')) AS n_phones
        FROM built
        ORDER BY doc_id
        """
      }),

    // Term burstiness (Fano factor of per-doc tf): content words
    // clump, function words spread — Church & Gale's
    // deviation-from-Poisson content-word signal
    // (TermStats.burstiness scaladoc).
    QueryDef(
      "q_burstiness",
      (s, dir) =>
        graft.operators.TermStats.burstiness(
          Tables.documents(s, dir)
            .select(col("doc_id"),
              explode(split(col("text"), " ", -1)).as("term"))
            .filter(col("term") =!= ""),
          "doc_id", "term", minDf = 5)
          .orderBy(col("term")),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        t2 AS (SELECT * FROM toks WHERE term <> ''),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
        g AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df,
                 CAST(SUM(tf) AS BIGINT) AS total_tf,
                 SUM(CAST(tf AS HUGEINT) * tf) AS stt
          FROM tf GROUP BY 1 HAVING count(*) >= 5)
        SELECT term, df, total_tf,
               ROUND(CAST(total_tf AS DOUBLE) / CAST(df AS DOUBLE), 6)
                 AS mean_tf,
               ROUND(((CAST(df AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(total_tf AS DOUBLE) * CAST(total_tf AS DOUBLE))
                      / (CAST(df AS DOUBLE) * (CAST(df AS DOUBLE) - 1.0)))
                     / (CAST(total_tf AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                 AS fano
        FROM g ORDER BY term
      """)),

    // word2vec negative-sampling table: p ∝ count^(3/4) via two
    // correctly-rounded sqrts, micro-lattice weights, integer-ppm
    // shares (TermStats.negativeSamplingTable scaladoc).
    QueryDef(
      "q_negative_sampling",
      (s, dir) =>
        graft.operators.TermStats.negativeSamplingTable(
          Tables.documents(s, dir)
            .select(explode(split(col("text"), " ", -1)).as("term"))
            .filter(col("term") =!= ""),
          "term")
          .orderBy(col("term")),
      Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        t2 AS (SELECT * FROM toks WHERE term <> ''),
        counts AS (
          SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM t2 GROUP BY 1),
        wt AS (
          SELECT term, cnt,
                 CAST(ROUND(sqrt(CAST(cnt AS DOUBLE))
                            * sqrt(sqrt(CAST(cnt AS DOUBLE))) * 1e6)
                   AS BIGINT) AS weight_micro
          FROM counts),
        tot AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS t FROM wt)
        SELECT term, cnt, weight_micro,
               CAST((weight_micro * 1000000) // (SELECT t FROM tot)
                 AS BIGINT) AS p_ppm
        FROM wt ORDER BY term
      """)),

    // Gini-Simpson lexical diversity per source: collision
    // probability complement on an exact integer rational — no logs
    // anywhere, the evenness gauge beside q_token_entropy's Shannon
    // one (TermStats.simpsonDiversity scaladoc).
    QueryDef(
      "q_simpson",
      (s, dir) =>
        graft.operators.TermStats.simpsonDiversity(
          Tables.documents(s, dir)
            .select(col("source"),
              explode(split(col("text"), " ", -1)).as("term"))
            .filter(col("term") =!= ""),
          "source", "term")
          .orderBy(col("source")),
      Some("""
        WITH toks AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents),
        t2 AS (SELECT * FROM toks WHERE term <> ''),
        counts AS (
          SELECT source, term, CAST(count(*) AS BIGINT) AS c
          FROM t2 GROUP BY 1, 2),
        g AS (
          SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
          FROM counts GROUP BY 1)
        SELECT source, n_tokens, n_types,
               1000000 - CAST((coll * 1000000)
                              // (n_tokens * (n_tokens - 1)) AS BIGINT)
                 AS simpson_ppm
        FROM g WHERE n_tokens >= 2
        ORDER BY source
      """)),

    QueryDef(
      "q_lang_id",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("predicted")),
      Some {
        val unions = TextAnalysis.langLexicons.map { case (l, lex) =>
          s"""SELECT doc_id, lang, '$l' AS guess,
              len(list_intersect(list_distinct(string_split(text, ' ')),
                  [${sqlList(lex)}])) AS s
              FROM documents"""
        }.mkString(" UNION ALL ")
        s"""
        WITH scores AS ($unions),
        best AS (
          SELECT doc_id, lang, guess, s,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY s DESC, guess ASC) AS rn
          FROM scores)
        SELECT lang,
               CASE WHEN s > 0 THEN guess ELSE 'und' END AS predicted,
               COUNT(*) AS n
        FROM best WHERE rn = 1
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
      }),

    // Code-switching detection: language-ID each HALF of the doc (by
    // token count) and flag docs whose halves disagree — the
    // mixed-language curation filter a doc-level vote misses. Pure
    // row-local langId over two derived texts, scan-speed.
    QueryDef(
      "q_lang_mix",
      (s, dir) => {
        val toks = split(col("text"), " ", -1)
        val n = size(toks)
        val h = (n.cast("long") / lit(2L)).cast("int")
        val first = array_join(slice(toks, lit(1), h), " ")
        val second = array_join(slice(toks, h + 1, n - h), " ")
        // two langId sweeps over every token of every doc — widen
        // the one-split scan so the scoring parallelizes (§2.5)
        graft.operators.Par.widen(Tables.documents(s, dir))
          .select(col("doc_id"),
            TextAnalysis.langId(first).as("lang_a"),
            TextAnalysis.langId(second).as("lang_b"))
          .withColumn("mixed", col("lang_a") =!= col("lang_b"))
          .orderBy(col("doc_id"))
      },
      Some {
        val unions = TextAnalysis.langLexicons.map { case (l, lex) =>
          s"""SELECT doc_id, half, '$l' AS guess,
              len(list_intersect(list_distinct(string_split(t, ' ')),
                  [${sqlList(lex)}])) AS s
              FROM halves"""
        }.mkString(" UNION ALL ")
        s"""
        WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        halves AS (
          SELECT doc_id, 1 AS half,
                 array_to_string(toks[1:CAST(n // 2 AS INT)], ' ') AS t
          FROM base
          UNION ALL
          SELECT doc_id, 2,
                 array_to_string(toks[CAST(n // 2 + 1 AS INT):CAST(n AS INT)],
                                 ' ')
          FROM base),
        scores AS ($unions),
        best AS (
          SELECT doc_id, half,
                 CASE WHEN s > 0 THEN guess ELSE 'und' END AS pl,
                 ROW_NUMBER() OVER (PARTITION BY doc_id, half
                                    ORDER BY s DESC, guess ASC) AS rn
          FROM scores),
        langs AS (
          SELECT doc_id,
                 MAX(CASE WHEN half = 1 THEN pl END) AS lang_a,
                 MAX(CASE WHEN half = 2 THEN pl END) AS lang_b
          FROM best WHERE rn = 1 GROUP BY doc_id)
        SELECT doc_id, lang_a, lang_b, lang_a <> lang_b AS mixed
        FROM langs
        ORDER BY doc_id
        """
      }),

    QueryDef(
      "q_fingerprint",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.fingerprintCanonical(col("text")).as("canon_fp"),
            TextAnalysis.fingerprintWinnow(col("text"), 5).as("winnow_fp"))
          .orderBy(col("doc_id")),
      Some(s"""
        ${shingleSql(5)},
        winnow AS (
          SELECT doc_id, MIN(md5(shingle)) AS winnow_fp
          FROM grams GROUP BY doc_id)
        SELECT d.doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(d.text, ' '))), ' ')) AS canon_fp,
               w.winnow_fp
        FROM documents d JOIN winnow w ON w.doc_id = d.doc_id
        ORDER BY d.doc_id
      """)),

    // Fixed-size overlapping chunking (TextChunking.chunkFixed): the
    // splitter ahead of embedding/RAG pipelines — 200-char chunks,
    // 50-char overlap (stride 150). Relational explode+substring,
    // shuffle-free; the oracle replays the same windows with a range
    // join. ORACLE SOUNDNESS BOUND: range(0,100) caps the replay at
    // 100 chunks/doc, i.e. docs ≤ 15,000 chars (100·stride); DuckDB's
    // range() cannot take a data-derived bound. The sf corpora max out
    // at 577 chars (3 chunks) — a future corpus with longer docs must
    // raise the 100 or the oracle silently undercounts while Spark
    // does not.
    QueryDef(
      "q_chunk_docs",
      (s, dir) =>
        graft.operators.TextChunking.chunkFixed(
            Tables.documents(s, dir).select(col("doc_id"), col("text")),
            "text", size = 200, overlap = 50)
          .select(col("doc_id"), col("chunk_idx"),
            length(col("chunk")).cast("long").as("chunk_len"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""
        SELECT doc_id, r.i AS chunk_idx,
               CAST(length(substr(text, CAST(r.i * 150 + 1 AS BIGINT), 200))
                    AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(r.i * 150 + 1 AS BIGINT), 200))
                 AS chunk_md5
        FROM documents, range(0, 100) r(i)
        WHERE r.i * 150 < length(text)
        ORDER BY doc_id, chunk_idx
      """)),

    // Deterministic content-hash sampling as an oracle-checked query:
    // membership from md5(id) (DuckDB-replicable — the Sampling
    // operator's xxhash64 is not, same pattern otherwise), keeping
    // ids whose hash lands in 3 of 10 residue classes. The aggregate
    // over the kept set proves BOTH engines selected the same rows.
    QueryDef(
      "q_sample_docs",
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("h",
            expr("conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)")
              .cast("long"))
          .where(pmod(col("h"), lit(10L)) < 3)
          .agg(count(lit(1)).as("n_kept"),
            sum(length(col("text")).cast("long")).as("sum_len"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id")),
      Some("""
        SELECT COUNT(*) AS n_kept,
               CAST(SUM(length(text)) AS BIGINT) AS sum_len,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM (SELECT doc_id, text,
                     CAST(concat('0x',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT) AS h
              FROM documents)
        WHERE h % 10 < 3
      """)),

    // Deterministic per-stratum reservoir: exactly 5 docs per source,
    // drawn as the 5 SMALLEST md5 hashes — a uniform-without-
    // replacement sample that is a pure function of the ids (same
    // rows on any cluster, any partitioning, any engine). The draw
    // uses the bounded top_k_by aggregate (map-side partial heaps,
    // k·|groups| state) — NOT a per-group rank window, so no stratum
    // ever gathers on one task: the 100-TB shape for "n per bucket".
    QueryDef(
      "q_reservoir",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"))
          .withColumn("h",
            expr("conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)")
              .cast("long"))
          .groupBy(col("source"))
          .agg(graft.functions.top_k_by(negate(col("h")), col("doc_id"), 5)
            .as("top"))
          .select(col("source"), posexplode(col("top")))
          .select(col("source"), col("col.id").as("doc_id"),
            (col("pos") + 1).as("draw_rank"))
          .orderBy(col("source"), col("draw_rank")),
      Some("""
        WITH h AS (
          SELECT source, doc_id,
                 CAST(concat('0x',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS UBIGINT) AS h
          FROM documents),
        r AS (
          SELECT source, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY h, doc_id) AS draw_rank
          FROM h)
        SELECT source, doc_id, draw_rank
        FROM r WHERE draw_rank <= 5
        ORDER BY source, draw_rank
      """)),

    // Per-source token-vs-chars calibration curves: thousands-of-
    // small-models grouped OLS in ONE aggregation pass (GroupedOls
    // scaladoc) — five exact integer statistics per group, double
    // arithmetic on them exact below 2^53, slope/intercept/r² pure
    // functions of integers.
    QueryDef(
      "q_group_regression",
      (s, dir) =>
        graft.operators.GroupedOls.fit(
            Tables.documents(s, dir).select(col("source"), col("n_chars"),
              TextAnalysis.bpeTokenEstimate(col("text"))
                .cast("long").as("toks")),
            "source", "n_chars", "toks")
          .orderBy(col("source")),
      Some(s"""
        WITH d AS (
          SELECT source, n_chars,
                 CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.bpePattern.replace("'", "''")}')) AS BIGINT)
                   AS toks
          FROM documents),
        stats AS (
          SELECT source, count(*) AS n,
                 sum(n_chars) AS sx, sum(toks) AS sy,
                 sum(n_chars * toks) AS sxy,
                 sum(n_chars * n_chars) AS sxx,
                 sum(toks * toks) AS syy
          FROM d GROUP BY 1),
        calc AS (
          SELECT source, n,
                 CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
                 CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
                 CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(n AS DOUBLE) AS nd
          FROM stats)
        SELECT source, n,
               CAST(ROUND((cov / varx) * 1000000.0) AS BIGINT)
                 / 1000000.0 AS slope,
               CAST(ROUND(((syd - (cov / varx) * sxd) / nd) * 1000000.0)
                 AS BIGINT) / 1000000.0 AS intercept,
               CASE WHEN vary = 0 THEN NULL
                    ELSE CAST(ROUND(((cov * cov) / (varx * vary))
                           * 1000000.0) AS BIGINT) / 1000000.0
               END AS r2
        FROM calc
        WHERE n >= 2 AND varx <> 0
        ORDER BY source
      """)),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // keys, odds ∝ n_chars): the md5 draw is offset +0.5 so log10
    // never sees 0 (Spark NULL vs DuckDB -inf), the log-space key
    // order equals u^(1/w) monotonically, and top-k is a bounded
    // TakeOrdered — no reservoir merge, no corpus shuffle.
    QueryDef(
      "q_weighted_sample",
      (s, dir) => {
        import graft.operators.Sampling
        Sampling.weightedSample(
            Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
            "doc_id", "n_chars", k = 20)
          .orderBy(col("es_key").desc, col("doc_id"))
      },
      Some("""
        SELECT doc_id, n_chars,
               ROUND(log10((CAST(CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS UBIGINT) AS DOUBLE) + 0.5)
                     / 1152921504606846976.0)
                 / CAST(n_chars AS DOUBLE), 9) AS es_key
        FROM documents
        WHERE n_chars > 0
        ORDER BY es_key DESC, doc_id
        LIMIT 20
      """)),

    // CCNet-style unigram cross-entropy (UnigramLM scaladoc): the
    // model is one map-side-combined count agg; per-word −log10 p is
    // rounded to a 9 dp lattice and summed in exact DECIMAL so
    // accumulation order cannot perturb the per-doc mean.
    QueryDef(
      "q_lm_score",
      (s, dir) =>
        UnigramLM.crossEntropy(
            Tables.documents(s, dir).select(col("doc_id"), col("text")),
            "doc_id", "text")
          .orderBy(col("doc_id")),
      Some(s"""
        WITH $lmXentCtes
        SELECT doc_id, n_tokens, xent FROM lm ORDER BY doc_id
      """)),

    // Bigram-LM cross-entropy (Jelinek-Mercer λ=0.75 interpolation
    // with the unigram marginal) — the perplexity filter one model
    // order above q_lm_score. Oracle replays transition extraction
    // (lead window), both count models, the interpolated probability
    // with IDENTICAL parenthesization, and the 9-dp/DECIMAL sum
    // discipline.
    QueryDef(
      "q_bigram_score",
      (s, dir) => {
        import graft.operators.BigramLM
        BigramLM.crossEntropy(
            Tables.documents(s, dir).select(col("doc_id"), col("text")),
            "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        trans0 AS (
          SELECT doc_id, word AS w1,
                 lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS w2
          FROM words),
        trans AS (SELECT * FROM trans0 WHERE w2 IS NOT NULL),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM trans GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        c2 AS (SELECT word AS w2, count(*) AS c2 FROM words GROUP BY 1),
        tot AS (SELECT CAST(sum(c2) AS DOUBLE) AS tot FROM c2),
        model AS (
          SELECT c12.w1, c12.w2,
                 ROUND(-LOG10(
                   0.75 * (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
                   + 0.25 * (CAST(c2.c2 AS DOUBLE) / tot.tot)), 9) AS nlp
          FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot)
        SELECT t.doc_id, count(*) AS n_transitions,
               ROUND(CAST(sum(CAST(m.nlp AS DECIMAL(38,12))) AS DOUBLE)
                     / count(*), 6) AS xent
        FROM trans t JOIN model m ON m.w1 = t.w1 AND m.w2 = t.w2
        GROUP BY t.doc_id
        ORDER BY t.doc_id
      """)),

    // Per-source vocabulary drift: KL(source ‖ corpus) with add-one
    // smoothing over the FULL vocab (absent terms carry smoothed mass
    // — the |groups|×|vocab| frame is the honest exact cost, see
    // UnigramLM.sourceDrift). 9-dp lattice + DECIMAL sum, log10.
    QueryDef(
      "q_corpus_drift",
      (s, dir) =>
        UnigramLM.sourceDrift(
            Tables.documents(s, dir).select(col("source"), col("text")),
            "text", "source")
          .orderBy(col("source")),
      Some("""
        WITH toks AS (
          SELECT source AS g, unnest(string_split(text, ' ')) AS w
          FROM documents),
        cg AS (SELECT g, w, count(*) AS cgw FROM toks GROUP BY 1, 2),
        cw AS (SELECT w, sum(cgw) AS cw FROM cg GROUP BY 1),
        tg AS (SELECT g, sum(cgw) AS tg FROM cg GROUP BY 1),
        tot AS (SELECT sum(cgw) AS t, count(DISTINCT w) AS v FROM cg),
        pairs AS (
          SELECT tg.g, cw.w, tg.tg, cw.cw,
                 COALESCE(cg.cgw, 0) AS cgw, tot.t, tot.v
          FROM tg CROSS JOIN cw
          LEFT JOIN cg ON cg.g = tg.g AND cg.w = cw.w
          CROSS JOIN tot),
        contrib AS (
          SELECT g,
                 ROUND(((CAST(cgw AS DOUBLE) + 1.0)
                        / (CAST(tg AS DOUBLE) + CAST(v AS DOUBLE)))
                   * LOG10(((CAST(cgw AS DOUBLE) + 1.0)
                            / (CAST(tg AS DOUBLE) + CAST(v AS DOUBLE)))
                           / ((CAST(cw AS DOUBLE) + 1.0)
                              / (CAST(t AS DOUBLE) + CAST(v AS DOUBLE)))),
                   9) AS c
          FROM pairs)
        SELECT g AS source,
               ROUND(CAST(sum(CAST(c AS DECIMAL(38,12))) AS DOUBLE), 6)
                 AS kl
        FROM contrib
        GROUP BY 1
        ORDER BY source
      """)),

    // Top-30 PMI collocations (joint floor 5) on the same transition
    // stream — all four integers come from one event space, PMI is a
    // per-row log10 rounded at the edge (no float aggregation), and
    // the (pmi, w1, w2) order is total.
    QueryDef(
      "q_collocations",
      (s, dir) => {
        import graft.operators.BigramLM
        BigramLM.collocations(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", minCount = 5, k = 30)
      },
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        trans0 AS (
          SELECT doc_id, word AS w1,
                 lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS w2
          FROM words),
        trans AS (SELECT * FROM trans0 WHERE w2 IS NOT NULL),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM trans GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        c2 AS (SELECT w2, sum(c12) AS c2 FROM c12 GROUP BY 1),
        n AS (SELECT sum(c12) AS n12 FROM c12),
        scored AS (
          SELECT c12.w1, c12.w2, c12.c12,
                 ROUND(LOG10(
                   (CAST(c12.c12 AS DOUBLE) * CAST(n.n12 AS DOUBLE))
                   / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE))), 6)
                   AS pmi
          FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
          WHERE c12.c12 >= 5)
        SELECT w1, w2, c12, pmi FROM scored
        ORDER BY pmi DESC, w1, w2
        LIMIT 30
      """)),

    // Curriculum sharding: order the corpus easy->hard by unigram
    // cross-entropy and cut it into 8 contiguous shards — the
    // curriculum-learning data prep. Built on GlobalIds (no
    // single-partition window; an NTILE over the corpus would funnel
    // everything through one task). shard = floor((row_id-1)*8/n):
    // both factors are exact integers in double range, so the floored
    // quotient replays identically in any IEEE engine.
    QueryDef(
      "q_curriculum",
      (s, dir) => {
        val scored = UnigramLM.crossEntropy(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text")
        val total = scored.agg(count(lit(1)).as("__n"))
        GlobalIds.withOrderedIds(
            scored.select(col("doc_id"), col("xent")),
            Seq("xent", "doc_id"), "row_id", partitions = 0)
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("xent"),
            floor((col("row_id") - 1) * 8 / col("__n")).cast("int")
              .as("shard"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $lmXentCtes,
        r AS (
          SELECT doc_id, xent,
                 ROW_NUMBER() OVER (ORDER BY xent, doc_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM lm)
        SELECT doc_id, xent,
               CAST(floor((rn - 1) * 8.0 / n) AS INT) AS shard
        FROM r ORDER BY doc_id
      """)),

    // Domain-mixture resampling to per-lang target rates (DoReMi-style
    // mixture weights). The rates are all binary-exact doubles, so the
    // floor/fraction split replays bit-for-bit in both engines; the
    // per-doc uniform draw is the same md5 trick as q_sample_docs.
    QueryDef(
      "q_mix_sources",
      (s, dir) =>
        CorpusMixing.resampleByRates(
            Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            "doc_id", "lang",
            Map("en" -> 1.5, "de" -> 1.0, "es" -> 0.75,
              "fr" -> 0.5, "zh" -> 0.25))
          .orderBy(col("doc_id"), col("copy")),
      Some("""
        WITH base AS (
          SELECT doc_id, lang,
                 CASE lang WHEN 'en' THEN 1.5 WHEN 'de' THEN 1.0
                           WHEN 'es' THEN 0.75 WHEN 'fr' THEN 0.5
                           WHEN 'zh' THEN 0.25 ELSE 1.0 END AS rate,
                 CAST(CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS UBIGINT) AS DOUBLE)
                   / 1152921504606846976.0 AS u
          FROM documents),
        counted AS (
          SELECT doc_id, lang,
                 CAST(floor(rate) +
                      (CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END)
                   AS INT) AS copies
          FROM base),
        exploded AS (
          SELECT doc_id, lang,
                 CAST(unnest(generate_series(1, copies)) AS INT) AS copy
          FROM counted WHERE copies > 0)
        SELECT doc_id, lang, copy FROM exploded ORDER BY doc_id, copy
      """)),

    // Temperature (α=0.5) source sampling: rates computed IN-ENGINE
    // from the per-source counts (√-flattened shares, normalized
    // downsample-only), then materialized with the same md5 draw as
    // q_mix_sources. The oracle replays rate derivation (9-dp √
    // lattice, DECIMAL share denominator, order-free max) and the
    // draw — the surviving (doc_id, source) set is hash-checked.
    QueryDef(
      "q_mix_temperature",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        val rates = CorpusMixing.temperatureRatesSqrt(docs, "source")
        docs.join(broadcast(rates.select(col("source"), col("rate"))), "source")
          .where(CorpusMixing.hashFraction(col("doc_id")) < col("rate"))
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH counts AS (
          SELECT source, count(*) AS n FROM documents GROUP BY 1),
        u AS (SELECT source, n,
                     ROUND(sqrt(CAST(n AS DOUBLE)), 9) AS u
              FROM counts),
        mx AS (SELECT max(u / CAST(n AS DOUBLE)) AS m FROM u),
        rates AS (
          SELECT source,
                 (u / CAST(n AS DOUBLE)) / mx.m AS rate
          FROM u CROSS JOIN mx),
        drawn AS (
          SELECT d.doc_id, d.source, r.rate,
                 CAST(CAST(concat('0x',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                      AS UBIGINT) AS DOUBLE)
                   / 1152921504606846976.0 AS u
          FROM documents d JOIN rates r USING (source))
        SELECT doc_id, source FROM drawn WHERE u < rate
        ORDER BY doc_id
      """)),

    // FineWeb-style per-domain quality selection: keep the best 30% of
    // each lang by the composite quality score (pre-rounded to the
    // 6 dp oracle edge so the window order is float-noise-free).
    QueryDef(
      "q_select_quality",
      (s, dir) => {
        val scored = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
        CorpusMixing.selectTopFraction(scored, "lang", "quality", 0.3, "doc_id")
          .orderBy(col("lang"), col("quality").desc, col("doc_id"))
      },
      Some(s"""
        WITH parts AS (
          SELECT doc_id, lang,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity,
                 abs(CAST(len(list_filter(string_split(text, ' '),
                         w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.4) AS stop_penalty,
                 CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} ]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) AS punct
          FROM documents),
        scored AS (
          SELECT doc_id, lang,
                 ROUND(len_score * 0.3 + diversity * 0.3 +
                       (1.0 - stop_penalty) * 0.3 + (1.0 - punct) * 0.1, 6)
                   AS quality
          FROM parts),
        ranked AS (
          SELECT doc_id, lang, quality,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY quality DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM scored)
        SELECT doc_id, lang, quality FROM ranked
        WHERE rn <= CEIL(0.3 * n)
        ORDER BY lang, quality DESC, doc_id
      """)),

    // Contiguous global row ids WITHOUT the single-partition global
    // window (GlobalIds scaladoc): range exchange + partition-local
    // numbering + broadcast prefix-sum offsets. The md5 sort key
    // scrambles the input order so the test is not vacuous, and is
    // unique by construction (the operator's total-order contract).
    QueryDef(
      "q_assign_ids",
      (s, dir) => {
        val keyed = Tables.documents(s, dir)
          .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
        GlobalIds.withOrderedIds(keyed, "k", "row_id")
          .select(col("doc_id"), col("row_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
                 AS row_id
        FROM documents
        ORDER BY doc_id
      """)),

    // Cluster-balanced diversity sampling: assign every embedding to
    // its nearest deterministic-codebook cell, then keep a fixed
    // md5-hash-ordered quarter of each cell — a uniform-per-cluster
    // subset that preserves the corpus's semantic spread (the
    // embedding-space analogue of per-domain selection). The whole
    // chain (assignment + draw) is a pure function of the data, so it
    // is hash-checked end to end via the shared IVF assignment CTEs.
    QueryDef(
      "q_diversity_sample",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // nlist derived from the corpus count (the kNN-family scale
        // rule) — a fixed nlist caps the sample's semantic spread at
        // 16 strata no matter how large the corpus grows
        val nl = Similarity.derivedNlist(
          emb.select(col("vec_id")).count())
        val assigned = Similarity.assignCellsSampledCodebook(
            emb, "vec_id", "embedding", nlist = nl)
          .select(col("id").as("vec_id"), col("cell"),
            CorpusMixing.hashFraction(col("id")).as("h"))
        CorpusMixing.selectTopFraction(assigned, "cell", "h", 0.25, "vec_id")
          .select(col("vec_id"), col("cell"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        hashed AS (
          SELECT nid, cell,
                 CAST(CAST(concat('0x',
                        substr(md5(CAST(nid AS VARCHAR)), 1, 15))
                      AS UBIGINT) AS DOUBLE)
                   / 1152921504606846976.0 AS h
          FROM asg),
        ranked AS (
          SELECT nid, cell,
                 ROW_NUMBER() OVER (PARTITION BY cell
                                    ORDER BY h DESC, nid) AS rn,
                 COUNT(*) OVER (PARTITION BY cell) AS n
          FROM hashed)
        SELECT nid AS vec_id, cell FROM ranked
        WHERE rn <= CEIL(0.25 * n)
        ORDER BY vec_id
      """)),

    // Z-order (Morton) clustering key for multi-dimensional data
    // skipping: interleave 8 bucketed bits of user and time so a
    // range-partitioned write is narrow on BOTH columns' file
    // min/max stats (ZOrderLayoutSpec proves the layout property;
    // this pins the curve itself — the SQL twin is generated from
    // the same bit terms, so expression and oracle cannot drift).
    QueryDef(
      "q_zorder",
      (s, dir) => {
        val za = pmod(col("user_id"), lit(256L))
        val zb = pmod(unix_timestamp(col("ts")), lit(256L))
        Tables.events(s, dir)
          .select(col("event_id"), za.as("za"), zb.as("zb"),
            graft.sources.ZOrderLayout.zValue(za, zb, 8).as("z"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH zk AS (
          SELECT event_id,
                 user_id % 256 AS za,
                 -- floor, not CAST: epoch() is fractional seconds and
                 -- CAST rounds, while Spark's unix_timestamp truncates
                 CAST(floor(epoch(ts)) AS BIGINT) % 256 AS zb
          FROM events)
        SELECT event_id, za, zb,
               ${graft.sources.ZOrderLayout.zValueSql("za", "zb", 8)} AS z
        FROM zk ORDER BY event_id
      """)),

    // Heavy hitters over the open token domain: Misra-Gries candidate
    // pass (bounded memory, shuffle carries ≤ partitions×⌈1/φ⌉ rows,
    // not one per distinct token) + exact verification recount — the
    // result is EXACT, so the oracle is the plain GROUP BY/HAVING
    // answer. Threshold ⌈0.002·n⌉ is computed in exact decimal in
    // both engines (30 items at every SF; no CEIL boundary risk:
    // 0.002·n is an exact decimal for integer n).
    QueryDef(
      "q_heavy_hitters",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .select(explode(TextFunctions.splitWords(col("text")))
            .as("item"))
        graft.operators.HeavyHitters.frequentItems(words, "item", 0.002)
      },
      Some("""
        WITH words AS (
          SELECT unnest(string_split(text, ' ')) AS item FROM documents),
        tot AS (SELECT count(*) AS n FROM words)
        SELECT item, count(*) AS cnt
        FROM words GROUP BY item
        HAVING count(*) >=
          CEIL(CAST(0.002 AS DECIMAL(10,6)) * (SELECT n FROM tot))
        ORDER BY cnt DESC, item
      """)),

    // Count-min sketch with REPLAYABLE hashing (md5-prefix double
    // hashing, CmsSketch scaladoc): 4×1024 counters built in one
    // aggregation pass, point-queried for the 30 most frequent terms.
    // exact_cnt is carried only to exhibit the one-sided error
    // (cms_cnt ≥ exact_cnt always; small bounded overcount) — a
    // deployment keeps just the kilobyte counter table. The oracle
    // replays hash, counters, and min end to end.
    QueryDef(
      "q_cms_counts",
      (s, dir) => {
        import graft.operators.CmsSketch
        val words = Tables.documents(s, dir)
          .select(explode(TextFunctions.splitWords(col("text")))
            .as("term"))
        val counters = CmsSketch.buildCounters(words, "term")
        val exact = words.groupBy(col("term"))
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("term"))
          .limit(30)
        CmsSketch.estimate(counters, exact.select(col("term")), "term")
          .join(broadcast(exact), "term")
          .select(col("term"), col("exact_cnt"), col("cms_cnt"),
            (col("cms_cnt") - col("exact_cnt")).as("overcount"))
          .orderBy(col("term"))
      },
      Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        hh AS (
          SELECT term,
                 CAST(h % 1048576 AS BIGINT) AS h1,
                 CAST(((h // 1048576) % 1048576) * 2 + 1 AS BIGINT) AS h2
          FROM (SELECT DISTINCT term,
                       CAST(concat('0x', substr(md5(term), 1, 15))
                         AS UBIGINT) AS h
                FROM toks)),
        counters AS (
          SELECT r.j, (o.h1 + r.j * o.h2) % 1024 AS bucket,
                 count(*) AS cnt
          FROM toks t JOIN hh o USING (term), range(0, 4) r(j)
          GROUP BY 1, 2),
        exact AS (
          SELECT term, count(*) AS exact_cnt
          FROM toks GROUP BY 1
          ORDER BY exact_cnt DESC, term LIMIT 30),
        est AS (
          SELECT e.term, e.exact_cnt,
                 min(COALESCE(c.cnt, 0)) AS cms_cnt
          FROM exact e
          JOIN hh o USING (term)
          CROSS JOIN range(0, 4) r(j)
          LEFT JOIN counters c
            ON c.j = r.j AND c.bucket = (o.h1 + r.j * o.h2) % 1024
          GROUP BY 1, 2)
        SELECT term, exact_cnt,
               CAST(cms_cnt AS BIGINT) AS cms_cnt,
               CAST(cms_cnt - exact_cnt AS BIGINT) AS overcount
        FROM est ORDER BY term
      """)),

    // Symmetric int8 embedding quantization (absmax scheme): per-row
    // pure functions end to end — scale and the sequential-fold
    // reconstruction SSE are identical doubles in both engines, and
    // are hashed as integer NANO-lattices (explicit ×1e9 in double,
    // then round-to-integer, which is engine-agnostic for the same
    // double) — ROUND(x, 9) itself is NOT cross-engine-stable: the
    // engines' internal 10^9 scaling disagrees on ~10% of rows at
    // this magnitude (the q_token_budget lesson, one decade deeper).
    // l1 is exact integer arithmetic in double range.
    QueryDef(
      "q_quantize",
      (s, dir) => {
        import graft.functions.Quantization
        Tables.embeddings(s, dir)
          .withColumn("scale", Quantization.absmaxScale(col("embedding")))
          .withColumn("codes",
            Quantization.quantizeInt8(col("embedding"), col("scale")))
          .select(col("vec_id"),
            round(col("scale") * lit(1e9)).cast("long").as("scale_nano"),
            aggregate(col("codes"), lit(0L),
              (acc, q) => acc + abs(q.cast("long"))).as("l1_q"),
            round(Quantization.reconstructionSse(
                col("embedding"), col("codes"), col("scale")) * lit(1e9))
              .cast("long").as("sse_nano"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH s AS (
          SELECT vec_id,
                 list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
          FROM embeddings),
        c AS (
          SELECT e.vec_id, s.scale,
                 list_transform(e.embedding, x ->
                   CASE WHEN s.scale = 0 THEN 0
                        ELSE GREATEST(-127.0, LEAST(127.0,
                               ROUND(CAST(x AS DOUBLE) / s.scale))) END)
                   AS qs,
                 e.embedding AS emb
          FROM embeddings e JOIN s USING (vec_id))
        SELECT vec_id,
               CAST(ROUND(scale * 1000000000.0) AS BIGINT) AS scale_nano,
               CAST(list_reduce(list_prepend(0.0,
                      list_transform(qs, q -> abs(q))), (a,b) -> a+b)
                 AS BIGINT) AS l1_q,
               CAST(ROUND(list_reduce(list_prepend(0.0,
                 list_transform(list_zip(emb, qs), p ->
                   (CAST(p[1] AS DOUBLE) - p[2]*scale)
                   * (CAST(p[1] AS DOUBLE) - p[2]*scale))),
                 (a,b) -> a+b) * 1000000000.0) AS BIGINT) AS sse_nano
        FROM c ORDER BY vec_id
      """)),

    // Snapshot diff (crawl-to-crawl delta): two snapshots carved
    // deterministically from `documents` (old = id%7≠0, new = id%5≠0
    // with id%11=0 texts revised), every key classified
    // added/removed/changed/unchanged. The oracle classifies by
    // DIRECT text comparison on a full outer join — it does not
    // replay the operator's md5 fingerprints, so a hash match proves
    // the semantic outcome, not the mechanism.
    QueryDef(
      "q_snapshot_diff",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val newSnap = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(11)) === 0,
              concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        graft.operators.SnapshotDiff
          .diff(oldSnap, newSnap, "doc_id", Seq("text"))
          .orderBy(col("key"))
      },
      Some("""
        WITH oldd AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        newd AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 5 <> 0)
        SELECT COALESCE(o.doc_id, n.doc_id) AS key,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.text = n.text THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
        ORDER BY key
      """)),

    // PageRank over the embedding 5-NN similarity graph, 10 fixed
    // iterations on the exact integer picounit lattice — every step
    // is integer floor division, so the fixed point is bit-identical
    // under any partitioning and the oracle can unroll the same
    // lattice (generated below: kNN edges from 6-dp-rounded
    // distances, then r0..r10). Graph centrality as a curation
    // signal: hubs are "representative", low-rank rows outliers.
    QueryDef(
      "q_pagerank",
      (s, dir) => {
        val pts = Tables.embeddings(s, dir)
        val q = pts.select(col("vec_id").as("src"), col("embedding").as("qv"))
        // widen the scored side: the n×|broadcast| distance sweep is
        // the heavy map stage a one-split scan serializes (§2.5;
        // measured 5.2 s single-task in the r19 profile)
        val c = graft.operators.Par.widen(pts)
          .select(col("vec_id").as("dst"), col("embedding").as("cv"))
        val edges = c.crossJoin(broadcast(q))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            negate(round(graft.functions.VectorFunctions
              .dist2(col("qv"), col("cv")), 6)).as("score"))
          .groupBy(col("src"))
          .agg(graft.functions.top_k_by(col("score"), col("dst"), 5)
            .as("top"))
          .select(col("src"), explode(col("top")).as("t"))
          .select(col("src"), col("t.id").as("dst"))
        graft.operators.PageRank.run(edges, "src", "dst", 10)
          .orderBy(col("id"))
      },
      Some(pagerankOracle)),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    // over the term co-occurrence graph — vocab = top-200 terms by
    // docfreq (df desc, term tiebreak), undirected edges between
    // vocab terms co-occurring within distance <= 2, 10 lattice
    // iterations, top-30 keywords by rank. Co-occurrence is built as
    // TWO EQUI-joins on (doc_id, pos±δ) — never a per-doc position
    // cross join — and the 200-row vocab broadcasts; the only
    // single-partition step is numbering those 200 rows.
    QueryDef(
      "q_keywords",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // NOT widened (measured r20): shuffling the token arrays to
        // parallelize the cheap posexplode regressed matched subset
        // runs ~40% — the explode is serialization-bound, not
        // CPU-bound (the BigramLM.transitions lesson)
        val toks = docTokens(s, dir)
          .select(col("doc_id"),
            posexplode(col("tokens")).as(Seq("pos", "term")))
        val vocab = toks.groupBy(col("term"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .orderBy(col("df").desc, col("term"))
          .limit(200)
        // 200 rows: the empty-partition-spec window is bounded here.
        // Pinned — ids feeds the token join AND the final
        // name join, and PageRank already runs jobs at build time, so
        // the checkpoint costs nothing extra and saves two replays of
        // the vocabulary aggregation.
        val ids = vocab.select(col("term"),
          row_number().over(Window.orderBy(col("term"))).cast("long")
            .as("id"))
          .transform(Par.pin)
        // pinned (r20, profiled): vt feeds BOTH sides of BOTH
        // distance joins (4 references), and the posexplode+join
        // subtree ran three times (triple identical 3 MB exchange
        // stages in the profile). Vocab-restricted positions — the
        // frame the co-occurrence build materializes in any TextRank
        // deployment.
        val vt = toks.join(broadcast(ids), "term")
          .select(col("doc_id"), col("pos"), col("id"))
          .transform(Par.pin)
        val und = Seq(1, 2).map { d =>
          vt.select(col("doc_id"), col("pos"), col("id").as("src"))
            .join(vt.select(col("doc_id"), (col("pos") - lit(d)).as("pos"),
              col("id").as("dst")), Seq("doc_id", "pos"))
            .select(col("src"), col("dst"))
        }.reduce(_ union _).filter(col("src") =!= col("dst"))
          // pinned: referenced twice by the symmetrizing union
          .transform(Par.pin)
        val edges = und
          .union(und.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
        graft.operators.PageRank.run(edges, "src", "dst", 10)
          .join(ids, "id")
          .select(col("term"), col("rank"))
          .orderBy(col("rank").desc, col("term"))
          .limit(30)
      },
      Some(keywordsOracle)),

    // Incremental aggregate maintenance: history and batch partials
    // merged (full outer join on the 80-group key, null-safe
    // combination) must equal a from-scratch recompute — the oracle
    // IS that recompute, so the hash match proves the merge algebra,
    // not a replay of it. `value` is snapped to an exact integer
    // micro lattice BEFORE aggregation (round-to-integer of a scaled
    // double is engine-agnostic; events.value is not integer-valued,
    // so hashing ROUND(SUM(double),6) would carry the cross-engine
    // sum-order ulp risk the round-7 verdict flagged).
    QueryDef(
      "q_agg_merge",
      (s, dir) => {
        import graft.operators.AggMaintenance
        val ev = Tables.events(s, dir)
          .withColumn("bucket", pmod(col("user_id"), lit(16L)))
          .withColumn("vmicro",
            round(col("value") * lit(1e6)).cast("long"))
        val keys = Seq("event_type", "bucket")
        val history = AggMaintenance.partials(
          ev.filter(pmod(col("event_id"), lit(4)) =!= 0), keys, Seq("vmicro"))
        val delta = AggMaintenance.partials(
          ev.filter(pmod(col("event_id"), lit(4)) === 0), keys, Seq("vmicro"))
        AggMaintenance.merge(history, delta, keys, Seq("vmicro"))
          .select(col("event_type"), col("bucket"),
            col("vmicro_cnt"), col("vmicro_sum").cast("long").as("vmicro_sum"),
            col("vmicro_min"), col("vmicro_max"))
          .orderBy(col("event_type"), col("bucket"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, user_id % 16 AS bucket,
                 CAST(ROUND(value * 1000000.0) AS BIGINT) AS vmicro
          FROM events)
        SELECT event_type, bucket,
               count(vmicro) AS vmicro_cnt,
               CAST(sum(vmicro) AS BIGINT) AS vmicro_sum,
               min(vmicro) AS vmicro_min,
               max(vmicro) AS vmicro_max
        FROM ev
        GROUP BY event_type, bucket
        ORDER BY event_type, bucket
      """)),

    // Bloom-prefiltered join (native BloomFilterAggregate /
    // might_contain — the AQE runtime-filter machinery used
    // explicitly): lineitem rows are dropped map-side before the
    // shuffle unless their order key might be in the selective order
    // subset; the real join then removes the ~fpp false positives,
    // so the oracle is the PLAIN join — the hash match proves
    // exactness of the whole prefilter+join composition.
    // expectedKeys is a static 1000: undersizing only raises fpp
    // (more shuffle, never wrong results), so it is scale-safe.
    QueryDef(
      "q_bloom_join",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val hot = Tables.orders(s, dir)
          .filter(col("o_totalprice") > 480000)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        // Order by EVERY emitted column: the synthetic lineitem does
        // not have TPC-H's unique (orderkey, linenumber) — at sf0.1,
        // ~118k pairs repeat with differing quantities, so the
        // two-column order was not total (caught by the sf0.1 sweep;
        // rows still tying on all four columns are identical, so
        // their order is irrelevant to the comparison).
        graft.operators.BloomJoin
          .innerPrefiltered(li, hot, "l_orderkey", expectedKeys = 1000)
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("o_totalprice"))
      },
      Some("""
        SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_totalprice > 480000
        ORDER BY l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
      """)),

    // BPE tokenizer training statistics: top-100 initial symbol-pair
    // counts (the argmax of this table IS the first learned merge).
    // The corpus collapses to a distinct-word frequency table before
    // any pair work, so the aggregation is vocab-sized (BpeTokenizer
    // scaladoc). left/right are aliased lhs/rhs — both are reserved
    // words in DuckDB. The oracle replays char decomposition with the
    // </w> end-of-word marker via substr over per-row index ranges.
    QueryDef(
      "q_bpe_pairs",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        BpeTokenizer.pairStats(BpeTokenizer.initialSymbols(
            BpeTokenizer.wordCounts(Tables.documents(s, dir), "text")))
          .select(col("left").as("lhs"), col("right").as("rhs"),
            col("cnt"))
          .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
          .limit(100)
      },
      Some("""
        WITH words AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
          WHERE length(word) > 0
          GROUP BY 1),
        pairs AS (
          SELECT freq,
                 substr(word, i, 1) AS lhs,
                 substr(word, i + 1, 1) ||
                   CASE WHEN i + 1 = n THEN '</w>' ELSE '' END AS rhs
          FROM (SELECT word, freq, length(word) AS n,
                       unnest(range(1, length(word))) AS i
                FROM words))
        SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM pairs GROUP BY 1, 2
        ORDER BY cnt DESC, lhs, rhs
        LIMIT 100
      """)),

    // Repeated stratified k-fold assignment (SURVEY §2.8 M2 — the
    // reference's createMultiFolds intent): witness = per-(rep, fold,
    // label) counts, which the exact dealing bounds to a ±1 spread
    // within every (rep, label). The md5-draw round-robin is
    // replayable in any engine; the oracle re-deals from scratch.
    QueryDef(
      "q_cv_folds",
      (s, dir) =>
        graft.operators.CrossValidation.exactFolds(
            Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            "lang", "doc_id", k = 5, times = 2)
          .groupBy(col("rep"), col("fold"), col("lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("rep"), col("fold"), col("lang")),
      Some("""
        WITH reps AS (
          SELECT doc_id, lang, unnest(range(1, 3)) AS rep
          FROM documents),
        dealt AS (
          SELECT rep, lang,
                 ((ROW_NUMBER() OVER (PARTITION BY rep, lang
                     ORDER BY md5(doc_id || ':' || rep), doc_id) - 1)
                  % 5) + 1 AS fold
          FROM reps)
        SELECT rep, fold, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM dealt GROUP BY 1, 2, 3
        ORDER BY rep, fold, lang
      """)),

    // Per-epoch training-order shuffle: deterministic (id, epoch)
    // permutation dealt into shards (Sampling.epochShuffle). Witness:
    // the first 5 positions of every (epoch, shard) — replays the
    // full double-hash deal, and any dealt-to-the-wrong-shard or
    // mis-ordered row shifts some emitted prefix.
    QueryDef(
      "q_epoch_shuffle",
      (s, dir) =>
        graft.operators.Sampling.epochShuffle(
            Tables.documents(s, dir).select(col("doc_id")),
            "doc_id", epochs = 2, shards = 8)
          .filter(col("pos") <= 5)
          .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
          .orderBy(col("epoch"), col("shard"), col("pos")),
      Some("""
        WITH dealt AS (
          SELECT doc_id, epoch,
                 CAST(CAST(concat('0x', substr(md5(doc_id || '#' || epoch),
                        1, 15)) AS UBIGINT) % 8 AS INT) AS shard,
                 CAST(concat('0x', substr(md5(doc_id || '@' || epoch),
                        1, 15)) AS UBIGINT) AS ord
          FROM (SELECT doc_id, unnest(range(1, 3)) AS epoch
                FROM documents)),
        positioned AS (
          SELECT epoch, shard, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY epoch, shard
                                    ORDER BY ord, doc_id) AS pos
          FROM dealt)
        SELECT epoch, shard, pos, doc_id
        FROM positioned WHERE pos <= 5
        ORDER BY epoch, shard, pos
      """)),

  )
}

package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sqlList
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Training-data-pipeline extension queries (beyond the reference's
  * surface, per the north star): deduplication, similarity search,
  * and text analytics over `documents`/`embeddings`.
  */
object ExtensionQueries {

  /** Shared oracle SQL: distinct word-3-gram shingles via lead-window
    * (relational twin of Dedup.tokenShingles). Returns the CTE chain
    * WITHOUT the `WITH` keyword so callers can pick `WITH` or
    * `WITH RECURSIVE`.
    */
  private[queries] def shingleCtes(k: Int, src: String = "documents"): String = {
    val leads = (1 until k)
      .map(i => s"lead(word,$i) OVER w").mkString(" || ' ' || ")
    s"""
    words AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS word,
             generate_subscripts(string_split(text,' '), 1) AS pos
      FROM $src),
    sh0 AS (
      SELECT doc_id, word || ' ' || $leads AS shingle
      FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    grams AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL)
    """
  }

  private[queries] def shingleSql(k: Int): String = s" WITH ${shingleCtes(k)}"

  /** Exact Jaccard ≥ 0.8 pairs over 3-gram shingles — oracle for both
    * the exact inverted-index path and the MinHash-LSH path. With 8
    * bands × 4 rows, per-pair recall is 1−(1−j⁴)⁸ — ≈0.985 at exactly
    * j=0.8 and ≈1 at j≥0.95; every planted pair in the testdata sits
    * at j≥0.97, so the paths agree exactly.
    */
  /** CTE chain ending in `j(id_a, id_b, jac)` — exact shingle Jaccard
    * over all candidate pairs (no WITH keyword; see [[shingleCtes]]).
    * `src` is the relation shingled — "documents" for the standalone
    * dedup oracles, a filtered CTE for the q_curate composite.
    */
  private[queries] def jaccardCtesOver(src: String): String = s"""
    ${shingleCtes(3, src)},
    sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT id_a, id_b,
             CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jac
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)"""

  private[queries] val jaccardCtes: String = jaccardCtesOver("documents")

  /** The CurationPipeline replay chain (no WITH keyword; needs
    * RECURSIVE): quarantine filters → 6-dp quality threshold →
    * exact-Jaccard closure over the survivors → `kept(doc_id,
    * source)`, the deduplicated corpus stage 4 consumes. Shared by
    * q_curate / q_curate_ledger / q_curate_mix.
    */
  private[queries] lazy val curateCtes: String = s"""
        valid AS (
          SELECT doc_id, text, source FROM documents
          WHERE text IS NOT NULL AND length(text) >= 1
            AND source IS NOT NULL),
        qparts AS (
          SELECT doc_id,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                   AS len_score,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS diversity,
                 abs(CAST(len(list_filter(string_split(text, ' '),
                         w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.4)
                   AS stop_penalty,
                 CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} ]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) AS punct
          FROM valid),
        good AS (
          SELECT v.doc_id, v.text, v.source
          FROM valid v JOIN qparts p ON p.doc_id = v.doc_id
          WHERE ROUND(p.len_score * 0.3 + p.diversity * 0.3 +
                      (1.0 - p.stop_penalty) * 0.3 +
                      (1.0 - p.punct) * 0.1, 6) >= 0.5),
        ${jaccardCtesOver("good")},
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM j WHERE jac >= 0.8
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM j WHERE jac >= 0.8),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
        labels AS (
          SELECT a AS id, least(a, MIN(b)) AS label FROM reach GROUP BY a),
        kept AS (
          SELECT doc_id, source FROM good
          WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> label))"""

  /** Exact decontamination oracle (docs with doc_id % 10 == 0 play
    * the benchmark) — shared by q_decontaminate and its
    * bloom-prefiltered twin, whose verify join makes the outputs
    * identical by construction.
    */
  private[queries] val decontaminateOracle: String = {
    val leads = (1 until 10)
      .map(i => s"lead(word,$i) OVER w").mkString(" || ' ' || ")
    s"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS word,
             generate_subscripts(string_split(text,' '), 1) AS pos
      FROM documents),
    spans AS (
      SELECT doc_id, pos, md5(word || ' ' || $leads) AS h
      FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    sp AS (SELECT * FROM spans WHERE h IS NOT NULL),
    bench AS (SELECT DISTINCT h FROM sp WHERE doc_id % 10 = 0)
    SELECT doc_id, COUNT(*) AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM sp JOIN bench USING (h)
    WHERE doc_id % 10 <> 0
    GROUP BY doc_id
    ORDER BY doc_id
    """
  }

  private[queries] val jaccardOracle: String = s"""
    WITH $jaccardCtes
    SELECT id_a, id_b, ROUND(jac, 6) AS jaccard
    FROM j WHERE jac >= 0.8
    ORDER BY id_a, id_b
  """

  /** Unigram cross-entropy chain ending in `lm(doc_id, n_tokens,
    * xent)` — the relational twin of UnigramLM.crossEntropy (no WITH
    * keyword). Used by the q_lm_score and q_curriculum oracles.
    */
  private[queries] val lmXentCtes: String = """toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents),
        counts AS (SELECT word, count(*) AS cnt FROM toks GROUP BY 1),
        total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM counts),
        model AS (
          SELECT word, ROUND(-LOG10(CAST(cnt AS DOUBLE) / tot), 9) AS nlp
          FROM counts, total),
        lm AS (
          SELECT t.doc_id, count(*) AS n_tokens,
                 ROUND(CAST(sum(CAST(m.nlp AS DECIMAL(38,12))) AS DOUBLE)
                       / count(*), 6) AS xent
          FROM toks t JOIN model m ON m.word = t.word
          GROUP BY t.doc_id)"""

  /** Same chain plus the symmetrized ≥0.8 edge list (for the
    * connected-components oracle).
    */
  private[queries] val jaccardEdgesCte: String = s"""
    $jaccardCtes,
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM j WHERE jac >= 0.8
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM j WHERE jac >= 0.8)"""

  /** DuckDB replay of Dedup.simhash64 + the band self-join (see the
    * q_dedup_simhash comment). The 64 per-bit majority sums and the
    * signature rebuild are generated here rather than hand-written.
    */
  private[queries] lazy val simhashOracle: String = {
    // BigInt: (1L << 63) would overflow Long to a negative literal
    val bitSums = (0 until 64).map { b =>
      s"SUM(CASE WHEN (h // CAST(${BigInt(1) << b} AS HUGEINT)) % 2 = 1 " +
        s"THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n               ")
    val shTerms = (0 until 64).map { b =>
      s"CASE WHEN s$b > 0 THEN CAST(${BigInt(1) << b} AS HUGEINT) ELSE 0 END"
    }.mkString(" + ")
    s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents),
      fnv AS (
        SELECT doc_id, list_reduce(
          list_prepend(CAST(14695981039346656037 AS HUGEINT),
            list_transform(string_split(t, ''),
              c -> CAST(unicode(c) AS HUGEINT))),
          (h, c) -> (xor(h, c) * CAST(1099511628211 AS HUGEINT))
                    % CAST(18446744073709551616 AS HUGEINT)) AS h
        FROM toks),
      bits AS (SELECT doc_id,
               $bitSums
               FROM fnv GROUP BY doc_id),
      sh AS (SELECT doc_id, $shTerms AS simhash FROM bits),
      bands AS (
        SELECT doc_id, simhash, b.i AS band,
               (simhash // CAST(POWER(2, b.i * 16) AS HUGEINT)) % 65536
                 AS key
        FROM sh, range(0, 4) b(i)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(CAST(a.simhash AS UBIGINT),
                             CAST(b.simhash AS UBIGINT))) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
      FROM pairs WHERE hamming <= 6
      ORDER BY id_a, id_b
    """
  }

  /** DuckDB replay of the q_pagerank lattice: 5-NN edges from
    * 6-dp-rounded squared distances (the q_ann cosine-oracle shape),
    * then ten unrolled contribution/rank CTE pairs in exact integer
    * arithmetic — `//` floor division matches Spark's `div` on the
    * all-positive picounit masses, so the replay is bit-exact, not
    * approximate. SUM(BIGINT) widens to HUGEINT in DuckDB; each
    * iteration casts back so `rank // deg` stays BIGINT.
    */
  /** The unrolled integer-lattice PageRank iteration CTEs r1..rN —
    * shared by every oracle that replays [[graft.operators.PageRank]]
    * (q_pagerank's kNN graph, q_keywords' co-occurrence graph). The
    * surrounding query must define CTEs `edges(src, dst)`,
    * `nodes(id)`, `deg(id, deg)`, `consts(i0, b)`, and `r0(id, rank)`.
    */
  private[queries] def prIterCtes(n: Int): String =
    (1 to n).map { i =>
      s"""c$i AS (
          SELECT e.dst AS id, SUM(r.rank // d.deg) AS s
          FROM edges e
          JOIN r${i - 1} r ON r.id = e.src
          JOIN deg d ON d.id = e.src
          GROUP BY e.dst),
        r$i AS (
          SELECT n.id,
                 CAST((SELECT b FROM consts)
                      + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
          FROM nodes n LEFT JOIN c$i c ON c.id = n.id)"""
    }.mkString(",\n        ")

  private[queries] lazy val pagerankOracle: String = {
    val iters = prIterCtes(10)
    s"""
      WITH dims AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      dd AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND(SUM((a.x - b.x) * (a.x - b.x)), 6) AS d2
        FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id <> b.vec_id
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d2, nid) AS rn
        FROM dd),
      edges AS (SELECT qid AS src, nid AS dst FROM ranked WHERE rn <= 5),
      nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
      consts AS (
        SELECT 1000000000000 // count(*) AS i0,
               (1000000000000 * 15 // 100) // count(*) AS b
        FROM nodes),
      r0 AS (SELECT id, (SELECT i0 FROM consts) AS rank FROM nodes),
      $iters
      SELECT id, rank FROM r10 ORDER BY id
    """
  }

  /** DuckDB replay of q_keywords: top-200-docfreq vocabulary, ±2
    * co-occurrence edges, then the same unrolled PageRank lattice as
    * [[pagerankOracle]] (shared [[prIterCtes]]), top-30 by rank.
    */
  private[queries] lazy val keywordsOracle: String = {
    val iters = prIterCtes(10)
    s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      v200 AS (
        SELECT term FROM dfreq
        ORDER BY df DESC, term LIMIT 200),
      ids AS (
        SELECT term,
               CAST(ROW_NUMBER() OVER (ORDER BY term) AS BIGINT) AS id
        FROM v200),
      vt AS (
        SELECT t.doc_id, t.pos, i.id
        FROM toks t JOIN ids i USING (term)),
      und AS (
        SELECT a.id AS src, b.id AS dst
        FROM vt a JOIN vt b
          ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
        WHERE a.id <> b.id),
      edges AS (
        SELECT DISTINCT src, dst FROM
          (SELECT src, dst FROM und
           UNION ALL SELECT dst AS src, src AS dst FROM und)),
      nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
      deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
      consts AS (
        SELECT 1000000000000 // count(*) AS i0,
               (1000000000000 * 15 // 100) // count(*) AS b
        FROM nodes),
      r0 AS (SELECT id, (SELECT i0 FROM consts) AS rank FROM nodes),
      $iters
      SELECT i.term, r.rank
      FROM r10 r JOIN ids i USING (id)
      ORDER BY r.rank DESC, i.term LIMIT 30
    """
  }

  /** DuckDB replay of q_retrieval_metrics: the q_ann_recall chain
    * (exact brute-force top-5 + deterministic-IVF top-5, both with
    * ranks) followed by hit marking and the integer-lattice MRR/NDCG
    * arithmetic. The discount table and idcg are interpolated from
    * [[graft.operators.Similarity.ndcgDiscountsNano]] — one source of
    * truth for both engines.
    */
  private[queries] lazy val retrievalMetricsOracle: String = {
    val d = graft.operators.Similarity.ndcgDiscountsNano(5)
    val idcg = d.sum
    val discVals =
      d.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
    s"""
      WITH $ivfAssignDerivedCtes,
      edots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               sum(q.x * c.x) AS d
        FROM dims q JOIN dims c ON q.i = c.i
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        GROUP BY 1, 2),
      escored AS (
        SELECT query_id, neighbor_id,
               ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
        FROM edots
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = neighbor_id),
      exact AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rk
          FROM escored) WHERE rk <= 5),
      probes AS (
        SELECT nid AS query_id, cell FROM (
          SELECT nid, cell,
                 ROW_NUMBER() OVER (PARTITION BY nid
                                    ORDER BY csim DESC, cell) AS rn
          FROM asim WHERE nid < 10) WHERE rn <= 4),
      acand AS (
        SELECT p.query_id, a.nid AS neighbor_id
        FROM probes p JOIN asg a ON a.cell = p.cell
        WHERE a.nid <> p.query_id),
      pdots AS (
        SELECT c.query_id, c.neighbor_id, sum(qd.x * nd.x) AS d
        FROM acand c
        JOIN dims qd ON qd.vec_id = c.query_id
        JOIN dims nd ON nd.vec_id = c.neighbor_id AND nd.i = qd.i
        GROUP BY 1, 2),
      pscored AS (
        SELECT query_id, neighbor_id,
               ROUND(d / (nq.nrm * nn.nrm), 6) AS cosine
        FROM pdots
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nn ON nn.vec_id = neighbor_id),
      approx AS (
        SELECT query_id, neighbor_id, rk FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rk
          FROM pscored) WHERE rk <= 5),
      disc(rank, dsc) AS (VALUES $discVals),
      marked AS (
        SELECT a.query_id, a.rk AS rank,
               CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM approx a LEFT JOIN exact e
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id),
      m AS (
        SELECT marked.query_id, SUM(hit) AS hits,
               MIN(CASE WHEN hit = 1 THEN rank END) AS fh,
               SUM(CASE WHEN hit = 1 THEN dsc ELSE 0 END) AS dcg
        FROM marked JOIN disc USING (rank)
        GROUP BY 1)
      SELECT query_id, CAST(hits AS BIGINT) AS hits,
             CAST(COALESCE(1000000 // fh, 0) AS BIGINT) AS mrr_micro,
             CAST((dcg * 1000000000) // $idcg AS BIGINT) AS ndcg_ppb
      FROM m ORDER BY query_id
    """
  }

  /** Shared IVF oracle chain (no WITH keyword): per-dimension explode,
    * L2 norms, the deterministic 16-smallest-ids codebook, per-vector
    * centroid cosines, and the argmax cell assignment `asg(nid, cell)`
    * — the relational twin of Similarity.assignCellsSampledCodebook.
    * Used by the q_ann_recall and q_diversity_sample oracles.
    */
  /** The PQ replay chain (assumes a preceding `dims` CTE): subspace
    * decomposition (m=8 subspaces of 8 dims over the 64-dim
    * embeddings), the 16-donor sub-codebooks, micro-lattice subspace
    * distances (`sdist` — whose query-id restriction is the ADC
    * table), and the per-(id, subspace) argmin encoding. Shared by
    * the q_ann_pq / q_ann_pq_recall / q_ann_ivfpq oracles.
    */
  private[queries] val pqChainCtes: String = """subdims AS (
          SELECT vec_id, (i - 1) // 8 AS j, (i - 1) % 8 AS si, x
          FROM dims),
        cb AS (
          SELECT vec_id AS donor,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code
          FROM (SELECT DISTINCT vec_id FROM embeddings
                ORDER BY vec_id LIMIT 16)),
        cdims AS (
          SELECT cb.code, s.j, s.si, s.x
          FROM cb JOIN subdims s ON s.vec_id = cb.donor),
        sdist AS (
          SELECT s.vec_id AS id, s.j, c.code,
                 CAST(ROUND(SUM((s.x - c.x) * (s.x - c.x)) * 1e6)
                   AS BIGINT) AS dmicro
          FROM subdims s
          JOIN cdims c ON c.j = s.j AND c.si = s.si
          GROUP BY 1, 2, 3),
        enc AS (
          SELECT id, j, code FROM (
            SELECT id, j, code,
                   ROW_NUMBER() OVER (PARTITION BY id, j
                                      ORDER BY dmicro, code) AS rn
            FROM sdist) WHERE rn = 1)"""

  /** The shared IVF assignment replay with the codebook CTE
    * (`cent(cell)`) supplied by the caller. Every consumer now runs
    * the DERIVED-nlist codebook ([[ivfAssignDerivedCtes]]); the seam
    * stays so a spec or future query can pin an explicit codebook.
    */
  private[queries] def ivfAssignCtesWithCent(centSql: String): String = s"""dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        cent AS ($centSql),
        -- cosine of every corpus vector to every centroid
        adots AS (
          SELECT v.vec_id AS nid, c.vec_id AS cell, sum(v.x * c.x) AS d
          FROM dims v
          JOIN dims c ON c.i = v.i
          JOIN cent ON c.vec_id = cent.cell
          GROUP BY 1, 2),
        asim AS (
          SELECT nid, cell, ROUND(d / (nv.nrm * nc.nrm), 6) AS csim
          FROM adots
          JOIN norms nv ON nv.vec_id = nid
          JOIN norms nc ON nc.vec_id = cell),
        -- corpus assignment: argmax csim, ties to the smaller cell
        asg AS (
          SELECT nid, cell FROM (
            SELECT nid, cell,
                   ROW_NUMBER() OVER (PARTITION BY nid
                                      ORDER BY csim DESC, cell) AS rn
            FROM asim) WHERE rn = 1)"""

  /** The DERIVED-nlist chain: codebook size = GREATEST(16,
    * CEIL(n/128)) from the corpus count — the exact
    * Similarity.derivedNlist rule every kNN-family consumer applies
    * (cellBlockedTopK auto mode, the ANN query family, q_dbscan's
    * ε-graph, ModalAlign.mutualTop1Blocked over the even∪odd towers
    * = all of embeddings), replayed so the oracle stays faithful at
    * ANY scale factor, not just the ones where the derivation lands
    * on 16.
    */
  private[queries] lazy val ivfAssignDerivedCtes: String = ivfAssignCtesWithCent(
    """SELECT vec_id AS cell FROM (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
            FROM embeddings)
          WHERE rn <= (SELECT GREATEST(16, CAST(CEIL(count(*) / 128.0)
                                               AS BIGINT))
                       FROM embeddings)""")

  /** DuckDB replay of [[graft.functions.Hyperplane]] — the random-
    * hyperplane LSH kernel behind `q_ann_lsh` — plus the (table,
    * bucket) candidate join and exact cosine re-rank, making the LSH
    * ANN path fully hash-checked (the same move that oracled SimHash:
    * replay the exact bit-level hash in HUGEINT with explicit
    * mod-2^64).
    *
    * Determinism notes:
    *  - splitmix64's two 64×64-bit wrapping multiplies would overflow
    *    even HUGEINT (2^128), so the oracle multiplies via a 32-bit
    *    split: (a·b) mod 2^64 = ((a÷2^32·b mod 2^32)·2^32 + (a mod
    *    2^32)·b) mod 2^64 — every intermediate < 2^97.
    *  - the projection weight ((mix >>> 11)/2^53 − 0.5) is exactly
    *    representable (numerator an integer ≤ 2^53, power-of-two
    *    denominator), so both engines compute bit-identical doubles.
    *  - each dot product is folded in dimension order via
    *    `list_reduce(list(term ORDER BY d))`, matching the Scala
    *    kernel's sequential loop exactly — the bucket sign bits are
    *    reproduced bit-for-bit, not approximately.
    *  - the re-rank reuses the q_ann_topk cosine shape (unordered SUM,
    *    rounded to 6 decimals before ranking).
    */
  private[queries] lazy val lshOracle: String = {
    def u(x: Long): String =
      s"CAST(${java.lang.Long.toUnsignedString(x)} AS HUGEINT)"
    val m64 = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
    // (a*b) mod 2^64 with a < 2^64 and b a 64-bit constant, HUGEINT-safe
    def mulMod(a: String, b: String): String =
      s"((($a) // 4294967296 * $b % 4294967296) * 4294967296" +
        s" + ($a) % 4294967296 * $b) % $m64"
    val bits = 4
    val tables = 8
    val nPlanes = bits * tables
    val seed = u(0x5eedL)
    val planeK = u(0x100000001b3L)
    val dimK = u(0x27d4eb2f165667c5L)
    val golden = u(0x9e3779b97f4a7c15L)
    val mixC1 = u(0xbf58476d1ce4e5b9L)
    val mixC2 = u(0x94d049bb133111ebL)
    s"""
      WITH dims AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               CAST(generate_subscripts(embedding, 1) - 1 AS HUGEINT) AS d
        FROM embeddings),
      -- splitmix64(seed + plane·K1 + dim·K2) per (plane, dimension);
      -- dimension ids come from the data itself (range() can't take a
      -- subquery bound in DuckDB)
      dimids AS (SELECT DISTINCT d FROM dims),
      wz1 AS (
        SELECT p.p, dimids.d,
               ($seed + CAST(p.p AS HUGEINT) * $planeK
                + dimids.d * $dimK + $golden) % $m64 AS z1
        FROM range(0, $nPlanes) p(p), dimids),
      wz2 AS (SELECT p, d,
              ${mulMod("xor(z1, z1 // 1073741824)", mixC1)} AS z2 FROM wz1),
      wz3 AS (SELECT p, d,
              ${mulMod("xor(z2, z2 // 134217728)", mixC2)} AS z3 FROM wz2),
      wt AS (
        SELECT p, CAST(d AS HUGEINT) AS d,
               CAST(xor(z3, z3 // 2147483648) // 2048 AS DOUBLE)
                 / 9007199254740992.0 - 0.5 AS w
        FROM wz3),
      -- dot products folded in dimension order (bit-exact vs Scala)
      dterms AS (
        SELECT dm.vec_id, wt.p, dm.d, dm.x * wt.w AS term
        FROM dims dm JOIN wt ON wt.d = dm.d),
      dots AS (
        SELECT vec_id, p,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                        list(term ORDER BY d)),
                           (a, b) -> a + b) AS dot
        FROM dterms GROUP BY vec_id, p),
      -- pack sign bits: table = p // bits, bit = p % bits
      buckets AS (
        SELECT vec_id, p // $bits AS tbl,
               SUM(CASE WHEN dot >= 0
                        THEN CAST(1 AS BIGINT) << CAST(p % $bits AS INTEGER)
                        ELSE 0 END) AS bucket
        FROM dots GROUP BY 1, 2),
      qb AS (SELECT vec_id AS query_id, tbl, bucket
             FROM buckets WHERE vec_id < 10),
      cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM qb q JOIN buckets c ON c.tbl = q.tbl AND c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id),
      norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
      cdots AS (
        SELECT cd.query_id, cd.neighbor_id, sum(qd.x * nd.x) AS dt
        FROM cand cd
        JOIN dims qd ON qd.vec_id = cd.query_id
        JOIN dims nd ON nd.vec_id = cd.neighbor_id AND nd.d = qd.d
        GROUP BY 1, 2),
      scored AS (
        SELECT query_id, neighbor_id,
               ROUND(dt / (nq.nrm * nc.nrm), 6) AS cosine
        FROM cdots
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, cosine, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank
    """
  }

  private[queries] def docTokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TextFunctions.splitWords(col("text")).as("tokens"))

  /** 8×-expanded token corpus for the dedup AT-SCALE witness
    * (VERDICT r15 #3, the MinHash twin of q_ann_ivf_scale's rotated
    * embeddings): replica `c` of doc `i` gets id `i*8+c` and every
    * token salted with `~c` (replica 0 keeps the original text).
    * Token-level salting is a bijection on the token alphabet, so
    * within a replica every pairwise Jaccard is EXACTLY the base
    * corpus's, while across replicas no shingle ever collides — the
    * expanded corpus has 8× the docs and exactly 8× the near-dup
    * pairs, the clean linear scaling a ledger can be checked against.
    * Exactly SQL-replayable: both engines apply the same split →
    * append → rejoin string transform.
    */
  private[graft] def dedupScaleTokens(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(7))).as("c"))
      .select((col("doc_id") * 8 + col("c")).as("doc_id"),
        when(col("c") === 0, col("text"))
          .otherwise(array_join(
            transform(TextFunctions.splitWords(col("text")),
              w => concat(w, lit("~"), col("c").cast("string"))), " "))
          .as("text"))
      .select(col("doc_id"), TextFunctions.splitWords(col("text")).as("tokens"))

  /** The BENCH `dedup_scale` ledger row (n_bucket_rows,
    * n_hot_buckets, n_candidates) over the expanded corpus — the
    * measured counterpart of the linear-candidate claim, collected
    * once per bench run outside the timed region.
    */
  private[graft] def dedupScaleCandidateLedger(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Dedup.minhashCandidateLedger(
      graft.operators.Dedup.shingleSets(
        dedupScaleTokens(s, dir), "doc_id", "tokens", 3),
      bands = 8, rowsPerBand = 4)

  /** Cosine top-k oracle via unnest/ordinality joins, computed in
    * DOUBLE (DuckDB's list_cosine_similarity is float — not
    * hash-safe), rounded to 6 decimals like the Spark side.
    */
  private[queries] def annOracle(queryPred: String, rankLimit: Int): String = s"""
    WITH dims AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             sum(q.x * c.x) AS d
      FROM dims q JOIN dims c ON q.i = c.i
      WHERE $queryPred
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
      FROM dots
      JOIN norms nq ON nq.vec_id = query_id
      JOIN norms nc ON nc.vec_id = neighbor_id
      WHERE query_id <> neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= $rankLimit
    ORDER BY query_id, rank
  """

  /** All extension queries, in the original registration order. The
    * QueryDef bodies live in seven pure-move slice files (round 16,
    * VERDICT r15 #5); this object keeps the shared oracle-CTE helpers.
    */
  val all: Seq[QueryDef] =
    ExtensionDedupQueries.all ++
      ExtensionAnnQueries.all ++
      ExtensionCurationQueries.all ++
      ExtensionGovernanceQueries.all ++
      ExtensionInferenceQueries.all ++
      ExtensionGraphStatsQueries.all ++
      ExtensionNonparamQueries.all

  /** The deterministic messy-URL derivation shared by the q_url_* /
    * q_domain_* queries: every canonicalization rule gets exercised
    * (case, www, default port, doubled slashes, trailing slash,
    * tracking params, param order, fragments) from (doc_id, source)
    * alone, so both engines build the identical raw string.
    */
  private[queries] lazy val derivedUrl: org.apache.spark.sql.Column =
    concat(
      lit("HTTPS://"),
      when(pmod(col("doc_id"), lit(3L)) === 0, lit("WWW."))
        .otherwise(lit("")),
      // the extra label that makes the PSL cases non-degenerate:
      // a.{source}.github.io must resolve to {source}.github.io
      when(pmod(col("doc_id"), lit(11L)) === 0, lit("A."))
        .otherwise(lit("")),
      upper(col("source")),
      when(pmod(col("doc_id"), lit(13L)) === 0, lit(".PVT.K12.MA.US"))
        .when(pmod(col("doc_id"), lit(11L)) === 0, lit(".GITHUB.IO"))
        .when(pmod(col("doc_id"), lit(5L)) === 0, lit(".CO.UK:443"))
        .otherwise(lit(".COM")),
      lit("//pages//"), pmod(col("doc_id"), lit(7L)),
      when(pmod(col("doc_id"), lit(2L)) === 0,
          lit("/?utm_source=feed&b=2&a=1"))
        .otherwise(lit("?b=2&utm_campaign=x&a=1")),
      when(pmod(col("doc_id"), lit(6L)) === 0, lit("#frag"))
        .otherwise(lit("")))

  /** The DuckDB replay of [[derivedUrl]] + UrlOps.canonicalizeUrl +
    * UrlOps.registrableDomain, shared by the three URL oracles. Ends
    * in `canon(doc_id, n_chars, host, domain, canonical)`.
    */
  private[queries] lazy val urlCanonCtes: String = raw"""
        raw AS (
          SELECT doc_id, n_chars,
                 'HTTPS://'
                   || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN 'A.' ELSE '' END
                   || upper(source)
                   || CASE WHEN doc_id % 13 = 0 THEN '.PVT.K12.MA.US'
                           WHEN doc_id % 11 = 0 THEN '.GITHUB.IO'
                           WHEN doc_id % 5 = 0 THEN '.CO.UK:443'
                           ELSE '.COM' END
                   || '//pages//' || CAST(doc_id % 7 AS VARCHAR)
                   || CASE WHEN doc_id % 2 = 0
                           THEN '/?utm_source=feed&b=2&a=1'
                           ELSE '?b=2&utm_campaign=x&a=1' END
                   || CASE WHEN doc_id % 6 = 0 THEN '#frag'
                           ELSE '' END AS url
          FROM documents),
        nf AS (
          SELECT doc_id, n_chars,
                 regexp_replace(url, '#.*$$', '') AS u
          FROM raw),
        parts AS (
          SELECT doc_id, n_chars,
                 lower(regexp_extract(u,
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(u,
                   '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest,
                 regexp_extract(u, '\?([^#]*)', 1) AS query
          FROM nf),
        hostp AS (
          SELECT *,
                 regexp_replace(regexp_replace(
                   lower(regexp_extract(rest, '^([^/?]*)', 1)),
                   '^[^@]*@', ''), '^www\.', '') AS hostport
          FROM parts),
        hp2 AS (
          SELECT *,
                 regexp_replace(hostport, ':[0-9]+$$', '') AS host,
                 regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
                 regexp_replace(regexp_extract(rest,
                   '^[^/?]*([^?]*)', 1), '/{2,}', '/', 'g') AS cp
          FROM hostp),
        pq AS (
          SELECT *,
                 CASE WHEN cp = '' THEN '/'
                      WHEN cp <> '/' THEN regexp_replace(cp, '/$$', '')
                      ELSE cp END AS path,
                 array_to_string(list_sort(list_filter(
                   string_split(query, '&'),
                   x -> x <> '' AND NOT regexp_matches(x,
                     '^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_eid|ref|igshid)='))),
                   '&') AS q
          FROM hp2),
        dom AS (
          SELECT *, string_split(host, '.') AS ls,
                 len(string_split(host, '.')) AS hn
          FROM pq),
        -- the PSL rule base, generated from the SAME loader the Spark
        -- expression reads (PublicSuffixes.oracleValuesSql): mstr =
        -- the string the host's trailing mk labels must equal, publen
        -- = resulting public-suffix label count, pri = precedence
        -- (exceptions 10000, else publen - longest suffix wins)
        pslr(mstr, mk, publen, pri) AS (VALUES
            ${graft.functions.PublicSuffixes.oracleValuesSql}),
        pmatch AS (
          SELECT d.doc_id,
                 COALESCE(
                   MAX(CASE WHEN p.pri >= 10000 THEN p.publen END),
                   MAX(p.publen), 1) AS publen
          FROM dom d LEFT JOIN pslr p
            ON p.mk <= d.hn
           AND array_to_string(d.ls[d.hn - p.mk + 1 : d.hn], '.')
               = p.mstr
          GROUP BY d.doc_id),
        canon AS (
          SELECT d.doc_id, d.n_chars, d.host,
                 CASE WHEN d.hn <= pm.publen + 1 THEN d.host
                      ELSE array_to_string(
                             d.ls[d.hn - pm.publen : d.hn], '.')
                 END AS domain,
                 scheme || '://' || host
                   || CASE WHEN port <> ''
                            AND NOT ((scheme = 'http' AND port = '80')
                                     OR (scheme = 'https'
                                         AND port = '443'))
                           THEN ':' || port ELSE '' END
                   || path
                   || CASE WHEN q <> '' THEN '?' || q ELSE '' END
                   AS canonical
          FROM dom d JOIN pmatch pm ON pm.doc_id = d.doc_id)"""

  /** DECOMPOSED "cafe\u0301 A\u030A" — e and A followed by combining
    * marks (acute, ring), so NFC composition shortens the suffix by
    * exactly 2 characters. Built from explicit escapes (a source-file
    * literal would itself be precomposed and make the witness
    * vacuous) and interpolated into BOTH the Spark literal and the
    * oracle SQL so the engines see identical bytes.
    */
  private[queries] lazy val decomposedSuffix: String = " cafe\u0301 A\u030A"

  /** The Wilcoxon signed-rank replay shared by q_wilcoxon_signed and
    * its streaming twin: pairs (n_chars, 5 \u00D7 whitespace tokens) per
    * doc, zero differences dropped, |d| on the doubled average-rank
    * lattice, exact integer W2\u207A/E2/var_num, one IEEE sequence for
    * the continuity-corrected z.
    */
  private[queries] lazy val wilcoxonOracle: String = """
        WITH d0 AS (
          SELECT source,
                 5 * CAST(len(string_split(text, ' ')) AS BIGINT)
                   - n_chars AS d
          FROM documents),
        d AS (SELECT source, d, abs(d) AS a FROM d0 WHERE d <> 0),
        ranked AS (
          SELECT source, d,
                 2 * RANK() OVER (PARTITION BY source ORDER BY a)
                   + COUNT(*) OVER (PARTITION BY source, a) - 1 AS r2
          FROM d),
        ties AS (
          SELECT source, CAST(SUM(t * t * t - t) AS BIGINT) AS tie
          FROM (SELECT source, a, count(*) AS t FROM d GROUP BY 1, 2)
          GROUP BY 1),
        st AS (
          SELECT r.source, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(CASE WHEN r.d > 0 THEN r.r2 ELSE 0 END)
                   AS BIGINT) AS w2_plus
          FROM ranked r GROUP BY 1),
        ed AS (
          SELECT st.source, st.n_pairs, st.w2_plus,
                 st.n_pairs * (st.n_pairs + 1) // 2 AS e2,
                 2 * st.n_pairs * (st.n_pairs + 1)
                   * (2 * st.n_pairs + 1) - ties.tie AS var_num
          FROM st JOIN ties USING (source))
        SELECT source, n_pairs, w2_plus, e2, var_num,
               CAST(ROUND(
                 (CASE WHEN w2_plus > e2
                       THEN CAST(w2_plus - e2 - 1 AS DOUBLE)
                       WHEN w2_plus < e2
                       THEN CAST(w2_plus - e2 + 1 AS DOUBLE)
                       ELSE 0.0 END
                  / sqrt(CAST(var_num AS DOUBLE) / 12.0))
                 * 1000000.0) AS BIGINT) AS z_micro
        FROM ed
        WHERE var_num > 0
        ORDER BY source
      """

  /** Shared NB oracle: the training half of the chain (no WITH
    * keyword) — model fit on docs with doc_id % 5 <> 0, label =
    * lang, Laplace add-one, integer micro-log lattice. Mirrors
    * [[graft.operators.NaiveBayes.fit]] exactly.
    */
  private[queries] lazy val nbTrainCtes: String = """
        tr AS (
          SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
        ttoks AS (
          SELECT lang AS label, unnest(string_split(text, ' ')) AS term
          FROM tr),
        tcnt AS (
          SELECT label, term, count(*) AS cnt FROM ttoks GROUP BY 1, 2),
        ttot AS (
          SELECT label, CAST(sum(cnt) AS BIGINT) AS tokens
          FROM tcnt GROUP BY 1),
        tvoc AS (SELECT count(DISTINCT term) AS v FROM tcnt),
        tnd AS (SELECT lang AS label, count(*) AS n_docs FROM tr GROUP BY 1),
        tn AS (SELECT count(*) AS n FROM tr),
        classes AS (
          SELECT t.label, d.n_docs, t.tokens,
                 CAST(ROUND(log10(CAST(d.n_docs AS DOUBLE)
                   / CAST((SELECT n FROM tn) AS DOUBLE)) * 1000000.0)
                   AS BIGINT) AS prior_micro,
                 CAST(ROUND(log10(1.0
                   / CAST(t.tokens + (SELECT v FROM tvoc) AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS default_micro
          FROM ttot t JOIN tnd d USING (label)),
        terms AS (
          SELECT c.label, v.term,
                 CAST(ROUND(log10(CAST(COALESCE(tc.cnt, 0) + 1 AS DOUBLE)
                   / CAST(c.tokens + (SELECT v FROM tvoc) AS DOUBLE))
                   * 1000000.0) AS BIGINT) - c.default_micro AS delta_micro
          FROM (SELECT DISTINCT term FROM tcnt) v
          CROSS JOIN classes c
          LEFT JOIN tcnt tc ON tc.label = c.label AND tc.term = v.term)"""

  /** Shared NB oracle: the scoring half (continues [[nbTrainCtes]];
    * no WITH keyword) — ends in `best(doc_id, label, score_micro,
    * rn)` with rn = 1 the argmax row. Mirrors
    * [[graft.operators.NaiveBayes.scores]]/classify. `pred` selects
    * the scored population (held-out fifth for q_nb_*; everything
    * for the streaming twin).
    */
  private[queries] def nbClassifyCtesOver(pred: String): String = s"""
        te AS (
          SELECT doc_id, lang, text FROM documents WHERE $pred),
        dterms AS (
          SELECT doc_id, term, count(*) AS dcnt FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM te) GROUP BY 1, 2),
        dn AS (
          SELECT doc_id, CAST(sum(dcnt) AS BIGINT) AS n_d
          FROM dterms GROUP BY 1),
        seen AS (
          SELECT d.doc_id, m.label, sum(d.dcnt * m.delta_micro) AS seen_sum
          FROM dterms d JOIN terms m ON m.term = d.term
          GROUP BY 1, 2),
        sc AS (
          SELECT dn.doc_id, c.label,
                 CAST(c.prior_micro + dn.n_d * c.default_micro
                      + COALESCE(s.seen_sum, 0) AS BIGINT) AS score_micro
          FROM dn CROSS JOIN classes c
          LEFT JOIN seen s ON s.doc_id = dn.doc_id AND s.label = c.label),
        best AS (
          SELECT doc_id, label, score_micro,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score_micro DESC, label) AS rn
          FROM sc)"""

  /** The retrieval query batch shared by q_bm25 / q_query_likelihood /
    * q_rrf_fusion / q_mmr: docs with doc_id % 97 == 0 play the
    * queries, query terms = the DISTINCT tokens among each query
    * doc's first 8 positions.
    */
  private[queries] def retrievalQueryTerms(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
      .select(col("doc_id").as("query_id"),
        explode(slice(col("tokens"), 1, 8)).as("term"))
      .distinct()

  /** Shared retrieval oracle base (no WITH): tokenization, per-doc
    * lengths, tf/df, corpus totals, and the query batch — the common
    * prefix of every retrieval oracle.
    */
  /** Shared exact full-pairwise cosine oracle prefix (no WITH
    * keyword): all-pairs `scored(qa, qb, cos)` plus the exact-3NN
    * `ranked`/`e` tail. Since round 10 the kNN-graph queries ride
    * [[cellKnnEdgeCtes]] instead (cell-bounded candidates); this
    * stays only for the farthest-point diversity replay, whose
    * semantics genuinely need the full pairwise `scored`.
    */
  /** Cell-blocked twin of [[knnEdgeCtes]]: replays
    * Similarity.cellBlockedTopK(k=3) — the shared IVF sampled-codebook
    * assignment ([[ivfAssignDerivedCtes]]), within-cell pairwise cosines,
    * per-query rank ≤ 3, undirected canonicalization — ending in the
    * same `scored(qa, qb, cos)` / `ranked(qa, qb, rn)` / `e(id_a,
    * id_b)` names so graph-query continuations are interchangeable.
    * This is the scale-shaped generator: candidates are cell-bounded,
    * never corpus², and the oracle replays cell assignment exactly as
    * q_dbscan's does.
    */
  private[queries] lazy val cellKnnEdgeCtes: String = s"""$ivfAssignDerivedCtes,
        cpairs AS (
          SELECT a.nid AS qa, b.nid AS qb
          FROM asg a JOIN asg b ON a.cell = b.cell AND a.nid <> b.nid),
        cdots AS (
          SELECT p.qa, p.qb, sum(da.x * db.x) AS d
          FROM cpairs p
          JOIN dims da ON da.vec_id = p.qa
          JOIN dims db ON db.vec_id = p.qb AND db.i = da.i
          GROUP BY 1, 2),
        scored AS (
          SELECT qa, qb, ROUND(d / (na.nrm * nb.nrm), 6) AS cos
          FROM cdots
          JOIN norms na ON na.vec_id = qa
          JOIN norms nb ON nb.vec_id = qb),
        ranked AS (
          SELECT qa, qb,
                 ROW_NUMBER() OVER (PARTITION BY qa
                                    ORDER BY cos DESC, qb) AS rn
          FROM scored),
        e AS (
          SELECT DISTINCT least(qa, qb) AS id_a, greatest(qa, qb) AS id_b
          FROM ranked WHERE rn <= 3)"""

  private[queries] lazy val knnEdgeCtes: String = """
        dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        dots AS (
          SELECT a.vec_id AS qa, b.vec_id AS qb, sum(a.x * b.x) AS d
          FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        scored AS (
          SELECT qa, qb, ROUND(d / (na.nrm * nb.nrm), 6) AS cos
          FROM dots
          JOIN norms na ON na.vec_id = qa
          JOIN norms nb ON nb.vec_id = qb),
        ranked AS (
          SELECT qa, qb,
                 ROW_NUMBER() OVER (PARTITION BY qa
                                    ORDER BY cos DESC, qb) AS rn
          FROM scored),
        e AS (
          SELECT DISTINCT least(qa, qb) AS id_a, greatest(qa, qb) AS id_b
          FROM ranked WHERE rn <= 3)"""

  private[queries] def retrievalCtes: String = """
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        tot AS (SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                         AS avgdl
                FROM dl),
        ctot AS (SELECT COUNT(*) AS c FROM toks),
        qterms AS (
          SELECT DISTINCT doc_id AS query_id, term FROM toks
          WHERE doc_id % 97 = 0 AND pos <= 8)"""

  /** BM25 scoring chain → `bm25_ranked` (two-stage lattice; mirrors
    * [[graft.operators.Bm25.scoreTopK]] and the q_bm25 oracle).
    */
  private[queries] def bm25ScoredCtes: String = """
        bm25_contrib AS (
          SELECT q.query_id, t.doc_id,
                 CAST(ROUND(
                   CAST(CAST(ROUND(
                     log10(1.0 + (CAST(tot.n_docs AS DOUBLE)
                                  - CAST(df.df AS DOUBLE) + 0.5)
                                 / (CAST(df.df AS DOUBLE) + 0.5))
                     * 1e6) AS BIGINT) AS DOUBLE)
                   * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
                     / (CAST(t.tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                               / tot.avgdl))
                   * 1e3) AS BIGINT) AS c_nano
          FROM qterms q
          JOIN tf t ON t.term = q.term
          JOIN df ON df.term = q.term
          JOIN dl ON dl.doc_id = t.doc_id
          CROSS JOIN tot
          WHERE t.doc_id <> q.query_id),
        bm25_scores AS (
          SELECT query_id, doc_id,
                 CAST(sum(c_nano) AS BIGINT) AS score_nano
          FROM bm25_contrib GROUP BY 1, 2),
        bm25_ranked AS (
          SELECT query_id, doc_id, score_nano,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score_nano DESC, doc_id)
                   AS rank
          FROM bm25_scores)"""

  /** Dirichlet query-likelihood chain → `ql_ranked` (µ=2000; mirrors
    * [[graft.operators.QueryLikelihood.scoreTopK]]: every log10
    * snaps alone to the micro lattice, µ·p is recomputed from the
    * exact (cf, C) integers at each use).
    */
  private[queries] def qlScoredCtes: String = """
        cf AS (SELECT term, COUNT(*) AS cf FROM toks GROUP BY 1),
        qlmodel AS (
          SELECT cf.term, cf.cf,
                 CAST(ROUND(log10(2000.0 * (CAST(cf.cf AS DOUBLE)
                   / CAST(ctot.c AS DOUBLE))) * 1e6) AS BIGINT) AS l1
          FROM cf CROSS JOIN ctot),
        qt AS (
          SELECT q.query_id, q.term, m.cf, m.l1
          FROM qterms q JOIN qlmodel m ON m.term = q.term),
        qconst AS (
          SELECT query_id, CAST(SUM(l1) AS BIGINT) AS qc,
                 COUNT(*) AS qlen
          FROM qt GROUP BY 1),
        qlmatch AS (
          SELECT qt.query_id, t.doc_id, dl.dl,
                 CAST(ROUND(log10(CAST(t.tf AS DOUBLE)
                     + 2000.0 * (CAST(qt.cf AS DOUBLE)
                                 / CAST(ctot.c AS DOUBLE))) * 1e6)
                   AS BIGINT) - qt.l1 AS delta
          FROM qt
          JOIN tf t ON t.term = qt.term
          JOIN dl ON dl.doc_id = t.doc_id
          CROSS JOIN ctot
          WHERE t.doc_id <> qt.query_id),
        qlperdoc AS (
          SELECT query_id, doc_id, CAST(SUM(delta) AS BIGINT) AS md,
                 MAX(dl) AS dl
          FROM qlmatch GROUP BY 1, 2),
        ql_scores AS (
          SELECT p.query_id, p.doc_id,
                 CAST(q.qc + p.md
                      - q.qlen * CAST(ROUND(log10(CAST(p.dl AS DOUBLE)
                          + 2000.0) * 1e6) AS BIGINT)
                   AS BIGINT) AS score_micro
          FROM qlperdoc p JOIN qconst q USING (query_id)),
        ql_ranked AS (
          SELECT query_id, doc_id, score_micro,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score_micro DESC, doc_id)
                   AS rank
          FROM ql_scores)"""

  /** The MMR greedy loop as 5 unrolled pick CTEs over the BM25
    * top-10 candidates (λ = 7/10, token-set Jaccard sims, integer
    * lattices throughout — mirrors [[graft.operators.Mmr.rerank]]
    * stage for stage). Ends with `su5` = all five picks.
    */
  /** MATERIALIZED everywhere (VERDICT r15 #1): DuckDB 1.0 inlines a
    * CTE at every reference, so the 4 unrolled pick stages (each
    * referencing cnorm, sims and the running su set ~3×) re-ran the
    * whole BM25 pipeline ~15× — 474 s of the sweep's 1,003 s oracle
    * replay at sf0.01. Forcing one evaluation per CTE is semantics-
    * free (same rows, bit-for-bit — judge-style exact compare held)
    * and drops the replay to ~0.1 s.
    */
  private[queries] def mmrPickCtes: String = {
    val base = """
        cand AS MATERIALIZED (
          SELECT query_id, doc_id, score_nano AS rel
          FROM bm25_ranked WHERE rank <= 10),
        bounds AS (
          SELECT query_id, MIN(rel) AS lo, MAX(rel) AS hi
          FROM cand GROUP BY 1),
        cnorm AS MATERIALIZED (
          SELECT c.query_id, c.doc_id,
                 CASE WHEN b.hi = b.lo THEN CAST(1000000 AS BIGINT)
                      ELSE CAST(ROUND(CAST(c.rel - b.lo AS DOUBLE) * 1e6
                             / CAST(b.hi - b.lo AS DOUBLE)) AS BIGINT)
                 END AS rel_micro
          FROM cand c JOIN bounds b USING (query_id)),
        cdocs AS MATERIALIZED (SELECT DISTINCT doc_id FROM cand),
        ctoks AS MATERIALIZED (
          SELECT DISTINCT t.doc_id, t.term
          FROM toks t JOIN cdocs USING (doc_id)),
        csizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM ctoks GROUP BY 1),
        ihalf AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ix
          FROM ctoks a
          JOIN ctoks b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        shalf AS MATERIALIZED (
          SELECT i.d1, i.d2,
                 CAST(ROUND(CAST(i.ix AS DOUBLE) * 1e6
                   / CAST(s1.sz + s2.sz - i.ix AS DOUBLE)) AS BIGINT)
                   AS sim
          FROM ihalf i
          JOIN csizes s1 ON s1.doc_id = i.d1
          JOIN csizes s2 ON s2.doc_id = i.d2),
        sims AS MATERIALIZED (
          SELECT d1, d2, sim FROM shalf
          UNION ALL
          SELECT d2 AS d1, d1 AS d2, sim FROM shalf),
        p1 AS MATERIALIZED (
          SELECT query_id, doc_id, 7 * rel_micro AS mmr_score, 1 AS pick
          FROM (SELECT cnorm.*,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY rel_micro DESC, doc_id)
                         AS rn
                FROM cnorm)
          WHERE rn = 1),
        su1 AS MATERIALIZED (SELECT * FROM p1)"""
    val stages = (2 to 5).map { i =>
      val prev = s"su${i - 1}"
      s"""
        sc$i AS (
          SELECT r.query_id, r.doc_id,
                 7 * r.rel_micro
                   - 3 * COALESCE(MAX(s.sim), CAST(0 AS BIGINT))
                   AS mmr_score
          FROM cnorm r
          JOIN $prev u ON u.query_id = r.query_id
          LEFT JOIN sims s ON s.d1 = r.doc_id AND s.d2 = u.doc_id
          WHERE NOT EXISTS (SELECT 1 FROM $prev x
                            WHERE x.query_id = r.query_id
                              AND x.doc_id = r.doc_id)
          GROUP BY r.query_id, r.doc_id, r.rel_micro),
        p$i AS MATERIALIZED (
          SELECT query_id, doc_id, mmr_score, $i AS pick
          FROM (SELECT sc$i.*,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY mmr_score DESC, doc_id)
                         AS rn
                FROM sc$i)
          WHERE rn = 1),
        su$i AS MATERIALIZED (SELECT * FROM ${if (i == 2) "p1" else s"su${i - 1}"}
                 UNION ALL SELECT * FROM p$i)"""
    }.mkString(",", ",", "")
    base + stages
  }
}

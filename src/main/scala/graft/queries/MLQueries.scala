package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions
import graft.operators.{Log10IDF, StratifiedSplit, TrimmedCountVectorizer}
import org.apache.spark.sql.functions._

/** ML operator queries (SURVEY §2.8) built from the engine's library
  * components: exact stratified split (M1), decision tree + confusion
  * matrix (M3/M4 via TrimmedCountVectorizer A3), k-means (M8), PCA
  * (M10). Only the split is SQL-expressible (its per-class sizes are
  * exactly ceil(p·n)); the trainers get rows-only checks.
  */
object MLQueries {

  /** Pinned sf0.01 t-SNE embedding — generated from this query's own
    * bit-reproducible output (StrictMath solver, verified identical
    * at local[8] and local[32]); see q_tsne's comment. */
  private lazy val tsneOracle: Option[String] = Some("""
        SELECT CAST(vec_id AS BIGINT) AS vec_id,
               CAST(tsne_x_micro AS BIGINT) AS tsne_x_micro,
               CAST(tsne_y_micro AS BIGINT) AS tsne_y_micro
        FROM (VALUES
          (0, -11826268, -3111877), (1, -2594256, -7396112), (2, 10813634, -7029435),
          (4, 142998, -4089663), (7, 5412885, 2470021), (8, 4024903, 1345438),
          (9, -3868587, 5106052), (10, 1993983, -5471170), (12, 3882697, -1574082),
          (14, -4216439, -2843309), (18, -4082425, -5516498), (19, -9294695, -2913668),
          (22, -12267139, 4901687), (23, -1589380, -12609835), (26, -3283306, 1033482),
          (27, -2179965, -7132254), (28, 9917269, 8031798), (32, 529619, -12195385),
          (33, 13079978, 3143317), (35, 5908263, -4914602), (36, 2104182, 1742403),
          (37, 551820, 11041680), (39, 3761283, 1443623), (41, 1960158, 6340934),
          (42, 1136570, 317965), (43, -688767, -3274966), (44, 2090007, -5671338),
          (45, 4338208, -11602272), (46, 11784543, 590931), (47, -5191670, 7429425),
          (48, -5847884, 4364016), (50, -43521, 12014224), (53, 8203188, 4754340),
          (54, -1111478, -9782444), (56, -5263857, -3011118), (57, 7647429, 8310545),
          (58, 7394084, 8074429), (59, 10504623, 252505), (60, -5883679, 4716646),
          (61, 5689738, 11335897), (64, -4302194, -7195140), (65, -5660213, 1523230),
          (66, 9602944, 1325317), (67, -6581883, 3006035), (68, -3923662, 2822884),
          (69, -2221390, 6644071), (70, -5839504, 8552203), (72, 7905714, -3282675),
          (73, -7200070, -6313928), (75, -2222797, 3974826), (76, -10562298, 4222480),
          (79, -2442197, -3451921), (81, 3138014, 3230809), (82, 6728814, 6346390),
          (83, -142540, 1392964), (86, -12132822, 1080757), (87, -9286501, -3050323),
          (91, -456503, 12365630), (92, -3533416, -374591), (95, 11310627, -3815909),
          (96, 1485750, 3080580), (97, -6440441, 5748595), (98, -795169, 4590901),
          (99, 7812549, 1658972), (103, -598017, -10958339), (104, -5439852, 8221739),
          (105, -442995, -1806296), (106, 10220958, -3089168), (108, 2907263, -7727577),
          (110, -5630568, 9665994), (111, -202052, -1907555), (113, -7558488, -2262291),
          (115, 12168707, -901109), (117, 10991829, -6978587), (118, -2700838, 12348008),
          (119, -7203105, -10925189), (120, -3705917, -5330277), (121, 1396701, -3676194),
          (122, -10080489, 3276293), (123, -9277626, -195621), (124, 7413218, -8005311),
          (128, 6491038, 632892), (129, -2973163, 7507024), (131, 6770258, 7303591),
          (133, -8492986, 3322305), (135, -4294954, 10729102), (137, -6289318, -7136606),
          (138, 3210967, 957332), (140, 106103, -1278770), (145, 9483145, -6130028),
          (146, -4222343, -3038898), (147, -9817285, 7026707), (149, -813719, 8610986),
          (150, 2972272, 1032908), (151, -1531468, 2641007), (154, 8342331, -8651028),
          (155, -4160054, -13078965), (157, -4727825, -806183), (159, -1494361, -4870848),
          (161, 2910864, -863887), (162, -3087575, 959846), (163, 3465860, -10795119),
          (167, 11688825, -3537058), (168, -3102888, 1993312), (173, 5425967, 1178326),
          (175, 4461990, 4480245), (176, 5091032, -6797524), (177, -6916062, -2654203),
          (179, 9379271, 2867981), (180, 11635411, -162253), (181, -4932083, -5782946),
          (183, 4871750, -9345940), (184, -5080111, 2424730), (186, -6107596, 5115882),
          (187, 3392839, -3965907), (188, 9256226, -8545763), (190, 2471983, -7136102),
          (191, -12509074, 3560381), (192, 2312573, -2328760), (195, -199641, -8498773),
          (196, 6883759, -3225089), (199, 2381221, 9635294), (200, 544674, -12167381),
          (202, -1662605, -5001096), (203, -4115450, 4125381), (204, 8102719, 8637515),
          (206, 7424982, -11331140), (208, -12599567, -1999841), (210, -5871100, 8966564),
          (213, 5656844, 8954391), (216, -3986138, -9670510), (219, 10228693, 4929815),
          (220, -1560129, 2272223), (221, -9596989, -5252489), (222, 2541184, -10667653),
          (224, 6436688, -1765473), (231, 7064998, -5888297), (232, 2953089, -7796607),
          (233, -1203769, 10097710), (234, 7549258, 4990078), (235, -419964, -8134199),
          (237, 3439012, -5626831), (238, -5511220, -9536229), (239, -3089158, 9143154),
          (241, 224462, 4605479), (242, 13164482, 3627073), (248, 5693310, -7181044),
          (249, -619165, 249384), (251, -4846122, -680230), (252, 3170597, 3512754),
          (253, 3436505, 6522099), (255, 4594365, 170710), (256, -2191560, 3910017),
          (257, -793419, -3846341), (260, -3889648, 6087820), (261, -1820789, 1108795),
          (262, -10499534, 497917), (263, 285532, 8831921), (264, 2353496, -13589874),
          (265, 11899153, -625236), (268, -2380824, 278072), (269, -8273832, -4949765),
          (270, 10567648, 5168850), (271, -5585202, -3202730), (274, 4361182, 4412273),
          (275, -1358181, 4163749), (277, 4349806, 4371016), (279, 13131737, 3462496),
          (280, 257013, -5498945), (281, 3637667, -2526649), (284, -8993118, 6642516),
          (285, -5432804, -5496769), (287, -5535459, -9488093), (288, -9531152, 462361),
          (290, -1446687, 5825089), (294, 2945038, 8460133), (295, 501820, 9148746),
          (296, 6022872, 10100106), (297, 4452875, -1723795), (298, 3763972, 11049694),
          (300, 8040122, 4507516), (302, 11201274, -4065392), (304, 5140297, -3571812),
          (306, -12071721, 1059905), (308, 5546986, 5813315), (309, -5279331, -11025503),
          (311, 2879042, 12674294), (314, -7573073, 1648150), (315, 2509727, 9782914),
          (316, 622436, -7648881), (317, 93526, -8675668), (318, 6845734, 3652012),
          (319, 2484268, 4650532), (321, -875207, 6618745), (322, -4255037, -9588735),
          (325, -1471439, 5978808), (326, 5978893, -3320635), (327, -9051505, -689463),
          (329, -3102474, -1475250), (330, 7977667, 1279818), (331, -1332910, 5716204),
          (332, -9113645, 2243241), (336, 5343089, -8568522), (337, 3735137, -11086644),
          (338, 1505891, -1797987), (339, -6590775, 3082174), (340, -8413183, -4600471),
          (341, -7508843, 11376807), (343, -2903471, 8912553), (345, 7763413, -5892685),
          (346, 2118678, 72965), (347, 3699729, -5601896), (348, 1025238, -13452927),
          (351, 5909049, -4983294), (355, -10323297, -6540058), (356, 270666, 12085912),
          (357, -9313851, 5670919), (359, -9495808, 1091845), (360, 132907, 7758237),
          (361, 1569290, 9257313), (362, -2024393, -2174759), (363, 704522, 4699050),
          (364, 8940042, -2033721), (365, -11901256, -2970655), (367, -9073476, -8560085),
          (370, 9460920, 3269442), (371, -1324683, -755477), (374, 1189956, 5204132),
          (375, -5134313, 2330600), (376, 977539, 304734), (380, 3935600, 2512885),
          (381, -9675869, -4056056), (385, 3075650, 6336266), (386, -2745358, -8270300),
          (388, 1701345, -9009312), (389, -50375, 2096527), (390, 5431883, -675688),
          (392, 5700242, -2604193), (393, -6377, 1124883), (394, -4656502, 10492834),
          (395, 7308565, -12058140), (396, 4390550, 286960), (397, -8829198, 3516760),
          (399, 4947233, -9111583), (401, 3570181, 6695231), (402, 2765560, -1268746),
          (404, -1046059, -9707068), (406, 1381764, -1876795), (407, -2933863, -6957160),
          (411, -7231458, -2382744), (412, 3316699, -3950402), (414, -4132349, 4214506),
          (415, -7143836, -16139), (420, 1367100, 3645055), (422, -7567810, 6916324),
          (426, -1196196, 7958544), (430, 9475946, 4584247), (431, -12530991, 3684680),
          (433, -4620557, 821776), (434, -6295325, -7126230), (436, 6888334, -795093),
          (437, 1168551, 6410861), (438, -7015361, -6388879), (443, -1711109, -692754),
          (444, -6887672, 6633091), (447, 5062167, -1555224), (449, 3771146, 8666055),
          (450, 8145469, -6143037), (451, -4250753, -675421), (453, 8077555, 686305),
          (454, -7118118, 23846), (455, -5483124, -1049632), (456, 6640886, 7030435),
          (457, 7389206, -11726307), (459, 418263, -5647736), (460, -3951370, -11652655),
          (461, 1329154, -9104230), (463, 7841491, -3246325), (465, 8802927, -6293607),
          (466, -6247651, -8380512), (467, 5192100, 8507571), (468, -8909227, 2952939),
          (470, 367090, 2687937), (472, 3042981, 7569402), (473, -9168899, 6565981),
          (474, -7495161, 11341305), (475, 8438737, 5825839), (476, -11230473, 8828186),
          (478, 8366326, -1018185), (480, -2461888, -3596959), (482, -7623407, 8261522),
          (483, 6583787, 3346639), (484, -10181691, -6277565), (485, -2967519, -8690205),
          (486, -5921087, -4460285), (489, -3995905, 5514828), (491, -1213596, 12274016),
          (492, -810713, -5838042), (493, -4162989, -13143765), (499, -2290554, 8831224))
          AS t(vec_id, tsne_x_micro, tsne_y_micro)
        ORDER BY vec_id
      """)

  val all: Seq[QueryDef] = Seq(

    // M1 — exact stratified 70/30 split, seed 32984 (the reference's
    // createDataPartition seed, R:137). Train size per class is exactly
    // ceil(0.7·n) — which is what makes this oracle-checkable.
    QueryDef(
      "q_split_proportions",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        StratifiedSplit.withSplitFlag(docs, "lang", 0.7, 32984L)
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
            sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"))
          .orderBy(col("lang"))
      },
      Some("""
        SELECT lang, COUNT(*) AS n_total,
               CAST(CEIL(0.7 * COUNT(*)) AS BIGINT) AS n_train,
               COUNT(*) - CAST(CEIL(0.7 * COUNT(*)) AS BIGINT) AS n_test
        FROM documents
        GROUP BY lang
        ORDER BY lang
      """)),

    // M3/M4 — decision-tree classifier on trimmed count vectors
    // (binary: lang == 'en'), stratified split, confusion matrix (A7).
    // rpart semantics honored (R:178): grow deep (maxDepth=8), then
    // weakest-link cost-complexity prune at cp=0.02 (TreePruning) —
    // cp, not a depth cap, is the capacity control, closing SURVEY H2.
    // DuckDB trains no trees; the oracle PINS the sf0.01 fixture's 2×2
    // (the q_pca_variance pinned-constant move). The r14 pin desynced
    // because MLlib's tree fit is partition-layout-dependent (sampled
    // bins + float partial aggregation); the fit here is
    // [[DeterministicCart]] instead — exact integer split statistics,
    // total tie-break order — so every stage of the chain (content-
    // hashed split, tf-desc/term-asc vocabulary, exact CART, exact
    // weakest-link prune) is provably layout-invariant and the pin
    // holds at ANY parallelism (DeterministicCartSpec shuffles the
    // layout and asserts the identical tree). NOTE: re-pin from this
    // query's own output if the fixture ever changes.
    QueryDef(
      "q_confusion",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            TextFunctions.splitWords(col("text")).as("tokens"))
        val cv = new TrimmedCountVectorizer()
          .setInputCol("tokens").setOutputCol("features")
          .setMinDocFreq(2).setMinTermFreq(2)
        val featurized = cv.fit(docs).transform(docs)
          .withColumn("label", (col("lang") === "en").cast("double"))
        // shards pinned (NOT the shuffle-partition default): split
        // MEMBERSHIP depends on the shard count, and this query's
        // oracle pins the 2×2 — membership must be a function of
        // (seed, data) alone, identical at local[4] and local[32].
        val (train, test) =
          StratifiedSplit.split(featurized, "label", 0.7, 32984L,
            shards = 64)
        val fitted = graft.operators.DeterministicCart.fit(
          train, "features", "label", maxDepth = 8)
        val model = graft.operators.TreePruning.pruneCp(fitted, 0.02)
        model.transform(test)
          .groupBy(col("prediction"), col("label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prediction"), col("label"))
      },
      Some("""
        SELECT CAST(prediction AS DOUBLE) AS prediction,
               CAST(label AS DOUBLE) AS label,
               CAST(n AS BIGINT) AS n
        FROM (VALUES
          (0.0, 0.0, 56), (0.0, 1.0, 50),
          (1.0, 0.0, 28), (1.0, 1.0, 15)) AS t(prediction, label, n)
        ORDER BY prediction, label
      """)),

    // M5-M7 as vectors — TF (L1) ∘ Log10IDF over trimmed count
    // vectors; returns per-doc L2 norm of the tf-idf vector, which IS
    // SQL-expressible: with the default (1,1) trim the vocabulary is
    // every split token, so the norm is sqrt(Σ ((cnt/doc_total) ·
    // log10(N/df))²) over the q_tfidf cell values. To make the hash
    // order-independent (Spark folds the vector in slot order, DuckDB
    // SUMs in arbitrary order) each cell is snapped to a 1e-9 lattice
    // first; the squares and their sum are then exact integers
    // (DECIMAL in Spark, HUGEINT in DuckDB), so both engines feed the
    // SAME exact value into sqrt (IEEE-correctly-rounded, build
    // independent). Per-cell 9-dp rounding also absorbs libm log10
    // ulps — same policy as q_lm_score's UnigramLM decimal lattice.
    QueryDef(
      "q_tfidf_vectors",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextFunctions.splitWords(col("text")).as("tokens"))
        val cv = new TrimmedCountVectorizer()
          .setInputCol("tokens").setOutputCol("counts")
        val counted = cv.fit(docs).transform(docs)
        val tf = new org.apache.spark.ml.feature.Normalizer()
          .setInputCol("counts").setOutputCol("tf").setP(1.0)
          .transform(counted)
        val idf = new Log10IDF().setInputCol("counts").setOutputCol("x")
        // fit on counts (df = nonzero slots), apply to TF vectors
        val idfModel = idf.fit(tf)
        idfModel.setInputCol("tf").setOutputCol("tfidf")
        // L2 norm via the MLlib array bridge + Catalyst aggregate —
        // keeps the norm math codegen'd instead of a Scala UDF. Cells
        // are snapped to integer nanounits (x·1e9, exact in double up
        // to |x| < 2^53/1e9) so the sum of squares is exact DECIMAL
        // arithmetic, immune to fold order.
        idfModel.transform(tf)
          .withColumn("__cells",
            org.apache.spark.ml.functions.vector_to_array(col("tfidf")))
          .select(col("doc_id"),
            round(
              sqrt(expr(
                """CAST(aggregate(__cells, CAST(0 AS DECIMAL(38,0)),
                  |  (acc, x) -> acc
                  |    + CAST(round(x * 1e9) AS DECIMAL(19,0))
                  |    * CAST(round(x * 1e9) AS DECIMAL(19,0)))
                  |  AS DOUBLE)""".stripMargin)) / lit(1e9),
              6).as("tfidf_l2"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH counts AS (
          SELECT doc_id, word, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents)
          GROUP BY doc_id, word),
        df AS (SELECT word, COUNT(*) AS df FROM counts GROUP BY word),
        tot AS (SELECT doc_id, SUM(cnt) AS tot FROM counts GROUP BY doc_id),
        cells AS (
          SELECT c.doc_id,
                 (CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE))
                   * LOG10(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                           / CAST(df.df AS DOUBLE)) AS cell
          FROM counts c
          JOIN tot t ON t.doc_id = c.doc_id
          JOIN df ON df.word = c.word)
        SELECT d.doc_id,
               ROUND(sqrt(CAST(COALESCE(
                       SUM(CAST(ROUND(cell * 1e9) AS HUGEINT)
                           * CAST(ROUND(cell * 1e9) AS HUGEINT)), 0)
                     AS DOUBLE)) / 1e9, 6) AS tfidf_l2
        FROM documents d LEFT JOIN cells ON cells.doc_id = d.doc_id
        GROUP BY d.doc_id
        ORDER BY d.doc_id
      """)),

    // M8 — k-means on the embeddings table: deterministic Lloyd's
    // iterations (k=10, 3 steps) from the sampled-codebook init, all
    // arithmetic on the exact micro lattice, so cluster sizes AND
    // training cost hash-match a generated-CTE DuckDB replay (the
    // q_coreset/q_pagerank unroll precedent — this was a no_oracle
    // row through r12). The reference's nstart=50 best-of-restarts
    // is served by this one deterministic init: 50 seeded restarts
    // could not be replayed by the oracle.
    QueryDef(
      "q_kmeans_cost",
      (s, dir) =>
        graft.operators.LloydKMeans.fitSummary(
            Tables.embeddings(s, dir), "vec_id", "embedding",
            k = 10, iters = 3)
          .orderBy(col("cluster")),
      Some(s"""
        WITH ${lloydCtes(10, 3)}
        SELECT cell AS cluster, COUNT(*) AS size,
               CAST(SUM(dist) AS BIGINT) AS cost_micro2
        FROM af GROUP BY 1
        ORDER BY cluster
      """)),

    // M9 — t-SNE (R:318-322), the real thing rather than the PCA-2D
    // substitute: exact seeded t-SNE (operators.Tsne) over a
    // deterministic content-hash sample. DuckDB cannot replay 300
    // coupled gradient iterations — but it doesn't have to: the
    // solver is BIT-reproducible across environments (StrictMath
    // transcendentals, strict FP on Java 17+, spec-pinned
    // nextGaussian, content-hash sample order — Tsne scaladoc), so
    // the oracle PINS the sf0.01 fixture's micro-snapped embedding,
    // closing the engine's LAST no_oracle row (the q_pca_variance
    // move; TsneSpec additionally pins cluster preservation and
    // cross-partitioning determinism). NOTE: re-pin via
    // tools/ (this query's own output) if the fixture, seed, or
    // iteration count ever changes.
    QueryDef(
      "q_tsne",
      (s, dir) =>
        graft.operators.Tsne.embedSampled(
            Tables.embeddings(s, dir), "vec_id", "embedding",
            maxRows = 300, perplexity = 25, iterations = 300)
          .select(col("vec_id"),
            round(col("tsne_x") * lit(1e6)).cast("long")
              .as("tsne_x_micro"),
            round(col("tsne_y") * lit(1e6)).cast("long")
              .as("tsne_y_micro"))
          .orderBy(col("vec_id")),
      tsneOracle),

    // M10 — standardized PCA explained variance, the DETERMINISTIC
    // spectral path (operators.SpectralPca: exact integer moments →
    // driver-side correlation eigen — a pure function of the parquet
    // bytes, proven repartition-stable). That determinism is what
    // lets the oracle PIN the sf0.01 fixture's spectrum as constants
    // (the q_tokenize_icu shared-constant precedent; this was a
    // no_oracle row through r12) — the driver compare now guards the
    // scan → exact-moments → eigen chain end to end. The MLlib
    // StandardScaler+PCA chain remains the fidelity path in
    // OkCupidPipeline (zero-var guard, quirk Q7). NOTE: the pinned
    // VALUES are the sf0.01 verify fixture's spectrum; re-pin via
    // SpectralPcaSpec's printout if the fixture ever changes.
    QueryDef(
      "q_pca_variance",
      (s, dir) =>
        graft.operators.SpectralPca.explainedVariance(
            Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
          .orderBy(col("component")),
      Some("""
        SELECT * FROM (VALUES
          (0, 0.027272), (1, 0.026912), (2, 0.026504), (3, 0.025643),
          (4, 0.025003), (5, 0.024863), (6, 0.023848), (7, 0.022975))
          AS t(component, explained_variance)
        ORDER BY component
      """)),

    // Exact ROC AUC on the SAME click-score → purchase framing as
    // q_lift_curve: the threshold-free ranking number — computed via
    // the Mann-Whitney midrank identity without ever forming
    // pos×neg pairs; doubled midranks keep everything exact integers
    // to one micro-edge division, ties handled by definition
    // (Calibration.auc scaladoc).
    QueryDef(
      "q_auc",
      (s, dir) => {
        val users = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "click", 1L)
            .otherwise(0L)).as("score"),
            max(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("y"))
          .withColumn("grp", lit("all"))
        graft.operators.Calibration.auc(
          users, "grp", col("y") === 1, "score")
      },
      Some("""
        WITH u AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                          ELSE 0 END) AS BIGINT) AS s,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS y
          FROM events GROUP BY 1),
        pv AS (
          SELECT 'all' AS grp, s, CAST(SUM(y) AS BIGINT) AS pv,
                 CAST(count(*) AS BIGINT) AS lv
          FROM u GROUP BY 1, 2),
        m AS (
          SELECT grp, pv, lv,
                 SUM(lv) OVER (PARTITION BY grp ORDER BY s
                   ROWS UNBOUNDED PRECEDING) - lv AS cb
          FROM pv),
        a AS (
          SELECT grp, CAST(SUM(pv) AS BIGINT) AS n_pos,
                 CAST(SUM(lv) - SUM(pv) AS BIGINT) AS n_neg,
                 SUM(CAST(pv AS HUGEINT) * (2 * cb + lv + 1)) AS r2
          FROM m GROUP BY 1)
        SELECT grp, n_pos, n_neg,
               CAST(ROUND(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                   AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                 * 1e6) AS BIGINT) AS auc_micro
        FROM a
        WHERE n_pos > 0 AND n_neg > 0
      """)),

    // Cumulative lift/gains at user deciles: rank users by click
    // volume, ask what multiple of the base purchase rate the top
    // deciles capture — the targeting-eval readout under every
    // "act on the top X%" decision (campaign sizing, review-queue
    // budgets). Deciles from ntile over the (score DESC, user_id)
    // total order — deterministic in both engines; counts and
    // cumulative sums exact, lift/gain at the ppm edge
    // (Calibration.liftCurve scaladoc).
    QueryDef(
      "q_lift_curve",
      (s, dir) => {
        val users = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "click", 1L)
            .otherwise(0L)).as("score"),
            max(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("y"))
        graft.operators.Calibration.liftCurve(
            users, "score", "user_id", col("y") === 1, k = 10)
          .orderBy(col("bucket"))
      },
      Some("""
        WITH u AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN event_type = 'click' THEN 1
                          ELSE 0 END) AS BIGINT) AS score,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS y
          FROM events GROUP BY 1),
        b AS (
          SELECT ntile(10) OVER (ORDER BY score DESC, user_id ASC)
                   AS bucket,
                 y
          FROM u),
        pb AS (
          SELECT CAST(bucket AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS pos
          FROM b GROUP BY 1),
        c AS (
          SELECT *,
                 CAST(SUM(n) OVER wo AS BIGINT) AS cum_n,
                 CAST(SUM(pos) OVER wo AS BIGINT) AS cum_pos,
                 CAST(SUM(n) OVER () AS BIGINT) AS totn,
                 CAST(SUM(pos) OVER () AS BIGINT) AS totpos
          FROM pb
          WINDOW wo AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING))
        SELECT bucket, n, pos, cum_n, cum_pos,
               (cum_pos * 1000000) // totpos AS gain_ppm,
               CAST(ROUND(CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)
                 / (CAST(totpos AS DOUBLE) / CAST(totn AS DOUBLE))
                 * 1e6) AS BIGINT) AS lift_ppm
        FROM c
        WHERE totpos > 0
        ORDER BY bucket
      """))
  )

  /** The DuckDB replay of [[graft.operators.LloydKMeans.fitSummary]]
    * — `iters` Lloyd steps unrolled as generated CTEs (assign →
    * re-center → keep-empty), every quantity on the same micro
    * lattice the Spark operator uses. Ends in `af(id, cell, dist)`,
    * the final assignment with its exact integer distance².
    */
  private def lloydCtes(k: Int, iters: Int): String = {
    val init = s"""dims AS (
          SELECT vec_id AS id, generate_subscripts(embedding, 1) AS i,
                 CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6)
                      AS BIGINT) AS xm
          FROM embeddings
          WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        c0 AS (
          SELECT d.id AS cell, d.i, d.xm AS cm FROM dims d
          WHERE d.id IN (SELECT vec_id FROM embeddings
                         ORDER BY vec_id LIMIT $k))"""
    val steps = (1 to iters).map { t =>
      s""",
        d$t AS (
          SELECT d.id, c.cell,
                 SUM((d.xm - c.cm) * (d.xm - c.cm)) AS dist
          FROM dims d JOIN c${t - 1} c ON c.i = d.i GROUP BY 1, 2),
        a$t AS (
          SELECT id, cell FROM (
            SELECT id, cell, ROW_NUMBER() OVER (
              PARTITION BY id ORDER BY dist, cell) AS rn
            FROM d$t) WHERE rn = 1),
        u$t AS (
          SELECT a.cell, d.i,
                 CAST(ROUND(CAST(SUM(d.xm) AS DOUBLE) / COUNT(*))
                      AS BIGINT) AS cm
          FROM a$t a JOIN dims d ON d.id = a.id GROUP BY 1, 2),
        c$t AS (
          SELECT p.cell, p.i, COALESCE(u.cm, p.cm) AS cm
          FROM c${t - 1} p
          LEFT JOIN u$t u ON u.cell = p.cell AND u.i = p.i)"""
    }.mkString
    init + steps + s""",
        df AS (
          SELECT d.id, c.cell,
                 SUM((d.xm - c.cm) * (d.xm - c.cm)) AS dist
          FROM dims d JOIN c$iters c ON c.i = d.i GROUP BY 1, 2),
        af AS (
          SELECT id, cell, dist FROM (
            SELECT id, cell, dist, ROW_NUMBER() OVER (
              PARTITION BY id ORDER BY dist, cell) AS rn
            FROM df) WHERE rn = 1)"""
  }
}

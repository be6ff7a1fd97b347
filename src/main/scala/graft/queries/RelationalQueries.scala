package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Generic relational capability queries (scan / filter / agg / join /
  * top-k) over the TPC-H-ish testdata. The reference itself has no
  * relational joins (SURVEY §2.3) — these exercise the engine surface
  * a user gets for free from Spark, tuned for scale: predicate + column
  * pushdown to the parquet scan, broadcast joins for small dimensions,
  * partial (map-side) aggregation before the shuffle.
  *
  * Money arithmetic runs in exact DECIMAL and is cast to DOUBLE only at
  * the result edge so the DuckDB oracle hashes identically.
  */
object RelationalQueries {

  private val dec = DecimalType(18, 2)
  private val dec4 = DecimalType(18, 4)

  /** Scratch dir for the storage-layout queries, keyed by the sf dir:
    * a Verify at one sf and a Bench at another must never overwrite
    * each other's table data.
    */
  private def layoutBase(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_layout_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)

  /** Dialect-neutral Q1 text: runs verbatim in BOTH Spark SQL and
    * DuckDB — shared by q1_agg's oracle and q_sql_q1's Spark side.
    */
  private val q1Sql = """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """

  val all: Seq[QueryDef] = Seq(

    // The SQL front-end, end to end: register the testdata as temp
    // views and run the EXACT oracle text through spark.sql — one
    // string, two engines, hash-identical results. This is the API a
    // SQL-first user of the engine gets (Tables.registerAll), checked
    // with the same rigor as the DataFrame surface.
    QueryDef(
      "q_sql_q1",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql(q1Sql)
      },
      Some(q1Sql)),

    // TPC-H Q1-style pricing summary: scan → filter (pushed to parquet)
    // → partial+final hash agg on 2 low-cardinality keys → tiny sort.
    QueryDef(
      "q1_agg",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast(dec)).cast("double")
              .as("sum_base_price"),
            sum(col("l_extendedprice").cast(dec) *
                (lit(1).cast(dec) - col("l_discount").cast(dec4)))
              .cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(q1Sql)),

    // Top-k without a global sort: Spark plans TakeOrderedAndProject,
    // which holds only k rows per partition then k at the driver.
    QueryDef(
      "q_topk_orders",
      (s, dir) =>
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(10),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
      """)),

    // Fact-to-fact shuffle join (lineitem⋈orders on the natural key)
    // then a broadcast join to the small customer dimension; revenue
    // per market segment. At 100 TB the lineitem⋈orders join shuffles
    // on orderkey (or is co-located if both are bucketed by it);
    // customer stays broadcast.
    QueryDef(
      "q_join_agg",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"),
            (col("l_extendedprice").cast(dec) *
              (lit(1).cast(dec) - col("l_discount").cast(dec4)))
              .as("disc_price"))
        val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        val cust = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(
            sum(col("disc_price")).cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)),

    // The same logical join under hot-key salting (SkewJoin): events
    // fact ⋈ customer dim on user_id, hot users spread over 8 salts.
    // Salting must never change WHICH rows match — the oracle is the
    // plain SQL join. Threshold 50 is INTENTIONALLY below the mean
    // per-user event count at sf0.01+ (~67), so nearly every key goes
    // hot: the query exercises the salted rewrite's WORST case (full
    // key-domain collect + isin routing + salts× dim replication)
    // under the oracle, while at sf0.001 no key qualifies and the
    // plain-join degradation path is checked instead. Production
    // thresholds should be a multiple of the mean (see
    // SkewJoin.hotKeys); this is a correctness fixture, not a tuning
    // example.
    QueryDef(
      "q_skew_join",
      (s, dir) => {
        val ev = Tables.events(s, dir).select("user_id", "value")
        val cust = Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")
        graft.operators.SkewJoin.saltedInnerJoin(
            ev, cust, "user_id", "c_custkey", salts = 8,
            hotThreshold = 50L)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(dec)).cast("double").as("sum_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
      """)),

    // Hierarchical totals in ONE pass: rollup emits (priority, status),
    // per-priority and grand-total rows from a single shuffle — the
    // alternative (three groupBys + union) scans and shuffles thrice.
    QueryDef(
      "q_rollup_orders",
      (s, dir) =>
        Tables.orders(s, dir)
          .rollup(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec)).cast("double")
              .as("sum_price"))
          .orderBy(col("o_orderpriority").asc_nulls_first,
            col("o_orderstatus").asc_nulls_first),
      Some("""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders
        GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
      """)),

    // ntile quartiles per priority (deterministic tie-break on the
    // key), folded to per-bucket stats — the distribution-summary
    // window shape. One shuffle on the partition key serves both the
    // window and (via partial agg) the groupBy.
    QueryDef(
      "q_ntile_orders",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .groupBy(col("o_orderpriority"), col("quartile"))
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
          .orderBy(col("o_orderpriority"), col("quartile"))
      },
      Some("""
        WITH q AS (
          SELECT o_orderpriority,
                 NTILE(4) OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey)
                   AS quartile,
                 o_totalprice
          FROM orders)
        SELECT o_orderpriority, quartile, COUNT(*) AS n,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM q
        GROUP BY o_orderpriority, quartile
        ORDER BY o_orderpriority, quartile
      """)),

    // Analytic-window breadth on one pass: running delta to the
    // previous order (lag), cumulative distribution, and dense rank —
    // all over the same (priority, price, key) ordering, so ONE
    // exchange + sort serves all three window functions.
    QueryDef(
      "q_window_funcs",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_orderkey"),
            col("o_totalprice"))
          .withColumn("delta_prev",
            col("o_totalprice") - lag(col("o_totalprice"), 1).over(w))
          .withColumn("cume", cume_dist().over(w))
          .withColumn("drank", dense_rank().over(w).cast("long"))
          .orderBy(col("o_orderpriority"), col("o_totalprice"),
            col("o_orderkey"))
      },
      Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               o_totalprice - lag(o_totalprice, 1) OVER w AS delta_prev,
               cume_dist() OVER w AS cume,
               dense_rank() OVER w AS drank
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderpriority, o_totalprice, o_orderkey
      """)),

    // Set operations (distinct semantics in both engines): customers
    // who placed both URGENT and 2-HIGH orders but never a 5-LOW one.
    // The key is o_custkey (not nationkey): at ~10 orders/customer the
    // intersect-minus-except is non-empty at every SF (15 rows at
    // sf0.001, 166 at sf0.01, 1510 at sf0.1), so the oracle hash
    // actually witnesses the set semantics — a coarser key emptied
    // out above sf0.001 and passed vacuously.
    QueryDef(
      "q_setops",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
        def prio(v: String) = ord.filter(col("o_orderpriority") === v)
          .select(col("o_custkey"))
        prio("1-URGENT").intersect(prio("2-HIGH"))
          .except(prio("5-LOW"))
          .orderBy(col("o_custkey"))
      },
      Some("""
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
        ORDER BY o_custkey
      """)),

    // Full cube over the same pair: all four grouping sets from one
    // Expand + one shuffle.
    QueryDef(
      "q_cube_orders",
      (s, dir) =>
        Tables.orders(s, dir)
          .cube(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(dec)).cast("double")
              .as("sum_price"))
          .orderBy(col("o_orderpriority").asc_nulls_first,
            col("o_orderstatus").asc_nulls_first),
      Some("""
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderpriority, o_orderstatus)
        ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
      """)),

    // Exact interpolated percentiles (not approx sketches): both
    // engines use the standard (n-1)·p rank interpolation; a 3-dp
    // round at the edge absorbs last-ulp divergence, which is safe
    // because the true values are multiples of 0.001 (2-dp prices,
    // tenth-valued interpolation fractions) — never near a rounding
    // boundary.
    QueryDef(
      "q_percentiles",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(
            round(expr("percentile(o_totalprice, 0.5)"), 3).as("p50"),
            round(expr("percentile(o_totalprice, 0.9)"), 3).as("p90"),
            count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority")),
      Some("""
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 3) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 3) AS p90,
               COUNT(*) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)),

    // The 100 TB quantile path: approx_percentile's GK sketch
    // partial-aggregates map-side and merges associatively, where
    // exact percentile gathers every group value. Like
    // q_distinct_sketch, the HASHED column is the accuracy-bound
    // check (the approx p50 must land within the exact p40–p60
    // band — far looser than the sketch's rank guarantee of
    // n/1000), because the raw estimate depends on merge order at
    // scale; the exact band itself is the engine-proven exact
    // percentile.
    QueryDef(
      "q_quantile_sketch",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .agg(
            round(expr("percentile(o_totalprice, 0.4)"), 3).as("__lo"),
            round(expr("percentile(o_totalprice, 0.6)"), 3).as("__hi"),
            expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__ap"),
            count(lit(1)).as("n"))
          .select(col("o_orderpriority"), col("n"),
            (col("__ap") >= col("__lo") && col("__ap") <= col("__hi"))
              .as("approx_in_band"))
          .orderBy(col("o_orderpriority")),
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n, TRUE AS approx_in_band
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)),

    // Explicit GROUPING SETS with grouping_id — the middle ground
    // between rollup and cube (pick exactly the sets you pay for:
    // here (priority, status), (priority), ()); one Expand + one
    // shuffle, same as cube. grouping_id disambiguates natural NULLs
    // from subtotal rows — the reason the function exists.
    QueryDef(
      "q_grouping_sets",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""
          SELECT o_orderpriority, o_orderstatus,
                 CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT)
                   AS gid,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
          FROM orders
          GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                  (o_orderpriority), ())
          ORDER BY gid, o_orderpriority NULLS FIRST,
                   o_orderstatus NULLS FIRST
        """)
      },
      Some("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT)
                 AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
      """)),

    // RANGE-framed sliding sum: value-based frames (all orders whose
    // key lies within 1000 of the current row's), not row-counted —
    // the frame semantics ROWS BETWEEN cannot express. One exchange
    // on the partition key; exact-decimal interior, double at the
    // edge (q1_agg policy).
    QueryDef(
      "q_range_frame",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
          .rangeBetween(-1000L, 0L)
        // the sliding DECIMAL frame is the expensive operator here:
        // (a) an explicit-width repartition on the window key keeps
        // AQE from coalescing the 5-key window to ONE task (measured
        // 6.3 s single-task; the key count bounds parallelism at any
        // scale — that bound is the query's semantics), and (b) the
        // eager pin before the final sort stops the range-exchange
        // sampling pass from re-executing the whole window (measured
        // as a second, discarded 1.9 s window stage)
        val par = s.sparkContext.defaultParallelism
        Tables.orders(s, dir)
          .repartition(par, col("o_orderpriority"))
          .select(col("o_orderpriority"), col("o_orderkey"),
            sum(col("o_totalprice").cast(dec)).over(w)
              .cast("double").as("trailing_sum"))
          .transform(graft.operators.Par.pin)
          .orderBy(col("o_orderpriority"), col("o_orderkey"))
      },
      Some("""
        SELECT o_orderpriority, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_orderpriority ORDER BY o_orderkey
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS trailing_sum
        FROM orders
        ORDER BY o_orderpriority, o_orderkey
      """)),

    // FULL OUTER join, non-vacuous on BOTH sides: BUILDING customers
    // without orders surface with NULL counts, and ordering customers
    // outside the segment surface with NULL segment rows.
    QueryDef(
      "q_full_outer",
      (s, dir) => {
        val bc = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val oc = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        bc.join(oc, bc("c_custkey") === oc("o_custkey"), "full_outer")
          .select(
            coalesce(bc("c_custkey"), oc("o_custkey")).as("custkey"),
            bc("c_custkey").isNotNull.as("in_segment"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .orderBy(col("custkey"))
      },
      Some("""
        SELECT COALESCE(bc.c_custkey, oc.o_custkey) AS custkey,
               bc.c_custkey IS NOT NULL AS in_segment,
               COALESCE(oc.n_orders, 0) AS n_orders
        FROM (SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING') bc
        FULL JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                   FROM orders GROUP BY o_custkey) oc
          ON bc.c_custkey = oc.o_custkey
        ORDER BY custkey
      """)),

    // Pearson correlation of quantity vs price per return flag — the
    // classic second-moment statistic with an EXACT interior: all five
    // sums run in DECIMAL (order-independent), the only floats are the
    // final sqrt (IEEE-correctly-rounded in every engine, unlike log)
    // and one division, applied in one written order and rounded to 6
    // dp. Single map-side-combined aggregation, no join, no window —
    // Spark's own corr() is a float accumulator and would not
    // hash-match across engines.
    QueryDef(
      "q_correlation",
      (s, dir) => {
        val x = col("l_quantity").cast(dec)
        val y = col("l_extendedprice").cast(dec)
        val d38 = DecimalType(38, 4)
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum((x * x).cast(d38)).as("sxx"),
            sum((y * y).cast(d38)).as("syy"),
            sum((x * y).cast(d38)).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            // combine in DOUBLE from the exact DECIMAL sums: products
            // like n·sxy outgrow DECIMAL(38) (DuckDB silently degrades
            // such expressions to DOUBLE), so BOTH engines must apply
            // the same IEEE sequence — cast each sum first, then
            // multiply/subtract in one written order
            {
              val nD = col("n").cast("double")
              val sx = col("sx").cast("double")
              val sy = col("sy").cast("double")
              val sxx = col("sxx").cast("double")
              val syy = col("syy").cast("double")
              val sxy = col("sxy").cast("double")
              round((nD * sxy - sx * sy) /
                (sqrt(nD * sxx - sx * sx) * sqrt(nD * syy - sy * sy)),
                6).as("corr")
            })
          .orderBy(col("l_returnflag"))
      },
      Some("""
        WITH a AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                     * CAST(l_quantity AS DECIMAL(18,2))
                     AS DECIMAL(38,4))) AS sxx,
                 SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_extendedprice AS DECIMAL(18,2))
                     AS DECIMAL(38,4))) AS syy,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                     * CAST(l_extendedprice AS DECIMAL(18,2))
                     AS DECIMAL(38,4))) AS sxy
          FROM lineitem GROUP BY 1)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE)
                                 * CAST(sy AS DOUBLE))), 6)
                 AS corr
        FROM a
        ORDER BY l_returnflag
      """)),

    // Gini concentration of order value per priority class — the
    // inequality gauge a corpus-governance pass runs per source
    // ("is one feed's value concentrated in a few rows?"). The ranked
    // form G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) needs ONE group-keyed
    // window for the rank and keeps every sum in DECIMAL; the single
    // division happens at the edge, rounded to 6 dp. Ranks are unique
    // under the (price, orderkey) total order, so both engines rank
    // identically.
    QueryDef(
      "q_gini",
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val d38 = DecimalType(38, 2)
        Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_totalprice"),
            col("o_orderkey"), col("o_totalprice").cast(dec).as("x"))
          .withColumn("i", row_number().over(w).cast("long"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(d38)).as("sx"),
            sum((col("i") * col("x")).cast(d38)).as("six"))
          .select(col("o_orderpriority"), col("n"),
            // same DOUBLE-combination discipline as q_correlation:
            // (n+1)·sx outgrows DECIMAL(38) width in DuckDB
            {
              val nD = col("n").cast("double")
              val sx = col("sx").cast("double")
              val six = col("six").cast("double")
              round((lit(2.0) * six - (nD + 1.0) * sx) / (nD * sx), 6)
                .as("gini")
            })
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS x,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey)
                   AS i
          FROM orders),
        a AS (
          SELECT o_orderpriority, COUNT(*) AS n,
                 SUM(CAST(x AS DECIMAL(38,2))) AS sx,
                 SUM(CAST(i * x AS DECIMAL(38,2))) AS six
          FROM r GROUP BY 1)
        SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
               ROUND((2.0 * CAST(six AS DOUBLE)
                      - (CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS gini
        FROM a
        ORDER BY o_orderpriority
      """)),

    // Lorenz curve behind q_gini: per priority class, the cumulative
    // value share at each decile — S5-style plot data on an integer
    // lattice end to end (micro-truncated values, ppm shares by
    // integer division; the winsorize-proven CAST(x*1e6 AS BIGINT)
    // truncation both engines apply identically). The decile ntile
    // and the 10-row running sum ride the same priority-keyed window
    // partitioning.
    QueryDef(
      "q_lorenz",
      (s, dir) => {
        val wRank = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wCum = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(col("o_orderpriority"))
        Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_totalprice"),
            col("o_orderkey"),
            (col("o_totalprice") * 1000000).cast("long").as("x_micro"))
          .withColumn("decile", ntile(10).over(wRank))
          .groupBy(col("o_orderpriority"), col("decile"))
          .agg(count(lit(1)).as("n"), sum(col("x_micro")).as("dsum"))
          .withColumn("cum_share_ppm",
            // cumsum·1e6 outgrows BIGINT at sf≥0.01 — DECIMAL interior
            expr("CAST((CAST(sum(dsum) OVER (PARTITION BY " +
              "o_orderpriority ORDER BY decile ROWS UNBOUNDED " +
              "PRECEDING) AS DECIMAL(38,0)) * 1000000) div " +
              "sum(dsum) OVER (PARTITION BY o_orderpriority) AS BIGINT)"))
          .select(col("o_orderpriority"), col("decile"), col("n"),
            col("cum_share_ppm"))
          .orderBy(col("o_orderpriority"), col("decile"))
      },
      Some("""
        WITH r AS (
          SELECT o_orderpriority,
                 CAST(o_totalprice * 1000000 AS BIGINT) AS x_micro,
                 ntile(10) OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice, o_orderkey)
                   AS decile
          FROM orders),
        d AS (
          SELECT o_orderpriority, decile, COUNT(*) AS n,
                 CAST(SUM(x_micro) AS BIGINT) AS dsum
          FROM r GROUP BY 1, 2)
        SELECT o_orderpriority, decile, n,
               CAST((SUM(dsum) OVER (PARTITION BY o_orderpriority
                                     ORDER BY decile
                                     ROWS UNBOUNDED PRECEDING)
                     * 1000000)
                    // SUM(dsum) OVER (PARTITION BY o_orderpriority)
                 AS BIGINT) AS cum_share_ppm
        FROM d
        ORDER BY o_orderpriority, decile
      """)),

    // Bucketed co-located join: orders and lineitem are rewritten
    // ONCE as co-bucketed tables on the join key, then joined with
    // ZERO Exchange — the layout move that amortizes the recurring
    // fact-fact shuffle at 100 TB (pay it at write, never at read).
    // StorageLayoutSpec pins the no-Exchange physical plan; here the
    // oracle pins that the bucketed path returns exactly the plain
    // join's answer (layout must never change semantics).
    QueryDef(
      "q_bucketed_join",
      (s, dir) => {
        val base = layoutBase(dir)
        val (o, l) = graft.operators.StorageLayout.coBucketed(s,
          Tables.orders(s, dir), "graft_b_orders", "o_orderkey",
          Tables.lineitem(s, dir), "graft_b_lineitem", "l_orderkey",
          numBuckets = 8, baseDir = base)
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(dec)).cast("double")
              .as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)),

    // Partition-pruned scan: documents rewritten hive-partitioned by
    // lang, then `WHERE lang = 'en'` becomes a directory listing
    // (PartitionFilters in the plan — StorageLayoutSpec pins it);
    // the other languages' files are never opened. The oracle pins
    // layout-independence of the answer.
    QueryDef(
      "q_partitioned_scan",
      (s, dir) => {
        val path = s"${layoutBase(dir)}/docs_by_lang"
        graft.operators.StorageLayout.writePartitioned(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("source"), col("n_chars"),
              col("lang")),
          path, Seq("lang"))
        s.read.parquet(path)
          .filter(col("lang") === "en")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"))
          .orderBy(col("source"))
      },
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents
        WHERE lang = 'en'
        GROUP BY source
        ORDER BY source
      """)),

    // Wide→long melt of the lineitem measures (the schema-reshaping
    // inverse of q_pivot_events): Spark's built-in Dataset.unpivot —
    // a codegen Expand, row-local, shuffle-free — against DuckDB's
    // UNPIVOT. Values pass through untouched (no arithmetic → no
    // float edge); the measure NAME column carries the original
    // column names in both engines.
    QueryDef(
      "q_unpivot",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(pmod(col("l_orderkey"), lit(53L)) === 0)
          .unpivot(
            ids = Array(col("l_orderkey"), col("l_linenumber")),
            values = Array(col("l_quantity"), col("l_extendedprice"),
              col("l_discount"), col("l_tax")),
            variableColumnName = "measure",
            valueColumnName = "value")
          // (l_orderkey, l_linenumber) is NOT unique in the testdata —
          // value joins the sort key to make the order total
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"),
            col("value")),
      Some("""
        WITH src AS (
          SELECT l_orderkey, l_linenumber,
                 l_quantity, l_extendedprice, l_discount, l_tax
          FROM lineitem WHERE l_orderkey % 53 = 0)
        SELECT l_orderkey, l_linenumber, measure, value
        FROM (UNPIVOT src
              ON l_quantity, l_extendedprice, l_discount, l_tax
              INTO NAME measure VALUE value)
        ORDER BY l_orderkey, l_linenumber, measure, value
      """)),

    // Robust per-group dispersion: median + median absolute deviation
    // of document length per source. Both medians are the exact
    // interpolated quantile (Spark `percentile` ≡ DuckDB
    // `quantile_cont`: position q·(n−1), linear midpoint) — on
    // integer lengths every interpolation lands on the ¼-lattice, so
    // the doubles are exact and hash-stable with no rounding edge.
    // Two aggregation passes + one broadcast-sized join on source.
    QueryDef(
      "q_mad",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("source"), col("n_chars"))
        val med = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            expr("percentile(n_chars, 0.5)").as("med_chars"))
        docs.join(broadcast(med), "source")
          .select(col("source"), col("n"), col("med_chars"),
            abs(col("n_chars") - col("med_chars")).as("adev"))
          .groupBy(col("source"), col("n"), col("med_chars"))
          .agg(expr("percentile(adev, 0.5)").as("mad"))
          .orderBy(col("source"))
      },
      Some("""
        WITH med AS (
          SELECT source, COUNT(*) AS n,
                 quantile_cont(n_chars, 0.5) AS med_chars
          FROM documents GROUP BY source)
        SELECT d.source, med.n, med.med_chars,
               quantile_cont(abs(d.n_chars - med.med_chars), 0.5) AS mad
        FROM documents d JOIN med ON med.source = d.source
        GROUP BY d.source, med.n, med.med_chars
        ORDER BY d.source
      """)),

    // Star-schema rollup (TPC-H Q5 shape): the fact chain
    // lineitem⋈orders⋈customer shuffles on its keys, while the
    // nation/region dimensions ride explicit broadcasts — the classic
    // snowflake plan where only fact-fact edges ever exchange data.
    // Revenue in exact DECIMAL, cast to double at the edge.
    QueryDef(
      "q_star_join",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_items"),
            sum((col("l_extendedprice").cast(dec) *
              (lit(BigDecimal(1)).cast(dec) -
                col("l_discount").cast(dec4))))
              .cast("double").as("revenue"))
          .orderBy(col("r_name"), col("n_name")),
      Some("""
        SELECT r_name, n_name, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name
      """)),

    // Robust outlier flagging on the q_mad statistics: docs whose
    // length sits beyond 1.5 robust z (1.4826·MAD ≈ σ for normal
    // data; the synthetic lengths are near-uniform, so the classic
    // 3-z gate would pass nothing at any test scale — 1.5 flags
    // ~40 docs per sf, a real witness).
    // med/mad are exact ¼-lattice doubles, the ratio is the same IEEE
    // expression in both engines, and the hashed edge is an explicit
    // round-to-integer ppm (the q_quantize idiom) — never
    // ROUND(double, n). Groups with MAD = 0 are excluded (a robust z
    // is undefined there in any engine).
    QueryDef(
      "q_robust_outliers",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val med = docs.groupBy(col("source"))
          .agg(expr("percentile(n_chars, 0.5)").as("med"))
        val stats = docs.join(broadcast(med), "source")
          .select(col("source"), col("med"),
            abs(col("n_chars") - col("med")).as("adev"))
          .groupBy(col("source"), col("med"))
          .agg(expr("percentile(adev, 0.5)").as("mad"))
          .filter(col("mad") > 0)
        docs.join(broadcast(stats), "source")
          .withColumn("rz",
            (col("n_chars") - col("med")) / (lit(1.4826) * col("mad")))
          .filter(abs(col("rz")) > 1.5)
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(col("rz") * lit(1e6)).cast("long").as("rz_ppm"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH med AS (
          SELECT source, quantile_cont(n_chars, 0.5) AS med
          FROM documents GROUP BY source),
        stats AS (
          SELECT d.source, med.med,
                 quantile_cont(abs(d.n_chars - med.med), 0.5) AS mad
          FROM documents d JOIN med ON med.source = d.source
          GROUP BY d.source, med.med),
        rz AS (
          SELECT d.doc_id, d.source, d.n_chars,
                 (d.n_chars - st.med) / (1.4826 * st.mad) AS rz
          FROM documents d JOIN stats st ON st.source = d.source
          WHERE st.mad > 0)
        SELECT doc_id, source, n_chars,
               CAST(ROUND(rz * 1000000.0) AS BIGINT) AS rz_ppm
        FROM rz WHERE abs(rz) > 1.5
        ORDER BY doc_id
      """)),

    // Benford first-digit audit over line-item amounts. The double
    // price column is snapped to an exact integer cents lattice FIRST
    // (round(x·100) of a correctly-rounded product — deterministic),
    // because a double's canonical string form is engine-formatting
    // territory while a BIGINT's is not (DataQuality.benford scaladoc).
    QueryDef(
      "q_benford",
      (s, dir) => {
        val cents = Tables.lineitem(s, dir)
          .filter(col("l_extendedprice") > 0)
          .select(round(col("l_extendedprice") * lit(100.0))
            .cast("long").as("cents"))
        graft.operators.DataQuality.benford(cents, "cents")
      },
      Some("""
        WITH cents AS (
          SELECT CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS cents
          FROM lineitem WHERE l_extendedprice > 0),
        d AS (
          SELECT regexp_extract(CAST(cents AS VARCHAR), '([1-9])', 1)
                   AS digit
          FROM cents WHERE cents > 0),
        counts AS (
          SELECT digit, COUNT(*) AS n FROM d WHERE digit <> ''
          GROUP BY 1)
        SELECT digit, n,
               CAST((n * 1000000) // (SELECT SUM(n) FROM counts)
                 AS BIGINT) AS observed_ppm,
               CAST(ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6)
                 AS BIGINT) AS expected_ppm
        FROM counts
        ORDER BY digit
      """)),

    // TPC-H Q3 (shipping priority), adapted to the star subset: the
    // classic 3-way join workhorse — segment-filtered customers ⋈
    // orders ⋈ lineitem with both date predicates pushed to the
    // scans, revenue per order on the exact 1e4 integer lattice
    // (extprice and discount are 2-dp decimals, so extprice·(1−disc)
    // is exactly a 4-dp decimal — a raw double SUM would be
    // partitioning-order-sensitive), bounded top-10.
    QueryDef(
      "q_tpch_q3",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        val l = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long"))
            .as("revenue_e4"))
          .orderBy(col("revenue_e4").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""
        SELECT l.l_orderkey, o.o_orderdate,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                     * (1.0 - l.l_discount) * 1e4) AS BIGINT))
                 AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY 1, 2
        ORDER BY revenue_e4 DESC, l_orderkey
        LIMIT 10
      """)),

    // TPC-H Q5 (local-supplier volume), adapted: the 6-way snowflake
    // join — revenue per nation where the CUSTOMER's and the
    // SUPPLIER's nation agree, one region, one order year; dims
    // (nation, region) broadcast, fact joins shuffle on their keys,
    // revenue on the same 1e4 lattice as q_tpch_q3.
    QueryDef(
      "q_tpch_q5",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val rn = Tables(s, dir, "nation")
          .join(broadcast(Tables(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        Tables.lineitem(s, dir)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(Tables(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long"))
            .as("revenue_e4"))
          .orderBy(col("revenue_e4").desc, col("n_name"))
      },
      Some("""
        SELECT n.n_name,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                     * (1.0 - l.l_discount) * 1e4) AS BIGINT))
                 AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
        ORDER BY revenue_e4 DESC, n_name
      """)),

    // TPC-H Q6 (forecasting revenue change): the pushdown showcase —
    // a joinless scan whose three predicates and two-column
    // projection must ALL reach the parquet reader (PushedFilters +
    // pruned ReadSchema; asserted in PlanShapeSpec), then one
    // map-side-combined global agg. At 100 TB this is the plan whose
    // cost is min-max-skipped row groups, not compute. Revenue on
    // the q_tpch_q3 1e4 lattice.
    QueryDef(
      "q_tpch_q6",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
          .agg(sum(round(col("l_extendedprice") * col("l_discount") *
            lit(1e4)).cast("long")).as("revenue_e4"),
            count(lit(1)).as("n_lines")),
      Some("""
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 1e4)
                 AS BIGINT)) AS BIGINT) AS revenue_e4,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
      """)),

    // TPC-H Q14 (promotion effect), adapted to the fixture's p_type
    // vocabulary: what share of one month's revenue came from PROMO
    // parts — a broadcast dim join (part is the small side) feeding
    // one conditional aggregation; the share is an exact integer
    // division on the q_tpch_q3 revenue lattice.
    QueryDef(
      "q_tpch_q14",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp")
            && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .join(broadcast(Tables(s, dir, "part")),
            col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO",
              round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
                * lit(1e4)).cast("long")).otherwise(0L))
              .as("promo_rev_e4"),
            sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * lit(1e4)).cast("long")).as("total_rev_e4"))
          // ppm·revenue outgrows BIGINT before revenue does (e4·1e6
          // wraps past ~9.2e12 e4 units, reachable at sf >= ~10) —
          // DECIMAL(38,0) interior, the q_lorenz convention; the
          // oracle's HUGEINT mirrors it
          .select(col("promo_rev_e4"), col("total_rev_e4"),
            expr("CAST((CAST(promo_rev_e4 AS DECIMAL(38,0)) * 1000000) " +
              "div total_rev_e4 AS BIGINT)").as("promo_share_ppm")),
      Some("""
        WITH a AS (
          SELECT
            CAST(SUM(CASE WHEN p.p_type = 'PROMO'
              THEN CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount)
                   * 1e4) AS BIGINT) ELSE 0 END) AS BIGINT)
              AS promo_rev_e4,
            CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount)
                 * 1e4) AS BIGINT)) AS BIGINT) AS total_rev_e4
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
            AND l.l_shipdate < TIMESTAMP '1996-04-01')
        SELECT promo_rev_e4, total_rev_e4,
               CAST((CAST(promo_rev_e4 AS HUGEINT) * 1000000)
                 // total_rev_e4 AS BIGINT) AS promo_share_ppm
        FROM a
      """)),

    // TPC-H Q18 (large-volume customers), adapted: orders whose
    // total line quantity exceeds a threshold, joined back to
    // customer, top-20 by order value. The HAVING side aggregates
    // the fact table FIRST (map-side combined), so the join fans
    // only qualifying orders; the final top-k plans as
    // TakeOrderedAndProject. Quantities are integral by fixture
    // contract → exact long sums; price on an e2 lattice.
    QueryDef(
      "q_tpch_q18",
      (s, dir) => {
        val big = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
          .filter(col("sum_qty") > 150L)
        Tables.orders(s, dir)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long")
              .as("total_price_e2"),
            col("sum_qty"))
          .orderBy(col("total_price_e2").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""
        WITH big AS (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_qty
          FROM lineitem GROUP BY 1
          HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
        SELECT c.c_custkey, o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                 AS total_price_e2,
               b.sum_qty
        FROM orders o
        JOIN big b ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY total_price_e2 DESC, o_orderkey
        LIMIT 20
      """)),

    // TPC-H Q17 (small-quantity-order revenue), adapted to the
    // fixture's part vocabulary (no p_container column → brand +
    // size as the selective pair): average yearly revenue lost if
    // small-quantity orders (below 20% of the per-part mean
    // quantity) went unfilled. Written DECLARATIVELY as the classic
    // correlated scalar subquery and left to Catalyst: the
    // RewriteCorrelatedScalarSubquery rule decorrelates it into a
    // per-partkey aggregate + join — PlanShapeSpec gates that no
    // per-row subquery survives in the optimized plan, which is the
    // difference between one shuffle and |lineitem| subqueries at
    // 100 TB. Quantities are integral by fixture contract, so the
    // 0.2·avg threshold is an exact-integer sum / count — identical
    // IEEE doubles in both engines; revenue lands on the q_tpch_q18
    // e2 lattice. The /7 yearly average is sign-safe (ADVICE r15):
    // Spark `div` truncates toward zero while DuckDB `//` floors, so
    // instead of leaning on the price sum being non-negative, both
    // engines subtract the Knuth-mod remainder ((x%7)+7)%7 first —
    // the numerator is then exactly divisible and trunc = floor =
    // exact for either sign.
    QueryDef(
      "q_tpch_q17",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("tpch17_lineitem")
        Tables(s, dir, "part").createOrReplaceTempView("tpch17_part")
        s.sql("""
          SELECT n_lines, sum_extprice_e2,
                 (sum_extprice_e2 - ((sum_extprice_e2 % 7) + 7) % 7)
                   div 7 AS avg_yearly_e2
          FROM (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_extprice_e2
            FROM tpch17_lineitem l
            JOIN tpch17_part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#12'
              AND p.p_size < 15
              AND l.l_quantity < (
                SELECT 0.2 * AVG(l2.l_quantity)
                FROM tpch17_lineitem l2
                WHERE l2.l_partkey = p.p_partkey))
        """)
      },
      Some("""
        SELECT n_lines, sum_extprice_e2,
               (sum_extprice_e2 - ((sum_extprice_e2 % 7) + 7) % 7)
                 // 7 AS avg_yearly_e2
        FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
                 CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS sum_extprice_e2
          FROM lineitem l
          JOIN part p ON p.p_partkey = l.l_partkey
          WHERE p.p_brand = 'Brand#12'
            AND p.p_size < 15
            AND l.l_quantity < (
              SELECT 0.2 * AVG(l2.l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = p.p_partkey))
      """)),

    // TPC-H Q4 (order priority checking), adapted to the fixture's
    // columns (no l_commitdate/l_receiptdate → "late" = shipped more
    // than 60 days after the order date, which keeps the correlated
    // cross-table predicate that makes Q4 interesting): one quarter
    // of orders, counted per priority, where EXISTS a late line.
    // Written as the textbook EXISTS and left to Catalyst's
    // RewritePredicateSubquery: the optimized plan is a LEFT SEMI
    // join with the l_shipdate > o_orderdate + 60d condition inside
    // the join — each order tested once against co-located lines,
    // never |orders| point lookups (PlanShapeSpec gates the shape).
    QueryDef(
      "q_tpch_q4",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("tpch4_lineitem")
        Tables.orders(s, dir).createOrReplaceTempView("tpch4_orders")
        s.sql("""
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS order_count
          FROM tpch4_orders o
          WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
            AND o.o_orderdate < TIMESTAMP '1996-04-01'
            AND EXISTS (
              SELECT 1 FROM tpch4_lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority
        """)
      },
      Some("""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)),

    // TPC-H Q22 (global sales opportunity), adapted: lapsed
    // high-balance customers — above the positive-balance average,
    // NO orders since 2000 — per nation (the fixture has no phone
    // column; nationkey is the grouping stand-in). Two subquery
    // classes in one plan, each with its own right shape: the
    // average threshold is an UNCORRELATED scalar subquery pair that
    // must execute ONCE (not per row), and the NOT EXISTS must
    // decorrelate to a LEFT ANTI join (PlanShapeSpec gates both).
    // The threshold compares on the exact integer cents lattice by
    // cross-multiplication — bal·n > Σbal — because a float AVG's
    // last ulp differs between engines and would flip boundary
    // customers.
    QueryDef(
      "q_tpch_q22",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("tpch22_customer")
        Tables.orders(s, dir).createOrReplaceTempView("tpch22_orders")
        s.sql("""
          WITH cents AS (
            SELECT c_custkey, c_nationkey,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_e2
            FROM tpch22_customer)
          SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
                 CAST(SUM(bal_e2) AS BIGINT) AS totacctbal_e2
          FROM cents c
          WHERE c.bal_e2 * (SELECT COUNT(*) FROM cents WHERE bal_e2 > 0)
                > (SELECT SUM(bal_e2) FROM cents WHERE bal_e2 > 0)
            AND NOT EXISTS (
              SELECT 1 FROM tpch22_orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
          GROUP BY c_nationkey
          ORDER BY c_nationkey
        """)
      },
      Some("""
        WITH cents AS (
          SELECT c_custkey, c_nationkey,
                 CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_e2
          FROM customer)
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(bal_e2) AS BIGINT) AS totacctbal_e2
        FROM cents c
        WHERE c.bal_e2 * (SELECT COUNT(*) FROM cents WHERE bal_e2 > 0)
              > (SELECT SUM(bal_e2) FROM cents WHERE bal_e2 > 0)
          AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
      """)),

    // TPC-H Q10 (returned-item reporting), adapted to the fixture's
    // columns: top-20 customers by revenue lost to returns in one
    // quarter. Fact-side joins shuffle on their keys, the 25-row
    // nation dim broadcasts, and the final top-20 plans as
    // TakeOrderedAndProject (never a global sort). Revenue on the
    // q_tpch_q3 1e4 lattice; acctbal grouped as exact cents.
    QueryDef(
      "q_tpch_q10",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val l = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"),
            round(col("c_acctbal") * 100).cast("long").as("acctbal_e2"),
            col("n_name"))
          .agg(sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long"))
            .as("revenue_e4"))
          .orderBy(col("revenue_e4").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""
        SELECT c.c_custkey, c.c_name,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS acctbal_e2,
               n.n_name,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                     * (1.0 - l.l_discount) * 1e4) AS BIGINT))
                 AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue_e4 DESC, c_custkey
        LIMIT 20
      """)),

    // TPC-H Q15 (top supplier), adapted: quarterly revenue per
    // supplier, then the supplier(s) hitting the GLOBAL maximum — the
    // uncorrelated scalar-subquery shape (like q_tpch_q22's
    // thresholds): Catalyst plans the MAX as an execute-once scalar
    // subquery over the revenue aggregate, never a per-row rescan
    // (PlanShapeSpec gates it). Revenue stays on the exact 1e4
    // integer lattice, so "equals the max" is an integer comparison —
    // no float-ulp tie risk between engines.
    QueryDef(
      "q_tpch_q15",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("tpch15_lineitem")
        Tables(s, dir, "supplier").createOrReplaceTempView("tpch15_supplier")
        s.sql("""
          WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(SUM(CAST(ROUND(l_extendedprice
                         * (1.0 - l_discount) * 1e4) AS BIGINT))
                     AS BIGINT) AS total_e4
            FROM tpch15_lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
          SELECT s.s_suppkey, s.s_name, r.total_e4
          FROM tpch15_supplier s
          JOIN revenue r ON s.s_suppkey = r.supplier_no
          WHERE r.total_e4 = (SELECT MAX(total_e4) FROM revenue)
          ORDER BY s.s_suppkey
        """)
      },
      Some("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(SUM(CAST(ROUND(l_extendedprice
                       * (1.0 - l_discount) * 1e4) AS BIGINT))
                   AS BIGINT) AS total_e4
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name, r.total_e4
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_e4 = (SELECT MAX(total_e4) FROM revenue)
        ORDER BY s.s_suppkey
      """)),

    // TPC-H Q19 (discounted revenue), adapted to the fixture's
    // columns: three disjunctive (brand, size-range, quantity-range)
    // arms over the part⨝lineitem join. The plan point: Catalyst
    // extracts the common join key and pushes the UNION of each
    // side's disjuncts down to its own scan (part reads only the
    // three brands, lineitem only quantities ≤ 30), so the join input
    // is pre-filtered on both sides instead of filtering after a full
    // 60k×join.
    QueryDef(
      "q_tpch_q19",
      (s, dir) => {
        val arm1 = col("p_brand") === "Brand#12" &&
          col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
        val arm2 = col("p_brand") === "Brand#23" &&
          col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
        val arm3 = col("p_brand") === "Brand#34" &&
          col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
        Tables.lineitem(s, dir)
          .join(Tables(s, dir, "part"),
            col("l_partkey") === col("p_partkey"))
          .filter(arm1 || arm2 || arm3)
          .agg(count(lit(1)).as("n_lines"),
            coalesce(sum(round(col("l_extendedprice") *
                (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long")),
              lit(0L)).as("revenue_e4"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COALESCE(SUM(CAST(ROUND(l.l_extendedprice
                     * (1.0 - l.l_discount) * 1e4) AS BIGINT)), 0)
                 AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
      """)),

    // TPC-H Q7 (volume shipping), adapted: bilateral trade volume
    // between two nations by ship year — the supplier-nation ×
    // customer-nation snowflake with a symmetric two-arm nation
    // predicate. Both 25-row nation dims broadcast (aliased
    // independently); the fact chain shuffles once per join key; the
    // year extraction is an integer both engines agree on exactly.
    QueryDef(
      "q_tpch_q7",
      (s, dir) => {
        val n1 = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("s_nkey"),
            col("n_name").as("supp_nation"))
        val n2 = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("c_nkey"),
            col("n_name").as("cust_nation"))
        Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(Tables(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
          .filter((col("supp_nation") === "NATION_1" &&
              col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" &&
              col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long"))
            .as("revenue_e4"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
               CAST(SUM(CAST(ROUND(l.l_extendedprice
                     * (1.0 - l.l_discount) * 1e4) AS BIGINT))
                 AS BIGINT) AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
      """)),

    // TPC-H Q8 (national market share), adapted: one supplier
    // nation's share of a region's revenue in one part-type market,
    // by order year. Together with the Q2/Q13/Q21 adaptations below,
    // the engine covers every TPC-H query expressible on the
    // fixture's reduced schema (1, 2, 3, 4, 5, 6, 7, 8, 10, 13, 14,
    // 15, 17, 18, 19, 21, 22 — Q9/Q11/Q12/Q16/Q20 need partsupp /
    // commit-receipt dates / shipmode columns the fixture omits
    // entirely).
    // The share is NEVER a float division: numerator and denominator
    // stay exact 1e4-lattice integers and the emitted share is the
    // integer ppm quotient (num·1e6 div den), identical in both
    // engines; both revenue sums are non-negative so div = floor.
    QueryDef(
      "q_tpch_q8",
      (s, dir) => {
        val rn = Tables(s, dir, "nation")
          .join(broadcast(Tables(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("c_nkey"))
        val sn = Tables(s, dir, "nation")
          .select(col("n_nationkey").as("s_nkey"),
            col("n_name").as("supp_nation"))
        Tables.lineitem(s, dir)
          .join(Tables(s, dir, "part")
            .filter(col("p_type") === "ECONOMY"),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(rn), col("c_nationkey") === col("c_nkey"))
          .join(Tables(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("s_nkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_3",
              round(col("l_extendedprice") *
                (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long"))
              .otherwise(0L)).as("nation_e4"),
            sum(round(col("l_extendedprice") *
              (lit(1.0) - col("l_discount")) * lit(1e4)).cast("long"))
              .as("total_e4"))
          // same wrap hazard as Q14's ppm: DECIMAL(38,0) interior
          .select(col("o_year"), col("nation_e4"), col("total_e4"),
            expr("CAST((CAST(nation_e4 AS DECIMAL(38,0)) * 1000000) " +
              "div total_e4 AS BIGINT)").as("share_ppm"))
          .orderBy(col("o_year"))
      },
      Some("""
        WITH vol AS (
          SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                 CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                       THEN CAST(ROUND(l.l_extendedprice
                            * (1.0 - l.l_discount) * 1e4) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS nation_e4,
                 CAST(SUM(CAST(ROUND(l.l_extendedprice
                       * (1.0 - l.l_discount) * 1e4) AS BIGINT))
                   AS BIGINT) AS total_e4
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation cn ON c.c_nationkey = cn.n_nationkey
          JOIN region r ON cn.n_regionkey = r.r_regionkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation sn ON s.s_nationkey = sn.n_nationkey
          WHERE r.r_name = 'EUROPE'
            AND p.p_type = 'ECONOMY'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01'
            AND o.o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY 1)
        SELECT o_year, nation_e4, total_e4,
               CAST((CAST(nation_e4 AS HUGEINT) * 1000000) // total_e4
                 AS BIGINT) AS share_ppm
        FROM vol
        ORDER BY o_year
      """)),

    // TPC-H Q13 (customer distribution), adapted: the fixture has no
    // o_comment, so the in-join exclusion filter is on
    // o_orderpriority (same NOT LIKE shape — what matters is that
    // the predicate lives INSIDE the outer join: a customer whose
    // only orders are urgent must still count as c_count = 0, which
    // a post-join filter would get wrong by deleting the row
    // instead of nulling it). The plan is the Q13 signature Spark
    // should produce: the NOT LIKE pushes to the orders scan, ONE
    // shuffle on custkey serves both the left outer join and the
    // first aggregate, and the agg-of-agg histogram is a second tiny
    // shuffle on the ≤|orders/customer|+1 distinct counts. At 100 TB
    // both sides hash-partition on custkey; nothing broadcasts and
    // nothing collects.
    QueryDef(
      "q_tpch_q13",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(!col("o_orderpriority").like("%URGENT%"))
          .select("o_custkey", "o_orderkey")
        Tables.customer(s, dir).select("c_custkey")
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
          SELECT c.c_custkey,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
            AND o.o_orderpriority NOT LIKE '%URGENT%'
          GROUP BY c.c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
      """)),

    // TPC-H Q21 (suppliers who kept orders waiting), adapted: no
    // commit/receipt dates in the fixture, so "late" reuses the Q4
    // adaptation (shipped > 60 days after the order date) and the
    // one-nation filter widens to region EUROPE (the fixture's 100
    // suppliers leave a single nation too thin to exercise the
    // shape). Semantics preserved exactly: a supplier is charged for
    // a late line on a finished multi-supplier order where EVERY
    // other supplier shipped on time — the double-correlated
    // EXISTS / NOT EXISTS over the same fact table. Written as the
    // textbook predicate pair and left to RewritePredicateSubquery:
    // the optimized plan is a LEFT SEMI then LEFT ANTI join of
    // lineitem against itself on l_orderkey (the non-equi suppkey ≠
    // and late predicates ride inside the join conditions), so at
    // 100 TB each order's lines meet once, co-partitioned on
    // orderkey — never |lineitem| point lookups. PlanShapeSpec
    // gates both rewrites.
    QueryDef(
      "q_tpch_q21",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("tpch21_lineitem")
        Tables.orders(s, dir).createOrReplaceTempView("tpch21_orders")
        Tables(s, dir, "supplier").createOrReplaceTempView("tpch21_supplier")
        Tables(s, dir, "nation").createOrReplaceTempView("tpch21_nation")
        Tables(s, dir, "region").createOrReplaceTempView("tpch21_region")
        s.sql("""
          SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
          FROM tpch21_supplier s
          JOIN tpch21_lineitem l1 ON s.s_suppkey = l1.l_suppkey
          JOIN tpch21_orders o ON o.o_orderkey = l1.l_orderkey
          JOIN tpch21_nation n ON s.s_nationkey = n.n_nationkey
          JOIN tpch21_region r ON n.n_regionkey = r.r_regionkey
          WHERE o.o_orderstatus = 'F'
            AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            AND r.r_name = 'EUROPE'
            AND EXISTS (
              SELECT 1 FROM tpch21_lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (
              SELECT 1 FROM tpch21_lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
          GROUP BY s.s_name
          ORDER BY numwait DESC, s.s_name
          LIMIT 100
        """)
      },
      Some("""
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND r.r_name = 'EUROPE'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 100
      """)),

    // TPC-H Q2 (minimum cost supplier), adapted: the fixture has no
    // partsupp, so lineitem stands in as the part↔supplier price
    // relation — for each ECONOMY part of one size class, the
    // European supplier(s) that ever sold it at the GLOBAL-minimum
    // line price. What survives the adaptation is Q2's defining
    // shape: a correlated scalar MIN subquery that itself contains a
    // multi-table join (lineitem⋈supplier⋈nation⋈region), which
    // RewriteCorrelatedScalarSubquery must decorrelate into a
    // per-partkey MIN aggregate joined back to the outer chain — one
    // shuffle on partkey instead of a per-part rescan of the
    // supplier snowflake (PlanShapeSpec gates q17-style that no
    // PlanExpression survives). Prices compare on the exact cents
    // lattice, so "equals the min" can never flip on a float ulp;
    // the final order (acctbal desc, name, partkey) is total, so
    // LIMIT 100 is deterministic.
    QueryDef(
      "q_tpch_q2",
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("tpch2_lineitem")
        Tables(s, dir, "part").createOrReplaceTempView("tpch2_part")
        Tables(s, dir, "supplier").createOrReplaceTempView("tpch2_supplier")
        Tables(s, dir, "nation").createOrReplaceTempView("tpch2_nation")
        Tables(s, dir, "region").createOrReplaceTempView("tpch2_region")
        s.sql("""
          WITH eu_price AS (
            SELECT l.l_partkey, s.s_name, n.n_name,
                   CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_e2,
                   CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                     AS price_e2
            FROM tpch2_lineitem l
            JOIN tpch2_supplier s ON l.l_suppkey = s.s_suppkey
            JOIN tpch2_nation n ON s.s_nationkey = n.n_nationkey
            JOIN tpch2_region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE')
          SELECT e.acctbal_e2, e.s_name, e.n_name, p.p_partkey,
                 e.price_e2
          FROM tpch2_part p
          JOIN eu_price e ON e.l_partkey = p.p_partkey
          WHERE p.p_size = 15 AND p.p_type = 'ECONOMY'
            AND e.price_e2 = (
              SELECT MIN(e2.price_e2) FROM eu_price e2
              WHERE e2.l_partkey = p.p_partkey)
          ORDER BY e.acctbal_e2 DESC, e.s_name, p.p_partkey
          LIMIT 100
        """)
      },
      Some("""
        WITH eu_price AS (
          SELECT l.l_partkey, s.s_name, n.n_name,
                 CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS acctbal_e2,
                 CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   AS price_e2
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'EUROPE')
        SELECT e.acctbal_e2, e.s_name, e.n_name, p.p_partkey,
               e.price_e2
        FROM part p
        JOIN eu_price e ON e.l_partkey = p.p_partkey
        WHERE p.p_size = 15 AND p.p_type = 'ECONOMY'
          AND e.price_e2 = (
            SELECT MIN(e2.price_e2) FROM eu_price e2
            WHERE e2.l_partkey = p.p_partkey)
        ORDER BY e.acctbal_e2 DESC, e.s_name, p.p_partkey
        LIMIT 100
      """))
  )
}

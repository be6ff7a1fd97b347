package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-validation profiling (the Deequ-style pre-training gate):
  * per-column row count, non-null count (completeness), and exact
  * distinct count (uniqueness) in long form — the report a pipeline
  * checks before pointing a trainer at a new snapshot.
  *
  * One logical aggregation over one scan; Spark plans the multiple
  * DISTINCT aggregates via a single Expand (rows × columns profiled),
  * so cost scales with the profiled column list, not with extra
  * passes. At 100 TB swap `countDistinct` for
  * `approx_count_distinct` (HLL, one pass, no Expand) — exact is kept
  * here because the correctness oracle hash-compares the counts.
  */
object DataQuality {

  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profile needs at least one column")
    val aggs = columns.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // long form: one row per profiled column
    val rows = columns.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nn_$c").as("n_nonnull"), col(s"__nd_$c").as("n_distinct"))
    }
    wide.select(explode(array(rows: _*)).as("r"))
      .select(col("r.column"), col("r.n_rows"),
        col("r.n_nonnull"), col("r.n_distinct"))
  }

  /** Row-level rule validation (the dead-letter-queue split): each
    * rule is a named pass predicate; the result is one (row, rule)
    * violation per failed rule, so a row failing two rules appears
    * twice and a clean corpus yields zero rows. `null` predicate
    * results count as violations (a null `BETWEEN` is not a pass) —
    * the standard quarantine semantics.
    *
    * Pure per-row column logic: no shuffle, codegen'd, scan-speed;
    * the violations frame is the quarantine sink and
    * `df.join(violations, keys, "left_anti")` is the clean side.
    */
  def validate(
      df: DataFrame,
      keyCols: Seq[String],
      rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "validate needs at least one rule")
    val checks = rules.map { case (name, pred) =>
      when(coalesce(pred, lit(false)), lit(null).cast("string"))
        .otherwise(lit(name))
    }
    df.select(keyCols.map(col) :+
        array_compact(array(checks: _*)).as("__failed"): _*)
      .where(size(col("__failed")) > 0)
      .select(keyCols.map(col) :+
        explode(col("__failed")).as("failed_rule"): _*)
  }

  /** k-anonymity audit over a quasi-identifier tuple: every
    * combination of the given columns shared by FEWER than k rows is
    * a re-identification risk (Sweeney 2002) — the governance gate a
    * corpus with user-derived metadata runs before release. Returns
    * the risky groups with their sizes; an empty result certifies
    * k-anonymity at that k. Numeric quasi-identifiers should be
    * banded by the caller first (a raw continuous column makes every
    * row its own group and the audit trivially fails).
    *
    * One map-side-combined aggregation; the filter keeps only
    * below-threshold groups, so the output is bounded by the risky
    * tail, not the group count.
    */
  def kAnonymityViolations(
      df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k > 1, s"k: $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** l-diversity audit — k-anonymity's necessary companion: a
    * quasi-identifier group can be k-large yet still leak the
    * sensitive attribute if every member shares one value (the
    * homogeneity attack). Violations = QI groups whose sensitive
    * column takes fewer than `l` distinct values. Same single
    * map-side-combined aggregation shape as
    * [[kAnonymityViolations]]; `n_distinct` is exact (the QI group
    * is the shuffle key, so the distinct count is group-local).
    */
  def lDiversityViolations(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(l > 1, s"l: $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_distinct"))
      .filter(col("n_distinct") < l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    * third rung after [[kAnonymityViolations]] and
    * [[lDiversityViolations]]: a QI group can be k-large AND
    * l-diverse yet still leak when its sensitive-value DISTRIBUTION
    * is far from the table's (the skewness attack — "3 distinct
    * diagnoses, but 98% cancer"). Violations = QI groups whose total
    * variation distance to the global sensitive distribution exceeds
    * `tPpm` parts per million.
    *
    * TVD stays on the integer lattice end-to-end: for group g with
    * n_g rows of which c_gs carry sensitive value s (global: N, c_s),
    *
    *   TVD_g = Σ_s max(p_gs − p_s, 0)
    *         = Σ_s max(c_gs·N − c_s·n_g, 0) / (n_g·N)
    *
    * — the numerator is an exact BIGINT sum (one-sided, which equals
    * ½·L1 exactly), and the single division floors onto ppm. The sum
    * ranges over the GLOBAL sensitive domain: values absent from the
    * group contribute max(−c_s·n_g, 0) = 0, so iterating only the
    * group's own (QI, s) cells is exact — no dense QI×domain frame is
    * ever built.
    *
    * Scale shape: one corpus aggregation to (QI, s) cells, a
    * domain-sized re-agg broadcast back onto the cells, one cell-key
    * re-agg to groups. The corpus is touched once; nothing after is
    * bigger than the cell table.
    */
  def tClosenessViolations(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      tPpm: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(tPpm > 0 && tPpm < 1000000L, s"tPpm: $tPpm")
    val d38 = DecimalType(38, 0)
    val cells = df
      .groupBy((quasiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .transform(Par.pin)
    val groupTot = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("__ng"))
    val domTot = cells.groupBy(col(sensitiveCol))
      .agg(sum(col("__c")).as("__cs"))
    val grand = cells.agg(sum(col("__c")).as("__nn"))
    cells
      .join(broadcast(domTot), sensitiveCol)
      .join(groupTot, quasiCols)
      .crossJoin(broadcast(grand))
      .groupBy(quasiCols.map(col): _*)
      .agg(max(col("__ng")).as("n"),
        // c_gs·N − c_s·n_g in DECIMAL(38,0): both products overflow
        // BIGINT when a 100-TB table's N meets a large cell count
        sum(greatest(
          col("__c").cast(d38) * col("__nn").cast(d38) -
            col("__cs").cast(d38) * col("__ng").cast(d38),
          lit(0L).cast(d38))).as("__num"),
        max(col("__nn")).as("__nn2"))
      .select(quasiCols.map(col) ++ Seq(col("n"), {
        // exact floor division on DECIMAL via the remainder identity
        // (A − A mod B)/B — a bare decimal divide rounds HALF_UP at
        // the result scale, which can flip the floor at a boundary;
        // DuckDB's `//` floors exactly, so this must too
        val a = col("__num") * lit(1000000L).cast(d38)
        val b = col("n").cast(d38) * col("__nn2").cast(d38)
        ((a - a % b) / b).cast("long").as("tvd_ppm")
      }): _*)
      .filter(col("tvd_ppm") > tPpm)
  }

  /** Order-independent per-group table fingerprints — "are these two
    * snapshots / replicas / migration outputs the same table?"
    * answered WITHOUT shipping or sorting rows (the Merkle-leaf
    * trick every storage migration re-invents): each row hashes to a
    * 60-bit integer (md5 over the column values joined by the
    * U+0001 field separator — written as the visible "\\u0001"
    * escape in code so the invisible byte cannot be silently
    * dropped by an edit; the oracle's chr(1) — the engine's
    * cross-engine hash convention), and a group's signature
    * is the pair (XOR, SUM mod 2⁶¹) of its row hashes — both
    * combiners are commutative and associative, so the signature is
    * identical under ANY partitioning, row order, or engine, and
    * mergeable across shards. Carrying two independent combiners
    * makes the check robust where either alone has cheap collisions
    * (XOR cancels duplicate rows in pairs; SUM alone is
    * counter-swappable).
    *
    * One map-side-combined aggregation; output is group-sized:
    * (group cols…, n_rows, xor_sig, sum_sig). Compare two tables'
    * outputs with a join — any differing group names exactly which
    * slice diverged. NULL column values fingerprint as the literal
    * used by `concat_ws` (dropped) — normalize NULLs upstream if two
    * tables may differ only in NULL-vs-empty.
    */
  def tableFingerprint(
      df: DataFrame, groupCols: Seq[String], hashCols: Seq[String])
      : DataFrame = {
    require(hashCols.nonEmpty, "need at least one hash column")
    val d38 = DecimalType(38, 0)
    val rowHash = conv(substring(md5(concat_ws("\u0001",
      hashCols.map(c => col(c).cast("string")): _*)), 1, 15), 16, 10)
      .cast("long")
    val grouped =
      if (groupCols.isEmpty) df.select(rowHash.as("__h")).groupBy()
      else df.select((groupCols.map(col) :+ rowHash.as("__h")): _*)
        .groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_sig"),
        pmod(sum(col("__h").cast(d38)),
          lit(2305843009213693952L).cast(d38))
          .cast("long").as("sum_sig"))
  }

  /** Exact join-size profile WITHOUT executing the join — the
    * pre-flight check before a 100 TB equi-join: |A ⋈ B| =
    * Σ_k cntA(k)·cntB(k), computed from the two key histograms, so a
    * blowup (a hot key contributing 10¹² output rows) is visible for
    * the cost of two map-side-combined counts and a key-sized join —
    * never the join itself.
    *
    * Output: one row (n_keys, join_rows, max_key_rows,
    * max_share_ppm) — matched key count, exact output cardinality,
    * the heaviest key's contribution, and its integer-ppm share of
    * the output. Per-key products accumulate in DECIMAL(38) (a
    * 3e9×3e9 hot key already overflows BIGINT); the edge casts to
    * LONG, which bounds reportable totals at 2^63 rows. NULL keys
    * match nothing in an equi-join and are excluded, as the join
    * itself would.
    */
  def joinCardinality(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d38 = DecimalType(38, 0)
    val lc = left.where(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__lc"))
    val rc = right.where(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__rc"))
    lc.join(rc, "__k")
      .select((col("__lc").cast(d38) * col("__rc").cast(d38)).as("__rows"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__rows")).as("__jr"), max(col("__rows")).as("__mx"))
      .select(col("n_keys"),
        col("__jr").cast("long").as("join_rows"),
        col("__mx").cast("long").as("max_key_rows"))
      // ppm by LONG floor division (the q_token_budget pattern) —
      // decimal division would round at scale 6 before the floor
      .select(col("n_keys"), col("join_rows"), col("max_key_rows"),
        expr("(max_key_rows * CAST(1000000 AS BIGINT)) div join_rows")
          .as("max_share_ppm"))
  }

  /** Join-key skew profile: the diagnostic run BEFORE choosing a join
    * strategy at scale — a key owning >~20% of rows is the signal to
    * salt ([[SkewJoin]]) or let AQE split; without measuring, skew
    * shows up as one straggler task an hour into the job.
    *
    * Output: the `topK` heaviest keys as (rank, key, cnt, share_ppm,
    * cum_share_ppm) — share on the integer parts-per-million lattice
    * (floor division; no float reaches the result), cumulative share
    * summing those integers so "top 5 keys own 31% of the table" reads
    * directly off the frame.
    *
    * Scale: one map-side-combined `groupBy(key).count`, then a
    * bounded `TakeOrderedAndProject` of `topK` rows; the running sum
    * windows over that K-row frame only (bounded by construction —
    * NOT a corpus-sized global window). Null keys count as a key:
    * null is precisely the skew value most joins explode on.
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK: $topK")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__t"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(topK)
      .crossJoin(broadcast(total))
      .select(col("key"), col("cnt"),
        expr("(cnt * CAST(1000000 AS BIGINT)) div __t").as("share_ppm"))
    // K-row frame: the partition-less window is bounded by topK.
    val w = Window.orderBy(col("cnt").desc, col("key").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)))
      .withColumn("cum_share_ppm", sum(col("share_ppm")).over(w))
      .select(col("rank"), col("key"), col("cnt"),
        col("share_ppm"), col("cum_share_ppm"))
  }

  /** Benford first-digit audit — the classic fabricated-or-degenerate
    * numeric-column screen: the distribution of leading significant
    * digits of naturally-occurring multi-scale amounts follows
    * P(d) = log10(1 + 1/d); a column that departs wildly is
    * synthetic, truncated, or unit-capped. Output per digit 1..9:
    * observed count, observed_ppm, and the Benford expectation
    * expected_ppm — one aggregation pass.
    *
    * The leading digit is taken from the value's canonical decimal
    * STRING form, not via floor(x/10^floor(log10 x)) — the log/pow
    * route misclassifies exact powers of ten when log10 lands an ulp
    * low (e.g. 1000 → digit 9), and is exactly the kind of
    * libm-dependent edge this engine keeps out of hashed outputs.
    * Rows that are null, zero, or non-positive are excluded (Benford
    * is defined on positive magnitudes).
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(regexp_extract(col(valueCol).cast("string"),
        "([1-9])", 1).as("digit"))
      .filter(col("digit") =!= "")
    val counts = digits.groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        expr("(n * CAST(1000000 AS BIGINT)) div __t").as("observed_ppm"),
        round(log10(lit(1.0) +
          lit(1.0) / col("digit").cast("double")) * lit(1e6))
          .cast("long").as("expected_ppm"))
      .orderBy(col("digit"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization for embedding search (Jégou, Douze & Schmid
  * 2011, "Product Quantization for Nearest Neighbor Search"): split
  * each d-dim vector into `m` subvectors, learn a small codebook per
  * subspace, and store each corpus vector as m small codes — 64 dims
  * of float32 collapse to m bytes, the compression that lets a
  * 100-TB embedding corpus live in executor memory. Queries score
  * candidates by ADC (asymmetric distance computation): per query,
  * a (m × ksub) table of query-subvector-to-subcentroid distances is
  * built once, and each candidate's approximate distance is m table
  * lookups summed — no float math per candidate at all.
  *
  * Determinism: sub-codebooks are the deterministic corpus sample
  * (the ksub smallest ids' subvectors — [[Similarity.sampledCodebook]]
  * convention), and every subspace distance is snapped to an integer
  * micro lattice (`round(d²·1e6)` as long) BEFORE any sum or argmin,
  * so encoding and ADC ranking are order-independent long arithmetic,
  * replayable in any engine. Ties break on the smaller code /
  * neighbor id.
  *
  * Scale shape: encoding is corpus×m rows through two partial-
  * aggregatable exchanges (per-(id,j) argmin, then per-id code
  * assembly); the codebook (m·ksub rows) broadcasts. ADC scoring
  * joins the exploded code column against the broadcast per-query
  * distance tables on (j, code) — the corpus shuffles ONCE on
  * (query, id) for the final sum, and the top-k uses the bounded
  * `top_k_by` partial aggregate. Tables are queries×m×ksub rows —
  * broadcastable because ANN queries are a workload, not the corpus
  * (the [[Similarity]] probes argument); compose with IVF cell
  * blocking when the candidate set must shrink below corpus-sized.
  */
object ProductQuantization {

  /** Deterministic per-subspace codebooks: `(j, code, cent)` for
    * j < m, code < ksub — subvector j of the ksub smallest-id
    * vectors, code = rank of the donor id. Broadcast-sized
    * (m·ksub rows); the ksub-row rank window is codebook-sized, not
    * corpus-sized.
    */
  def subCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): DataFrame = {
    val sub = subDim(corpus, vecCol, m)
    val donors = corpus
      .select(col(idCol).cast("long").as("donor"), col(vecCol).as("v"))
      .orderBy(col("donor")).limit(ksub)
      .withColumn("code", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("donor"))) - 1)
    broadcast(
      donors
        .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
        .select(col("j"), col("code"),
          expr(s"slice(v, j * $sub + 1, $sub)").as("cent")))
  }

  /** Micro-lattice subspace distances of every vector to every
    * sub-centroid: `(id, j, code, dmicro)` — the shared kernel: its
    * per-(id, j) argmin is the encoding, and its query-id restriction
    * IS the ADC distance table.
    */
  def subspaceDistances(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): DataFrame = {
    val sub = subDim(corpus, vecCol, m)
    corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("id"), col("j"),
        expr(s"slice(v, j * $sub + 1, $sub)").as("sv"))
      .join(subCodebooks(corpus, idCol, vecCol, m, ksub), Seq("j"))
      .select(col("id"), col("j"), col("code"),
        round(VectorFunctions.dist2(col("sv"), col("cent")) * lit(1e6))
          .cast("long").as("dmicro"))
  }

  /** PQ encoding: `(id, j, code)` — nearest sub-centroid per
    * subspace, ties to the smaller code.
    */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int): DataFrame =
    subspaceDistances(corpus, idCol, vecCol, m, ksub)
      .groupBy(col("id"), col("j"))
      .agg(min_by(col("code"), struct(col("dmicro"), col("code")))
        .as("code"))

  /** ADC top-k: `(query_id, neighbor_id, dist_micro, rank)` for the
    * `queries` rows (matched by id against the corpus), rank ≤ k in
    * (approx distance asc, neighbor asc) order. Each query is
    * excluded from its own results.
    */
  def adcTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, ksub: Int): DataFrame = {
    val dists = subspaceDistances(corpus, idCol, vecCol, m, ksub)
    val queryIds = queries.select(col(idCol).cast("long").as("query_id"))
    val tables = dists
      .join(broadcast(queryIds), dists("id") === queryIds("query_id"))
      .select(col("query_id"), col("j"), col("code"), col("dmicro"))
    val codes = encode(corpus, idCol, vecCol, m, ksub)
    val scored = codes
      .join(broadcast(tables), Seq("j", "code"))
      .filter(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("dmicro")).as("dist_micro"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.top_k_by(
        negate(col("dist_micro")).cast("double"), col("id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        negate(col("col.score")).cast("long").as("dist_micro"),
        (col("pos") + 1).as("rank"))
  }

  /** IVF-PQ: cell blocking for candidate generation (the
    * [[Similarity]] sampled-codebook IVF), ADC integer scoring for
    * the rank — the standard composition for corpus-scale search:
    * candidates shrink to the nprobe nearest cells (the corpus never
    * full-scans per query), and each surviving candidate costs m
    * table lookups, touching only its m-byte code. Output shape
    * matches [[adcTopK]].
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int, nprobe: Int, m: Int, ksub: Int): DataFrame = {
    // nlist = 0 derives the codebook size from the corpus count
    // (Similarity.derivedNlist — the kNN-family scale rule): a fixed
    // nlist leaves per-probe candidate lists growing with n/nlist.
    // 0 is the ONLY derive sentinel — reject accidental negatives.
    require(nlist >= 0, s"nlist must be >= 0 (0 = derive), got $nlist")
    val nl = if (nlist > 0) nlist
      else Similarity.derivedNlist(corpus.select(col(idCol)).count())
    val centDf = Similarity.sampledCodebook(corpus, idCol, vecCol, nl)
    val assigned =
      Similarity.assignCellsSampledCodebook(corpus, idCol, vecCol, nl)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("csim",
        round(VectorFunctions.cosine(col("qv"), col("centroid")), 6))
      .groupBy(col("query_id"))
      .agg(graft.functions.top_k_by(col("csim"), col("cell"), nprobe)
        .as("top"))
      .select(col("query_id"), explode(col("top")).as("probe"))
      .select(col("query_id"), col("probe.id").as("cell"))
    val dists = subspaceDistances(corpus, idCol, vecCol, m, ksub)
    val queryIds = queries.select(col(idCol).cast("long").as("query_id"))
    val tables = dists
      .join(broadcast(queryIds), dists("id") === queryIds("query_id"))
      .select(col("query_id"), col("j"), col("code"), col("dmicro"))
    val candidates = assigned.select(col("id"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
    val scored = candidates
      .join(encode(corpus, idCol, vecCol, m, ksub), Seq("id"))
      .join(broadcast(tables), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("dmicro")).as("dist_micro"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.top_k_by(
        negate(col("dist_micro")).cast("double"), col("id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        negate(col("col.score")).cast("long").as("dist_micro"),
        (col("pos") + 1).as("rank"))
  }

  private def subDim(corpus: DataFrame, vecCol: String, m: Int): Int = {
    require(m >= 1, s"m: $m")
    val dim = corpus.select(size(col(vecCol))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException("empty corpus")
    }
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    dim / m
  }
}

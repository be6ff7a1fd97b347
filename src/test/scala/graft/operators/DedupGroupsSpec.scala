package graft.operators

import graft.{SparkSuite, TempDirs}

/** Min-label propagation over duplicate pairs. */
class DedupGroupsSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  test("connected components label every node with its group minimum") {
    // a path (worst diameter), a clique-ish triangle, and a lone pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),        // path 1-2-3-4
      (20L, 21L), (21L, 22L), (20L, 22L),  // triangle
      (10L, 11L)                           // pair
    ).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(labels.toSeq == Seq(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("keepBest keeps the highest-score member per group, not min-id") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),  // group {1,2,3}: keep 2
      (10L, 0.7), (11L, 0.7),           // score tie: keep smaller id 10
      (50L, 0.1)                        // untouched by duplication
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBest(docs, "doc_id", pairs, "quality")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(2L, 10L, 50L))
    // contrast: min-id canonical keeps 1, not the cleanest copy
    val canon = Dedup.keepCanonical(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(canon === Seq(1L, 10L, 50L))
  }

  test("leakageSafeSplit keeps every near-dup group on one side and " +
      "assigns by the replayable md5 draw on the unit") {
    val docs = (1L to 12L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // groups {1,2,3} (unit 1), {10,11} (unit 10); 4..9,12 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", pairs,
      trainPermille = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), r.getString(3)))
    assert(out.length === 12)
    val byId = out.map(t => t._1 -> t).toMap
    // group members share their canonical unit and its split verbatim
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct === Seq(1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._4).distinct.length === 1)
    assert(Seq(10L, 11L).map(byId(_)._2).distinct === Seq(10L))
    assert(Seq(10L, 11L).map(byId(_)._4).distinct.length === 1)
    // grouped flags: true for every member incl. canonicals
    assert(Seq(1L, 2L, 3L, 10L, 11L).forall(byId(_)._3))
    assert(Seq(4L, 5L, 12L).forall(!byId(_)._3))
    // the draw replays: split = md5-lattice(unit) % 1000 < 800,
    // byte-identical to the DuckDB oracle's expression
    out.foreach { case (_, unit, _, split) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(unit.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val expected =
        if (java.lang.Long.parseLong(hex, 16) % 1000 < 800) "train"
        else "eval"
      assert(split === expected, s"unit $unit")
    }
    // determinism across partitionings
    val again = Dedup.leakageSafeSplit(docs.repartition(7), "doc_id",
        pairs.repartition(3), trainPermille = 800)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(out.map(t => t._1 -> t._4).toMap === again)
    // non-integral ids refuse loudly (the Dbscan convention): a
    // string id would cross-cast in the label join and group members
    // would silently split apart
    val strDocs = Seq(("a", "t")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(strDocs, "doc_id", pairs)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("leakageSafeSplitFromStore: a later ingest batch that near-dups " +
      "an existing doc inherits that doc's split (VERDICT r17 #6)") {
    // the stability story behind q_leakage_split_incremental: the
    // pair STORE accumulates batch partitions; assignment over the
    // union must (a) equal a one-shot split over the union and
    // (b) pull a new near-dup of an already-assigned doc onto that
    // doc's side instead of re-drawing it independently
    val docs = (1L to 30L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val root = tempDir("leak_store").toString
    // batch 0: groups {3,7} and {12,13}
    Seq((3L, 7L), (12L, 13L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(s"$root/batch=0")
    // batch 1: doc 21 arrives near-dupping doc 3's group
    Seq((3L, 21L)).toDF("id_a", "id_b")
      .write.mode("overwrite").parquet(s"$root/batch=1")
    val fromStore = Dedup
      .leakageSafeSplitFromStore(docs, "doc_id", root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    val byId = fromStore.map(t => t._1 -> t).toMap
    // 21 joined {3,7}'s group: same unit (canonical 3), same split
    assert(byId(21L)._2 === 3L && byId(3L)._2 === 3L)
    assert(byId(21L)._3 === byId(3L)._3)
    assert(byId(7L)._3 === byId(3L)._3)
    // store-driven assignment ≡ one-shot over the union of pairs
    val oneShot = Dedup.leakageSafeSplit(docs, "doc_id",
        Seq((3L, 7L), (12L, 13L), (3L, 21L)).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(fromStore.sortBy(_._1).toSeq === oneShot.sortBy(_._1).toSeq)
  }

  test("connectedComponents closes a 200-hop chain within 16 rounds " +
      "— adaptive path halving makes convergence O(log diameter)") {
    import spark.implicits._
    // A pure neighbor-min propagation needs ~199 rounds for this
    // chain; with halving engaging after 6 plain rounds it must
    // close in ~6 + log2(200) + slack. maxIter = 16 makes the bound
    // the test: non-convergence would leave interior labels above 0.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain, maxIter = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 200)
    assert(labels.values.forall(_ == 0L),
      s"non-zero labels: ${labels.filter(_._2 != 0L).take(5)}")
  }

  test("connectedComponentsWithRounds matches the halving recurrence " +
      "closed form on path graphs — the q_cc_diameter_scale replay") {
    import spark.implicits._
    // On a path, min-label reach is t for the 6 plain rounds then
    // reach(t) = 2·(reach(t−1)+1); the loop exits one round after
    // reach first covers the diameter. q_cc_diameter_scale oracles
    // the MEASURED round count against this recurrence in DuckDB, so
    // pin it here at three sizes (values cross-checked against a
    // step-by-step simulation of the loop semantics).
    def closedForm(n: Long): Int = {
      var t = 0; var reach = 0L
      while (reach < n - 1) {
        t += 1
        reach = if (t <= 6) reach + 1 else 2L * (reach + 1L)
      }
      t + 1
    }
    for ((n, expect) <- Seq((2L, 2), (10L, 8), (200L, 12))) {
      assert(closedForm(n) === expect, s"closed form drifted at n=$n")
      val chain = (0L until n - 1).map(i => (i, i + 1))
        .toDF("id_a", "id_b")
      val (labels, rounds) =
        Dedup.connectedComponentsWithRounds(chain)
      assert(rounds === expect,
        s"n=$n: measured $rounds rounds, closed form $expect")
      assert(labels.agg(org.apache.spark.sql.functions.max("label"))
        .head.getLong(0) === 0L)
    }
  }

  test("plain CC labels equal the counting variant's on chains, " +
      "cliques and forests — any loop-cadence optimization must " +
      "preserve this fixed-point equality") {
    import spark.implicits._
    // shapes chosen to converge on odd AND even step counts, before
    // and after halving engages (step 6): a long chain (halving
    // path), short chains (plain-propagation path), a clique, and
    // disconnected singleton pairs — the label lattice is monotone,
    // so any step-batching must land on the identical fixed point
    val fixtures = Seq(
      (0L until 99L).map(i => (i, i + 1)),              // 100-chain
      (0L until 6L).map(i => (i, i + 1)),               // 7-chain
      Seq((1L, 2L)),                                    // pair
      (for (a <- 30L to 34L; b <- 30L to 34L if a < b)
        yield (a, b)) ++ Seq((50L, 51L), (60L, 61L))    // clique+pairs
    )
    for (edges <- fixtures) {
      val df = edges.toDF("id_a", "id_b")
      val fast = Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val (slowDf, _) = Dedup.connectedComponentsWithRounds(df)
      val slow = slowDf
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      assert(fast.toSeq === slow.toSeq)
    }
  }
}

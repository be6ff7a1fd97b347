package graft.operators

import graft.SparkSuite

class DataQualitySpec extends SparkSuite {
  import spark.implicits._

  test("validate emits one row per violated rule; nulls are violations") {
    val df = Seq(
      (1L, Some("ok"), Some(10)),
      (2L, None, Some(10)),         // fails nonnull
      (3L, Some("ok"), Some(-1)),   // fails positive
      (4L, None, None)              // fails both; null predicate -> violation
    ).toDF("id", "s", "v")
    val out = DataQuality.validate(df, Seq("id"),
        Seq("s_nonnull" -> $"s".isNotNull, "v_positive" -> ($"v" > 0)))
      .as[(Long, String)].collect().toSet
    assert(out == Set(
      2L -> "s_nonnull", 3L -> "v_positive",
      4L -> "s_nonnull", 4L -> "v_positive"))
  }

  test("clean side via left_anti on the violations is exact") {
    val df = Seq((1L, 5), (2L, -5), (3L, 7)).toDF("id", "v")
    val bad = DataQuality.validate(df, Seq("id"), Seq("pos" -> ($"v" > 0)))
    val clean = df.join(bad.select("id").distinct(), Seq("id"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(clean == Set(1L, 3L))
  }

  test("keySkew ranks the heavy key first with exact ppm shares") {
    // key "hot" owns 6 of 10 rows → 600000 ppm
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b", "c", "d")).toDF("k")
    val out = DataQuality.keySkew(df, "k", 3).orderBy("rank").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSeq ===
      Seq((1, "hot", 6L, 600000L), (2, "a", 1L, 100000L),
        (3, "b", 1L, 100000L)))
    // cumulative share accumulates the integer shares
    assert(out.map(_.getLong(4)).toSeq === Seq(600000L, 700000L, 800000L))
  }

  test("keySkew counts null keys (the classic join-exploder)") {
    val df = Seq(Some("x"), None, None, None).toDF("k")
    val top = DataQuality.keySkew(df, "k", 1).collect().head
    assert(top.isNullAt(1) && top.getLong(2) === 3L)
  }

  test("kAnonymityViolations flags only below-k groups") {
    val df = Seq(
      ("us", "a"), ("us", "a"), ("us", "a"),  // size 3: safe at k=3
      ("fr", "a"), ("fr", "a"),               // size 2: risky
      ("de", "b")                             // size 1: risky
    ).toDF("nation", "seg")
    val out = DataQuality
      .kAnonymityViolations(df, Seq("nation", "seg"), 3)
      .orderBy("nation").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out === Seq(("de", "b", 1L), ("fr", "a", 2L)))
  }

  test("empty violations certify k-anonymity") {
    val df = Seq.fill(4)(("us", "a")).toDF("nation", "seg")
    assert(DataQuality
      .kAnonymityViolations(df, Seq("nation", "seg"), 3).count() === 0L)
  }

  test("lDiversityViolations flags k-large but homogeneous groups") {
    val df = Seq(
      ("us", "cancer"), ("us", "cancer"), ("us", "cancer"), // 3 rows, 1 value
      ("fr", "flu"), ("fr", "cancer"),                      // diverse: safe
      ("de", "flu")                                         // 1 row, 1 value
    ).toDF("nation", "diag")
    val out = DataQuality
      .lDiversityViolations(df, Seq("nation"), "diag", 2)
      .orderBy("nation").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // "us" is 3-anonymous yet fully homogeneous — exactly the case
    // kAnonymityViolations cannot see
    assert(out === Seq(("de", 1L, 1L), ("us", 3L, 1L)))
  }

  test("tClosenessViolations: exact integer-ppm TVD, threshold cut") {
    // global: x=5/6, y=1/6. A=[x,x,x,x]: TVD = 4/6−5/6→0 on x? no:
    // p_A(x)=1 vs 5/6 → Σmax = (4·6−5·4)/(4·6) = 4/24 = 1/6.
    // B=[x,y]: y term (1·6−1·2)/(2·6) = 4/12 = 1/3.
    val df = Seq(("A", "x"), ("A", "x"), ("A", "x"), ("A", "x"),
      ("B", "x"), ("B", "y")).toDF("qi", "s")
    val hi = DataQuality.tClosenessViolations(df, Seq("qi"), "s", 200000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hi.toSeq === Seq(("B", 2L, 333333L)))
    val lo = DataQuality.tClosenessViolations(df, Seq("qi"), "s", 100000L)
      .orderBy("qi")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(lo === Seq(("A", 166666L), ("B", 333333L)))
  }

  test("tClosenessViolations: a group matching the global " +
      "distribution never violates; partitioning-independent") {
    val rows = (1 to 120).map { i =>
      (s"g${i % 3}", if (i % 4 == 0) "rare" else "common")
    }
    val df = rows.toDF("qi", "s")
    // every group has the same 1/4-3/4 split as the table
    assert(DataQuality.tClosenessViolations(df, Seq("qi"), "s", 1L)
      .count() === 0)
    val skewed = df.union(Seq(("gz", "rare")).toDF("qi", "s"))
    val a = DataQuality.tClosenessViolations(skewed, Seq("qi"), "s", 1L)
      .orderBy("qi").collect().toSeq
    val b = DataQuality
      .tClosenessViolations(skewed.repartition(11), Seq("qi"), "s", 1L)
      .orderBy("qi").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("tableFingerprint: invariant to row order and partitioning, " +
      "sensitive to any single-row change") {
    val df = (1L to 200L).map(i => (s"g${i % 3}", i, s"payload-$i"))
      .toDF("g", "id", "v")
    def sig(d: org.apache.spark.sql.DataFrame) =
      DataQuality.tableFingerprint(d, Seq("g"), Seq("id", "v"))
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val base = sig(df)
    assert(sig(df.repartition(13)) === base)
    assert(sig(df.orderBy(org.apache.spark.sql.functions.desc("id")))
      === base)
    // flip one row's payload: only its group's signature moves
    val touched = (1L to 200L).map(i =>
      (s"g${i % 3}", i, if (i == 77L) "corrupt" else s"payload-$i"))
      .toDF("g", "id", "v")
    val changed = sig(touched)
    assert(changed.size === base.size)
    base.zip(changed).foreach { case (o, c) =>
      if (o._1 == "g2") assert(o !== c) // 77 % 3 == 2
      else assert(o === c)
    }
  }

  test("tableFingerprint signatures merge across shards") {
    val df = (1L to 100L).map(i => ("all", i)).toDF("g", "id")
    val whole = DataQuality.tableFingerprint(df, Seq("g"), Seq("id"))
      .collect().head
    val half1 = DataQuality.tableFingerprint(
      df.filter($"id" <= 50), Seq("g"), Seq("id")).collect().head
    val half2 = DataQuality.tableFingerprint(
      df.filter($"id" > 50), Seq("g"), Seq("id")).collect().head
    assert(half1.getLong(1) + half2.getLong(1) === whole.getLong(1))
    assert((half1.getLong(2) ^ half2.getLong(2)) === whole.getLong(2))
    val m = 2305843009213693952L
    assert((half1.getLong(3) + half2.getLong(3)) % m === whole.getLong(3))
  }
}

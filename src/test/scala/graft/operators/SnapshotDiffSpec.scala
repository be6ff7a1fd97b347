package graft.operators

import graft.SparkSuite

/** Snapshot diff: the four statuses, null-content handling, and
  * multi-column fingerprint sensitivity.
  */
class SnapshotDiffSpec extends SparkSuite {
  import spark.implicits._

  test("classifies added/removed/changed/unchanged") {
    val oldSnap = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "text")
    val newSnap = Seq(
      (1L, "a"), (3L, "C2"), (4L, "d"), (5L, "e")).toDF("id", "text")
    val got = SnapshotDiff.diff(oldSnap, newSnap, "id", Seq("text"))
      .orderBy("key").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      1L -> "unchanged", 2L -> "removed", 3L -> "changed",
      4L -> "unchanged", 5L -> "added"))
    val counts = SnapshotDiff.summary(
        SnapshotDiff.diff(oldSnap, newSnap, "id", Seq("text")))
      .as[(String, Long)].collect().toMap
    assert(counts == Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 2L))
  }

  test("null content is a value, not a wildcard") {
    val oldSnap = Seq((1L, Option("x")), (2L, Option.empty[String]))
      .toDF("id", "text")
    val newSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "text")
    val got = SnapshotDiff.diff(oldSnap, newSnap, "id", Seq("text"))
      .orderBy("key").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "changed", 2L -> "unchanged"))
  }

  test("any fingerprinted column triggers 'changed'") {
    val oldSnap = Seq((1L, "t", "src1"), (2L, "t", "src1"))
      .toDF("id", "text", "source")
    val newSnap = Seq((1L, "t", "src2"), (2L, "t", "src1"))
      .toDF("id", "text", "source")
    val got = SnapshotDiff
      .diff(oldSnap, newSnap, "id", Seq("text", "source"))
      .orderBy("key").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "changed", 2L -> "unchanged"))
  }
}

package graft.queries

import graft.SparkSuite

/** VERDICT r18 #3: the store-driven queries (BPE artifact roundtrip,
  * streaming sinks, streaming dedup ingest, format roundtrip, the
  * incremental leakage split) used to create a temp parquet store per
  * invocation and never delete it — a corpus-sized /tmp leak on every
  * Verify sweep and every Bench rep in a long-lived JVM. All six
  * sites now run under [[graft.operators.Par.withTempStore]],
  * which pins the result (Par.pin) and recursively deletes
  * the store, success or failure. The `graft_` prefix on every store
  * dir makes the hygiene assertable: run representatives of the three
  * store shapes (plain write, streaming sink, three-store ingest
  * loop) and require /tmp to carry no new graft_* dirs after.
  */
class TempStoreHygieneSpec extends SparkSuite {

  test("store-driven queries leave no graft_* dirs in tmp " +
      "(VERDICT r18 #3)") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .map(_.getName).toSet
    val before = graftDirs()
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("q_format_roundtrip", "q_bpe_roundtrip",
        "q_stream_dedup_ingest")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      assert(df.count() >= 0L, s"$q must still produce a result")
    }
    val leaked = graftDirs() -- before
    assert(leaked.isEmpty, s"leaked temp stores: $leaked")
  }

  test("withTempStore deletes the store even when the body throws") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def present(prefix: String): Set[String] =
      Option(tmp.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
        .map(_.getName).toSet
    val before = present("graft_hygiene_t")
    intercept[RuntimeException] {
      graft.operators.Par
        .withTempStore("graft_hygiene_t") { root =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(root, "junk.txt"), "x")
          throw new RuntimeException("boom")
        }
    }
    assert((present("graft_hygiene_t") -- before).isEmpty,
      "the store must be deleted on the failure path too")
  }
}

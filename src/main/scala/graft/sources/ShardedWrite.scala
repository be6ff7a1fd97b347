package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-shard sink: materialize a curated corpus as size-bounded,
  * id-clustered parquet shards plus a manifest — the layout a
  * dataloader consumes (sequential reads of one shard each, sized to
  * worker memory, with a shard→id-range index for resumption and
  * deterministic interleaving).
  *
  * Scale design:
  *  - the per-file row bound is enforced by `maxRecordsPerFile`
  *    (task-local splitting as rows stream out — no count pass and no
  *    second shuffle);
  *  - the range exchange on the id is the ONLY shuffle and doubles as
  *    the global clustering a contiguous-shard layout needs: within a
  *    task rows arrive sorted, so consecutive files cover disjoint id
  *    ranges;
  *  - the manifest is file-count-sized, computed by one read-back
  *    grouped on `input_file_name()`, and written under `_manifest`
  *    (underscore-prefixed: invisible to readers of the data dir,
  *    like `_SUCCESS`).
  */
object ShardedWrite {

  /** Write `df` under `outDir/data` with at most `rowsPerShard` rows
    * per parquet file, clustered by `idCol`; write and return the
    * manifest (shard, n_rows, min_id, max_id), ordered by id range.
    * `targetTasks` bounds the range exchange width (defaults to the
    * session shuffle parallelism).
    */
  def writeSharded(
      df: DataFrame,
      outDir: String,
      idCol: String,
      rowsPerShard: Long,
      targetTasks: Int = 0): DataFrame = {
    require(rowsPerShard > 0, s"rowsPerShard: $rowsPerShard")
    val spark = df.sparkSession
    val n = if (targetTasks > 0) targetTasks
            else spark.sessionState.conf.numShufflePartitions
    df.repartitionByRange(n, col(idCol))
      .sortWithinPartitions(col(idCol))
      .write.option("maxRecordsPerFile", rowsPerShard)
      .mode("overwrite").parquet(s"$outDir/data")
    // manifest records shard BASENAMES, not the absolute URIs
    // input_file_name() returns: an absolute manifest silently keeps
    // pointing a relocated corpus (s3 version-dir copy, HDFS
    // migration) at the OLD paths — readers resolve the basename
    // against their own outDir at read time instead
    val manifest = spark.read.parquet(s"$outDir/data")
      .select(regexp_extract(input_file_name(), "[^/]+$", 0)
        .as("shard"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("__id")).as("min_id"),
        max(col("__id")).as("max_id"))
      .orderBy(col("min_id"))
    manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
    spark.read.parquet(s"$outDir/_manifest")
  }
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads travel as opaque
  * `binary` columns with typed metadata structs; decode runs batched
  * per partition.
  *
  * The container has no image/audio codecs, so [[stubDecode]] is a
  * clearly-marked DETERMINISTIC FAKE — the Spark-side plumbing (binary
  * schema, partition-batched iteration, metadata struct shape) is real
  * and oracle-tested; swap `stubDecode` for a JNI/codec call in
  * production.
  */
object Multimodal {

  /** Decoded-media metadata record (what a real decoder would emit). */
  case class MediaMeta(
      id: Long,
      nbytes: Long,
      format: String,
      width: Int,
      height: Int,
      checksum: String)

  /** STUB decoder — deterministic fake: dimensions derived from the
    * payload size, checksum = md5. A real implementation would parse
    * the container header here (and only here — callers are agnostic).
    */
  def stubDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length.toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    val sum = md.digest(bytes).map("%02x".format(_)).mkString
    MediaMeta(id, n, "txt",
      320 + (n % 13).toInt * 32,
      240 + (n % 7).toInt * 40,
      sum)
  }

  /** Attach media payload (binary) to a text table — the stand-in for
    * an image/audio column in the synthetic testdata.
    */
  def withPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      encode(col(textCol), "UTF-8").as("payload"))

  /** Batched decode over partitions: iterate each partition in chunks
    * (the shape a vectorized/native decoder needs), emit metadata rows.
    * No shuffle; decode parallelism = partition count, so repartition
    * upstream to match executor×codec capacity at scale.
    */
  def decodeMeta(payloads: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = Encoders.product[MediaMeta]
    payloads.select(col("id"), col("payload"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // a native decoder would process `batch` in one call;
          // null payload → empty array rather than an NPE'd task
          batch.map { r =>
            val bytes = Option(r.getAs[Array[Byte]](1))
              .getOrElse(Array.emptyByteArray)
            stubDecode(r.getLong(0), bytes)
          }
        }
      }(enc).toDF()
  }

  /** Frame sampling: fixed-offset byte-range "frames" of the payload,
    * fingerprinted. Pure column expressions (codegen); a video
    * pipeline would replace the md5 with a decode-and-embed UDF over
    * the same slicing.
    */
  def sampleFrames(
      payloads: DataFrame, frameBytes: Int, maxFrames: Int): DataFrame =
    payloads
      .select(col("id"), col("payload"),
        posexplode(array((0 until maxFrames).map(lit): _*))
          .as(Seq("frame_idx", "f")))
      .filter(col("f") * frameBytes < octet_length(col("payload")))
      .select(col("id"), col("frame_idx"),
        md5(col("payload")
          .substr(col("frame_idx") * frameBytes + 1, lit(frameBytes)))
          .as("frame_md5"))
}

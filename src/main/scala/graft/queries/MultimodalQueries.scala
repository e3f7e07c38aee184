package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing q41–q42 (SURVEY.md §2).
  *
  * Real image/audio codecs are absent from this container (per the
  * build brief), so the decode KERNEL is stubbed with a deterministic
  * fake ([[graft.multimodal.DecodeStub]]); everything around it —
  * binary payload column, typed metadata struct, per-partition batch
  * decode, frame sampling — is real Spark plumbing with real schemas,
  * exactly the shape a libjpeg/ffmpeg kernel would drop into.
  */
object MultimodalQueries {

  // ---------------------------------------------------------------- q41
  /** Decode + resize metadata pipeline over an opaque binary column.
    * Column-expression path (codegen-friendly): metadata derived from
    * the payload deterministically; "resize" = fit into 224×224
    * preserving aspect ratio with integer arithmetic.
    */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val h = xxhash64(col("payload"))
    // STUB decode: a real kernel would parse the image header here.
    val width  = (pmod(h, lit(1920L)) + 32L).cast("int")
    val height = (pmod(shiftright(h, 16), lit(1080L)) + 32L).cast("int")
    val fmt = element_at(
      typedlit(Seq("jpeg", "png", "webp")),
      (pmod(shiftright(h, 32), lit(3L)) + 1L).cast("int"))
    d.select(col("doc_id"), length(col("payload")).as("n_bytes"),
        width.as("width"), height.as("height"), fmt.as("format"))
      .withColumn("scale_num",
        when(col("width") >= col("height"), lit(224) * col("height"))
          .otherwise(lit(224) * col("width")))
      .withColumn("resized_w",
        when(col("width") >= col("height"), lit(224))
          .otherwise((col("width") * lit(224)).divide(col("height")).cast("int")))
      .withColumn("resized_h",
        when(col("width") >= col("height"),
          (col("height") * lit(224)).divide(col("width")).cast("int"))
          .otherwise(lit(224)))
      .drop("scale_num")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q42
  /** Frame sampling over a "video" payload: fixed-size frames, every
    * 4th sampled, per-frame feature hash. `substr` on binary stays a
    * column op; `sequence` bounds the per-row frame list.
    */
  private def q42(s: SparkSession, dir: String): DataFrame = {
    val FrameBytes = 64
    val SampleEvery = 4
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("n_frames",
        (length(col("payload")).cast("long") / FrameBytes).cast("int"))
      .filter(col("n_frames") >= 1)
    d.select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .filter(pmod(col("frame_idx"), lit(SampleEvery)) === 0)
      .withColumn("frame_hash",
        xxhash64(col("doc_id").cast("string"), col("frame_idx").cast("string")))
      .select(col("doc_id"), col("frame_idx"), col("frame_hash"))
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q62
  /** Batch-kernel decode path: the same decode as q41, but driven
    * through `mapPartitions` with explicit batching — the shape a
    * NATIVE codec binding needs (per-batch scratch-buffer/native-call
    * amortization; cf. [[graft.multimodal.DecodeStub.decodeBatch]]).
    * Typed Dataset in, case-class Encoder out: schema, partitioning
    * and batch size are all real; only the kernel arithmetic is the
    * stub. MultimodalSpec asserts this path is row-identical to
    * q41's column-expression path — two independent implementations
    * of the same decode.
    *
    * Scale note: this is a pure map stage — no shuffle, scan-bound,
    * and the batch size bounds per-task scratch memory regardless of
    * partition size.
    */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.DecodeStub
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(DecodeStub.BatchSize)
        .flatMap(DecodeStub.decodeBatch))
      .toDF()
      .orderBy("doc_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q41_mm_decode", q41, None),
    Query("q42_mm_frames", q42, None),
    Query("q62_mm_batch_decode", q62, None))
}

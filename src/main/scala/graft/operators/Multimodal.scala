package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.6).
  *
  * Media payloads are opaque `binary` columns with typed metadata; the
  * engine's job at 100 TB is the plumbing — schema, partition sizing,
  * batched per-partition transforms — not the codecs. This container
  * ships no image/audio libraries, so `decodeStub` is a clearly-marked
  * DETERMINISTIC FAKE (features derived from content bytes); swapping
  * in a real codec changes only the function body, not the plan shape.
  */
object Multimodal {

  final case class MediaFile(
      id: Long, kind: String, content: Array[Byte], tags: Map[String, String])

  final case class MediaFeatures(
      id: Long, kind: String, nBytes: Long, magicHex: String,
      width: Int, height: Int, nFrames: Int, feature: Array[Float])

  /** STUB CODEC — deterministic fake decode. A real implementation
    * would parse the container format here; the fake derives
    * plausible, reproducible dimensions/features from md5 of the
    * content bytes. md5 (not a JVM hash) keeps the fake
    * engine-portable, which is what lets the m2 pipeline be
    * DuckDB-oracled end-to-end despite the stub.
    */
  def decodeStub(m: MediaFile): MediaFeatures = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(m.content)
    // first 4 md5 bytes, big-endian, as an unsigned 32-bit value —
    // identical to DuckDB's ('0x' || substr(md5(text), 1, 8))::BIGINT
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    val magic = m.content.take(4).map(b => f"$b%02X").mkString
    val frames = m.kind match {
      case "video" => 1 + (h / 256L % 240L).toInt
      case "audio" => 1 + (h / 256L % 16000L).toInt
      case _ => 1
    }
    val feat = Array.tabulate(8)(i => (h * (i + 31) % 1000L) / 1000.0f)
    MediaFeatures(m.id, m.kind, m.content.length.toLong, magic,
      (64L + h % 1024L).toInt, (64L + h / 16L % 1024L).toInt, frames, feat)
  }

  /** Batched decode with byte-budget partition sizing: repartitions so
    * each task holds ~`targetPartitionBytes` of payload (decoders are
    * memory-bound, so row-count partitioning is wrong for media), then
    * decodes per-partition. `mapPartitions` is the genuine semantics
    * here — imperative per-batch work — per the (d) escape hatch in
    * the build rules.
    */
  def decodeAll(ds: Dataset[MediaFile],
      targetPartitionBytes: Long = 128L << 20): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    // Partition count comes from the optimizer's size ESTIMATE
    // (parquet footer/file stats propagated through the plan), not
    // from scanning the payload: a `sum(octet_length(content))`
    // pre-pass would read every content byte twice — a full extra
    // pass over 100 TB. Sizing needs only the right order of
    // magnitude, which plan statistics give for free.
    val totalBytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    // RDD-backed datasets report the unknown-stats sentinel
    // (defaultSizeInBytes ≈ Long.MaxValue) — repartitioning by THAT
    // would launch the max-partition cap in tasks. With no usable
    // estimate, keep the input partitioning (the caller's layout is a
    // better guess than a made-up byte count).
    val unknown = BigInt(ds.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (totalBytes >= unknown)
      ds.mapPartitions(_.map(decodeStub))
    else {
      val parts = ((totalBytes + targetPartitionBytes - 1) / targetPartitionBytes)
        .max(1).min(1 << 20).toInt
      ds.repartition(parts).mapPartitions(_.map(decodeStub))
    }
  }

  /** A sampled frame reference: which frames of which media object a
    * downstream stage should decode (frame EXTRACTION would go
    * through the stub codec; the reference list is the plumbing).
    */
  final case class FrameRef(id: Long, frameIdx: Int)

  /** Frame sampling: every `stride`-th frame of each decoded media
    * object. A typed flatMap — one row fans out to
    * ceil(nFrames/stride) rows inside the partition, no shuffle; the
    * fan-out is the output size, exactly like t11's chunking.
    */
  def frameSample(feats: Dataset[MediaFeatures], stride: Int): Dataset[FrameRef] = {
    import feats.sparkSession.implicits._
    require(stride > 0, s"stride must be positive, got $stride")
    feats.flatMap(f => (0 until f.nFrames by stride).map(FrameRef(f.id, _)))
  }

  /** Build a MediaFile dataset from a text corpus (test/demo helper —
    * binary column materialized from text bytes).
    */
  def fromText(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, kind: String): Dataset[MediaFile] = {
    import spark.implicits._
    docs.select(col(idCol).as("id"), lit(kind).as("kind"),
        col(textCol).cast("binary").as("content"),
        map(lit("origin"), lit("text")).as("tags"))
      .as[MediaFile]
  }
}

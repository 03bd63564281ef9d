package graft.multimodal

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.operators.H

/** A media blob in flight: opaque bytes + typed metadata.
  * (Mirrors the reference's posture of typed schemas around opaque payloads;
  * media-specific fields live in metadata, not in the schema.) */
final case class MediaBlob(doc_id: Long, data: Array[Byte], mime: String)

/** Features produced by decode/extract. */
final case class MediaFeatures(doc_id: Long, n_bytes: Long, content_md5: String,
    width: Long, height: Long, mean_px: Long, n_frames: Long)

/** Codec abstraction: the only piece to swap when real image/audio libs are
  * available. Implementations MUST be deterministic per input bytes. */
trait MediaCodec extends Serializable {
  def decode(blob: MediaBlob): MediaFeatures
}

/** Deterministic stand-in for an image decoder (no codecs in this
  * container). "Dimensions" and "mean pixel" derive from a 32-bit md5-prefix
  * hash of the payload so the DuckDB oracle can recompute them exactly. */
object StubImageCodec extends MediaCodec {
  /** Same 32-bit hash as [[graft.operators.H]] over the payload bytes. A
    * digest per call: MessageDigest is not thread-safe, and this object is
    * shared by every task of the executor. */
  def h32(b: Array[Byte]): Long = H.prefix(MessageDigest.getInstance("MD5").digest(b), 32)

  def decode(blob: MediaBlob): MediaFeatures = {
    val dg = MessageDigest.getInstance("MD5").digest(blob.data)
    val h = H.prefix(dg, 32)
    val hr = h32(blob.data.reverse)
    MediaFeatures(
      doc_id = blob.doc_id,
      n_bytes = blob.data.length.toLong,
      content_md5 = dg.map("%02x".format(_)).mkString,
      width = h % 640 + 1,
      height = hr % 480 + 1,
      mean_px = (h / 7) % 256,
      n_frames = blob.data.length.toLong / 100 + 1)
  }
}

/** The distributed pipeline: DataFrame → binary column → per-partition
  * batched decode → typed features DataFrame. */
object MediaPipeline {
  /** Rows are processed in fixed-size batches inside each partition (the
    * JVM analogue of `mapInPandas` batch shape): a real codec would amortize
    * native-library setup per batch, and batch size bounds peak memory no
    * matter how skewed blob sizes are. */
  val batchSize = 256

  def decodeBatched(blobs: Dataset[MediaBlob], codec: MediaCodec): Dataset[MediaFeatures] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch => batch.map(codec.decode) }
    }
  }

  /** documents → MediaBlob (text bytes as stand-in payload) → features. */
  def extractFeatures(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    val blobs = documents
      .selectExpr("doc_id", "cast(text as binary) as data", "'text/plain' as mime")
      .as[MediaBlob]
    decodeBatched(blobs, StubImageCodec).toDF()
  }

  /** Frame sampling: one row per sampled frame (up to `maxFrames` of the
    * blob's n_frames), with per-frame stub features. The explode happens
    * executor-side inside the batched pipeline — the shape a video
    * pipeline needs (one blob in, N frame rows out, memory bounded by
    * batch × maxFrames). */
  def sampleFrames(spark: SparkSession, documents: DataFrame,
      maxFrames: Int = 5): DataFrame = {
    import spark.implicits._
    val blobs = documents
      .selectExpr("doc_id", "cast(text as binary) as data", "'video/stub' as mime")
      .as[MediaBlob]
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.flatMap { blob =>
        val f = StubImageCodec.decode(blob)
        val n = math.min(f.n_frames, maxFrames.toLong).toInt
        val h = StubImageCodec.h32(blob.data)
        (0 until n).map { idx =>
          val frameHash = (h * 31L + idx) % 1000000007L
          FrameFeatures(blob.doc_id, idx.toLong, frameHash, frameHash % 256)
        }
      })
    }.toDF()
  }

  /** Resize planning: fit the longest side to `target` px with integer
    * math (deterministic across engines — no float scale factor). */
  def resizePlan(spark: SparkSession, documents: DataFrame, target: Int = 224): DataFrame = {
    import spark.implicits._
    val blobs = documents
      .selectExpr("doc_id", "cast(text as binary) as data", "'image/stub' as mime")
      .as[MediaBlob]
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.map { blob =>
        val f = StubImageCodec.decode(blob)
        val longest = math.max(f.width, f.height)
        ResizePlan(blob.doc_id, f.width, f.height,
          f.width * target / longest, f.height * target / longest)
      })
    }.toDF()
  }
}

final case class FrameFeatures(doc_id: Long, frame_idx: Long,
    frame_hash: Long, brightness: Long)

final case class ResizePlan(doc_id: Long, width: Long, height: Long,
    out_w: Long, out_h: Long)

package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One multimodal asset: an opaque binary payload plus typed metadata. */
case class Asset(asset_id: Long, kind: String, payload: Array[Byte], source: String)

case class AssetFeatures(
    asset_id: Long,
    kind: String,
    n_bytes: Long,
    n_frames: Int,
    batch_id: Long,
    features: Array[Float]
)

/** Multimodal-column plumbing: image/audio/video travel as opaque BinaryType columns
  * with typed metadata; decode / feature-extraction runs batched inside mapPartitions.
  * REAL codecs live in [[graft.ops.Codecs]] (from-scratch RIFF/WAVE PCM-16 and 24bpp
  * BMP parsers, oracle-gated by q92/q93); `decodeStub` below stands in only for
  * codecs that genuinely require external libraries (JPEG/H.264-class entropy
  * coding — none exist in this environment). The Spark-side batching, schema and
  * partitioning here are real either way.
  */
object Multimodal {

  val FeatureDim = 16

  /** STUB decoder: a real implementation would decode the media codec here. This stands
    * in with a deterministic byte-statistics "embedding" so the pipeline around it is
    * fully testable.
    */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val f = new Array[Float](FeatureDim)
    var i = 0
    while (i < payload.length) {
      f(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    if (payload.length > 0) {
      var k = 0
      while (k < FeatureDim) { f(k) /= payload.length; k += 1 }
    }
    f
  }

  /** Frame sampling for video-like payloads: every `stride` bytes, take a `frameLen`
    * slice (stub for keyframe extraction; shapes and boundaries are real).
    */
  def sampleFrames(payload: Array[Byte], stride: Int, frameLen: Int): Array[Array[Byte]] = {
    require(stride > 0 && frameLen > 0)
    val out = mutable.ArrayBuffer[Array[Byte]]()
    var off = 0
    while (off < payload.length) {
      out += java.util.Arrays.copyOfRange(payload, off, math.min(off + frameLen, payload.length))
      off += stride
    }
    out.toArray
  }

  /** Batched feature extraction: payloads are gathered into fixed-size batches inside
    * each partition (the batch boundary a real vectorized decoder would want), then
    * decoded and emitted with their batch id. Partitioning is by asset_id so work
    * spreads evenly regardless of payload skew.
    */
  def extractFeatures(
      spark: SparkSession, assets: Dataset[Asset], numPartitions: Int, batchSize: Int = 64): Dataset[AssetFeatures] = {
    import spark.implicits._
    assets
      .repartition(numPartitions, col("asset_id"))
      .mapPartitions { it =>
        it.grouped(batchSize).zipWithIndex.flatMap { case (batch, batchIdx) =>
          // a real decoder would process `batch` as one vectorized call
          batch.iterator.map { a =>
            val frames = sampleFrames(a.payload, stride = 256, frameLen = 64)
            AssetFeatures(a.asset_id, a.kind, a.payload.length.toLong, frames.length,
              batchIdx.toLong, decodeStub(a.payload))
          }
        }
      }
  }
}

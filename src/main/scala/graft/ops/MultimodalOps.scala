package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata structs.
  *
  * The Spark-side mechanics — schema, batched per-partition processing
  * (the JVM analogue of a `mapInPandas` batch loop), partition sizing,
  * deterministic outputs — are real and tested. The actual codec step is
  * STUBBED (`fakeDecode`): the sandbox ships no image/audio libraries, so
  * decode parses a deterministic 16-byte synthetic header instead of
  * invoking a codec. Swap `fakeDecode` for a real decoder at deployment;
  * nothing else changes.
  */
object MultimodalOps {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaMeta(media_id: Long, kind: String, width: Int, height: Int,
                             duration_ms: Int, byte_len: Int)
  final case class MediaFeature(media_id: Long, feature: Array[Float])
  final case class MediaFrame(media_id: Long, frame_idx: Int, frame_hash: Long)

  /** Deterministic synthetic media table: payload = 16-byte header
    * (width, height, duration, kind tag) + pseudo-random body derived from
    * the id. Stands in for a real binary-source scan.
    */
  def syntheticMedia(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      val w = (64 + id % 512).toInt
      val h = (64 + id % 256).toInt
      val dur = (1000 + id % 60000).toInt
      val header = java.nio.ByteBuffer.allocate(16)
        .putInt(w).putInt(h).putInt(dur).putInt((id % 3).toInt).array()
      val body = Array.tabulate[Byte]((id % 96 + 32).toInt)(i => ((id * 31 + i) % 251).toByte)
      MediaRow(id, kind, header ++ body)
    }
  }

  /** STUB decode: parse the synthetic header. Real deployment: replace the
    * body of this function with the codec call (e.g. TwelveMonkeys/JavaCV);
    * signature and batching stay identical.
    */
  private def fakeDecode(r: MediaRow): MediaMeta = {
    val bb = java.nio.ByteBuffer.wrap(r.payload)
    MediaMeta(r.media_id, r.kind, bb.getInt(0), bb.getInt(4), bb.getInt(8), r.payload.length)
  }

  /** Batched metadata extraction: one decoder context per partition, rows
    * processed in a batch loop (the mapInPandas shape, JVM edition).
    */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (one codec ctx per task)
      it.grouped(256).flatMap(batch => batch.iterator.map(fakeDecode))
    }
  }

  /** Feature extraction stub: deterministic `dim`-dim float signature from
    * the payload bytes (stands in for an embedding model forward pass; batch
    * shape is what matters at scale). The fold is PORTABLE modular
    * arithmetic — per dimension d: acc₀ = 2654435769 + d, acc ← (acc·31 +
    * byte + d) mod FingerprintP, feature = ((acc mod 2000) − 1000)/1000 ∈
    * [−1, 1) — so a DuckDB oracle replays the feature→dedup chain
    * bit-for-bit (mm_feature_dups).
    */
  def featurize(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    val p = graft.ops.PortableHash.FingerprintP
    media.mapPartitions { it =>
      it.grouped(256).flatMap(_.iterator.map { r =>
        val f = Array.tabulate(dim) { d =>
          var acc = 2654435769L + d
          r.payload.foreach(b => acc = (acc * 31 + (b & 0xff) + d) % p)
          ((acc % 2000).toInt - 1000) / 1000.0f
        }
        MediaFeature(r.media_id, f)
      })
    }
  }

  /** Resize: image payloads whose decoded dims exceed `maxDim` are scaled
    * (aspect preserved) — header rewritten with the new dims, body
    * stride-resampled deterministically. The sampling stands in for the
    * codec's resampler (same stub boundary as fakeDecode); the batching,
    * schema preservation, and payload rewrite are the real scale mechanics:
    * output rows stay MediaRow, so the resized corpus feeds every
    * downstream op unchanged.
    */
  def resize(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(256).flatMap(_.iterator.map { r =>
        val m = fakeDecode(r)
        // header-only payloads (empty body) have nothing to resample —
        // without this guard the tabulate below indexes body(-1)
        if (r.kind != "image" || (m.width <= maxDim && m.height <= maxDim) ||
          r.payload.length <= 16) r
        else {
          val scale = maxDim.toDouble / math.max(m.width, m.height)
          val w = math.max((m.width * scale).toInt, 1)
          val h = math.max((m.height * scale).toInt, 1)
          val body = r.payload.drop(16)
          val stride = math.max(body.length * 1.0 / math.max((body.length * scale).toInt, 1), 1.0)
          val sampled = Array.tabulate(math.max((body.length * scale).toInt, 1)) {
            i => body(math.min((i * stride).toInt, body.length - 1))
          }
          val header = java.nio.ByteBuffer.allocate(16)
            .putInt(w).putInt(h).putInt(m.duration_ms).putInt(0).array()
          MediaRow(r.media_id, r.kind, header ++ sampled)
        }
      })
    }
  }

  /** Frame sampling stub for video rows: every `everyMs` of the (fake)
    * duration yields one frame row — explode-shaped output, so downstream
    * per-frame ops parallelize row-wise.
    */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Int = 1000): Dataset[MediaFrame] = {
    require(everyMs > 0, "everyMs must be positive") // fail at the driver, not per-row
    import media.sparkSession.implicits._
    decodeMeta(media).filter(col("kind") === "video").as[MediaMeta].flatMap { m =>
      (0 until math.max(m.duration_ms / everyMs, 1)).map { i =>
        MediaFrame(m.media_id, i, m.media_id * 1000003L + i)
      }
    }
  }
}

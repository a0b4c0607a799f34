package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (north-star): image/audio/video as opaque
  * `binary` columns with typed metadata, processed per-partition.
  *
  * The decode step is REAL for RIFF/WAVE PCM audio, 24bpp BMP images and
  * non-interlaced 8-bit RGB/RGBA PNG (graft.ext.MediaCodecs — pure-JVM
  * byte parsing; PNG's zlib comes from java.util.zip, no libraries
  * needed); genuinely codec-bound formats (jpeg/mp4) fall back to
  * `decodeStub`, a deterministic fake, because this container ships no
  * compressed-codec libraries. Swapping a real library in changes only
  * the per-kind dispatch below.
  *
  * Scale design: media bytes never shuffle — decode/feature-extraction is
  * `mapPartitions` (narrow); only the small extracted-feature columns flow
  * into joins/aggregations. Batch shape mirrors `mapInPandas`: an iterator
  * of rows per partition, so a real decoder can amortize codec init
  * per-partition exactly like a Pandas UDF amortizes per-batch.
  */
object Multimodal {

  /** A media row: opaque payload + provenance. */
  final case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte])

  /** Extracted (fake-)decoded metadata. */
  final case class MediaMeta(
      media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, sample_rate: Int, checksum: Long)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false)))

  /** STUB codec: deterministic fake "decode" — a real implementation would
    * call the image/audio library here (library init once per partition).
    * Fake header layout: bytes 0-3 width, 4-7 height, 8-11 sample_rate
    * (big-endian), falling back to derived values for short payloads.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    def be32(off: Int): Int =
      if (bytes.length >= off + 4)
        ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
          ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      else bytes.length * (off + 1)
    // floorMod, not .abs: Int.MinValue.abs stays negative
    (math.floorMod(be32(0), 8192), math.floorMod(be32(4), 8192),
      math.floorMod(be32(8), 192000))
  }

  private def checksum(bytes: Array[Byte]): Long =
    bytes.foldLeft(1125899906842597L)((h, b) => 31 * h + b)

  /** Decode/feature-extract each media row — per-partition, codec init
    * amortized (the `mapInPandas` batch shape). Real codecs for wav/bmp/png
    * payloads and real HEADER parsing for jpeg/mp4 (MediaCodecs — SOF
    * marker scan / ISO-BMFF box walk; only pixel/sample DECODE of the
    * compressed formats needs the libraries this container lacks); stub
    * for unknown kinds. mp4's `sample_rate` slot carries the mvhd
    * timescale (ticks per second — the container's rate field).
    */
  def extractMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real codec: initialize the decoder library HERE, once per partition
      rows.map { r =>
        val (w, h, sr) = (r.kind match {
          case "wav" => MediaCodecs.parseWav(r.bytes)
            .map(i => (0, 0, i.sampleRate))
          case "bmp" => MediaCodecs.parseBmp(r.bytes)
            .map(i => (i.width, i.height, 0))
          case "png" => MediaCodecs.parsePng(r.bytes)
            .map(i => (i.width, i.height, 0))
          case "jpeg" => MediaCodecs.parseJpegMeta(r.bytes)
            .map(i => (i.width, i.height, 0))
          case "gif" => GifCodec.parseGifMeta(r.bytes)
            .map(i => (i.width, i.height, 0))
          case "mp4" => MediaCodecs.parseMp4Meta(r.bytes)
            .map(i => (i.width, i.height, i.timescale))
          case _ => None
        }).getOrElse(decodeStub(r.bytes))
        MediaMeta(r.media_id, r.kind, r.bytes.length, w, h, sr, checksum(r.bytes))
      }
    }
  }

  /** Audio feature extraction over PCM WAV payloads: container fields +
    * RMS energy + zero crossings, computed where the bytes sit (narrow);
    * rows that fail to parse are dropped (dead-letter them upstream if
    * they must be kept).
    */
  def audioFeatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseWav(r.bytes).map(i =>
          (r.media_id, i.channels, i.sampleRate, i.nSamples,
            i.durationSec, i.rms, i.zeroCrossings))
      }
    }.toDF("media_id", "channels", "sample_rate", "n_samples",
      "duration_sec", "rms", "zero_crossings")
  }

  /** Image feature extraction over 24bpp BMP, 8-bit RGB/RGBA PNG,
    * baseline JPEG, or GIF payloads (format sniffed per row by magic
    * bytes): dimensions + mean luminance. JPEG and GIF go through the
    * full pixel decoders ([[JpegCodec.decodeJpeg]] — r9;
    * [[GifCodec.decodeGif]] — r10), so mean luminance is computed from
    * DECODED pixels for all four formats, not a stub. GIF reports 8 bpp
    * (palette-indexed). Same narrow shape as [[audioFeatures]]. */
  def imageFeatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseBmp(r.bytes)
          .map(i => (r.media_id, i.width, i.height, i.bitsPerPixel, i.meanLuminance))
          .orElse(MediaCodecs.parsePng(r.bytes).map(i =>
            (r.media_id, i.width, i.height,
              if (i.colorType == 6) 32 else 24, i.meanLuminance)))
          .orElse(JpegCodec.decodeJpeg(r.bytes).map { img =>
            // bpp from the SOF component count: grayscale JPEG is 8 bpp
            val bpp = MediaCodecs.parseJpegMeta(r.bytes)
              .map(m => if (m.nComponents == 1) 8 else 24).getOrElse(24)
            (r.media_id, img.width, img.height, bpp,
              meanLuma(img.width, img.height, img.r, img.g, img.b))
          })
          .orElse(GifCodec.decodeGif(r.bytes).map { img =>
            (r.media_id, img.width, img.height, 8,
              meanLuma(img.width, img.height, img.r, img.g, img.b))
          })
      }
    }.toDF("media_id", "width", "height", "bpp", "mean_luminance")
  }

  /** Perceptual difference-hash (dHash) over 24bpp BMP payloads: decode,
    * nearest-resample the luminance plane to an 8×8 grid, and set bit
    * k = y·7 + x (x ∈ 0..6, y ∈ 0..7 — 56 bits, always a non-negative
    * Long) iff lum(x+1, y) > lum(x, y). Luminance is the INTEGER BT.601
    * numerator 299·r + 587·g + 114·b (no division — ordering is all
    * dHash reads), and the resample is the same floor arithmetic as
    * [[MediaCodecs.resizeBmpNearest]] (sx = x·w/8), so the whole hash is
    * integer-exact and closed-form recomputable for synthetic images.
    * dHash is invariant to uniform brightness shifts (neighbor
    * DIFFERENCES are unchanged) — byte-wise different re-encodes of the
    * same scene collapse to one hash, which is what image near-dup
    * detection needs and byte-hash dedup cannot do. Rows that do not
    * parse as 24bpp BMP are dropped. Narrow map-only shape; the
    * downstream near-dup groupBy shuffles 8-byte hashes, never pixels.
    */
  def imageDHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.bmpPixels(r.bytes).map { case (w, h, px) =>
          (r.media_id, dHash56(w, h, (x, y) => {
            val (pr, pg, pb) = px(x, y)
            299L * pr + 587L * pg + 114L * pb
          }))
        }
      }
    }.toDF("media_id", "dhash")
  }

  /** The shared dHash kernel: nearest-resample `lum` (full-resolution
    * integer luminance) to 8×8 (sx = gx·w/8 floor, the
    * [[MediaCodecs.resizeBmpNearest]] arithmetic) and set bit
    * k = y·7 + x iff lum(x+1, y) > lum(x, y) — 56 bits, non-negative. */
  def dHash56(w: Int, h: Int, lum: (Int, Int) => Long): Long = {
    def l(gx: Int, gy: Int): Long =
      lum((gx.toLong * w / 8).toInt, (gy.toLong * h / 8).toInt)
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 7) {
        if (l(x + 1, y) > l(x, y)) hash |= 1L << (y * 7 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Per-frame perceptual hashes over animated-GIF payloads: the VIDEO
    * arm of the dHash family. GIF's LZW is lossless and its palette is
    * explicit, so unlike MJPEG (quantization noise → bounded-accuracy
    * booleans only) every decoded frame's [[dHash56]] is closed-form
    * recomputable from a synthetic fixture's id — the video near-dup
    * gate can be hash-exact. One output row per (video, frame);
    * callers build a whole-video signature by hashing the ordered
    * frame-hash sequence (see the m_video_dhash gate) — two videos
    * match iff every frame matches in order, which uniform palette
    * brightness shifts do not disturb. Map-only; pixels never shuffle.
    */
  def videoDHash(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        GifCodec.decodeGifFrames(r.bytes).toSeq.flatMap { frames =>
          frames.zipWithIndex.map { case (img, f) =>
            (r.media_id, f, dHash56(img.width, img.height, (x, y) =>
              299L * img.r(x, y) + 587L * img.g(x, y) + 114L * img.b(x, y)))
          }
        }
      }
    }.toDF("media_id", "frame_idx", "dhash")
  }

  /** Gain-invariant audio fingerprint over PCM16 WAV payloads: decode
    * channel-0 samples, sum squared-sample ENERGY per `frame`-sample
    * frame (exact Long integers), and set bit k iff energy(k+1) >
    * energy(k), up to `bits` bits (needs `bits`+1 complete frames;
    * shorter clips hash their available frames, partial tail dropped).
    * A uniform gain g scales every frame energy by g² — the comparisons,
    * and therefore the fingerprint, are unchanged: differently-mastered
    * copies of the same recording collapse to one hash, the audio
    * analogue of [[imageDHash]]'s brightness invariance. Pure integer
    * arithmetic end to end, so synthetic-fixture hashes are closed-form
    * recomputable in SQL. Rows that do not parse as PCM16 WAV drop.
    * Map-only; the near-dup groupBy downstream shuffles 8-byte hashes.
    */
  def audioFingerprint(
      media: Dataset[MediaRow], frame: Int = 25, bits: Int = 32): DataFrame = {
    import media.sparkSession.implicits._
    require(frame > 0 && bits > 0 && bits <= 56,
      s"need 0 < bits <= 56 and frame > 0, got bits=$bits frame=$frame")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.wavSamples(r.bytes).map { s =>
          val nFrames = s.length / frame
          val en = Array.tabulate(nFrames) { f =>
            var e = 0L
            var i = f * frame
            val end = i + frame
            while (i < end) { e += s(i).toLong * s(i); i += 1 }
            e
          }
          var hash = 0L
          var k = 0
          while (k < bits && k + 1 < nFrames) {
            if (en(k + 1) > en(k)) hash |= 1L << k
            k += 1
          }
          (r.media_id, hash)
        }
      }
    }.toDF("media_id", "fingerprint")
  }

  /** Video frame features for mp4 payloads — the SAMPLE decode, not just
    * container metadata (r10; retires the last media stub for one real
    * codec): stsd fourcc dispatch ([[MediaCodecs.parseMp4Codec]]) →
    * per-sample byte extraction via the standard stsz/stsc/stco walk
    * ([[MediaCodecs.readMp4Samples]]) → full baseline JPEG pixel decode
    * per frame ([[JpegCodec.decodeJpeg]]) for fourcc "jpeg" (motion-JPEG:
    * intra-only frames, the one video codec decodable without a codec
    * library). Emits (media_id, codec, n_frames, n_decoded, width,
    * height, mean_luminance): dims from the first decoded frame (falling
    * back to tkhd display dims), luma averaged over ALL decoded frames.
    * Non-"jpeg" codecs (avc1/hvc1 need inter-prediction libraries) emit
    * n_decoded = 0 with their fourcc so a catalog still indexes them.
    * Same narrow shape as [[audioFeatures]]: bytes never shuffle. */
  def videoFrameFeatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseMp4Meta(r.bytes).map { info =>
          val codec = MediaCodecs.parseMp4Codec(r.bytes).getOrElse("")
          val samples =
            MediaCodecs.readMp4Samples(r.bytes).getOrElse(Seq.empty)
          val decoded =
            if (codec == "jpeg") samples.flatMap(JpegCodec.decodeJpeg)
            else Seq.empty
          val (w, h) = decoded.headOption
            .map(i => (i.width, i.height))
            .getOrElse((info.width, info.height))
          val luma =
            if (decoded.isEmpty) 0.0
            else decoded.map(lumaOf).sum / decoded.size
          (r.media_id, codec, samples.size, decoded.size, w, h, luma)
        }
      }
    }.toDF("media_id", "codec", "n_frames", "n_decoded",
      "width", "height", "mean_luminance")
  }

  /** ONE definition of mean BT.601 luminance over any decoded image's
    * (r, g, b) accessors — JPEG, GIF, and the mp4 frame path all score
    * through here so the formula cannot drift between formats. */
  private def meanLuma(w: Int, h: Int, r: (Int, Int) => Int,
      g: (Int, Int) => Int, b: (Int, Int) => Int): Double = {
    var s = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s += 0.299 * r(x, y) + 0.587 * g(x, y) + 0.114 * b(x, y)
        x += 1
      }
      y += 1
    }
    s / (w.toLong * h)
  }

  private def lumaOf(img: JpegCodec.JpegImage): Double =
    meanLuma(img.width, img.height, img.r, img.g, img.b)

  /** Frame sampling: pick every `stride`-th chunk of `frameSize` bytes —
    * the real plumbing of video frame-sampling with a stub "frame". Output
    * explodes into (media_id, frame_idx, frame_bytes).
    */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int, stride: Int)
      : DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val nFrames = r.bytes.length / frameSize
      (0 until nFrames by stride).map { i =>
        (r.media_id, i, r.bytes.slice(i * frameSize, (i + 1) * frameSize))
      }
    }.toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** "Resize": stub transform that keeps the plumbing honest — a binary →
    * binary map with new metadata, chunk-strided to the target size.
    */
  def resizeStub(media: Dataset[MediaRow], targetBytes: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { r =>
      val step = math.max(1, r.bytes.length / math.max(1, targetBytes))
      r.copy(bytes = r.bytes.indices.by(step).map(r.bytes).toArray)
    }
  }
}

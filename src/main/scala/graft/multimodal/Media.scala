package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads ride as opaque
 * `binary` columns with typed metadata; decode / feature-extract /
 * frame-sample run per-partition in batches.
 *
 * REAL decoders cover WAV-PCM, BMP, JPEG, PNG, and AVI video carrying
 * DIB or motion-JPEG frames (multimodal/Codecs — hand-written spec
 * parsers + the JDK's own ImageIO plugins). The codec layer for
 * compressed audio and inter-frame video (opus/h264) is not present in
 * this container, so `decodeStub` below is a clearly-marked
 * deterministic fake (a byte histogram) standing in for those — the
 * Spark-side plumbing (schema, partition-batched execution shape,
 * feature column contract) is real and tested. Swapping in a real
 * decoder = replacing ONE function.
 */
object Media {

  /** media table schema: (media_id, kind, bytes, meta) */
  val schema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** DETERMINISTIC FAKE DECODER (stand-in for the absent codec libs):
    * 16-bin normalized byte histogram. Real plumbing, fake decode. */
  private[multimodal] def decodeStub(bytes: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](16)
    if (bytes == null || bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >> 4) += 1.0
      i += 1
    }
    val n = bytes.length.toDouble
    var b = 0
    while (b < 16) { hist(b) /= n; b += 1 }
    hist
  }

  /** Deterministic frame sampling: n evenly-spaced fixed-size slices. */
  private[multimodal] def sampleFrames(bytes: Array[Byte], n: Int,
      frameSize: Int = 64): Seq[Array[Byte]] = {
    if (bytes == null || bytes.length == 0 || n <= 0) return Seq.empty
    (0 until n).map { f =>
      val off = ((bytes.length.toLong * f) / n).toInt
      bytes.slice(off, math.min(off + frameSize, bytes.length))
    }
  }

  /**
   * Feature extraction over the media table: per-partition batched decode
   * (the shape a Pandas-UDF/Arrow path would have — here a typed
   * mapPartitions so the whole batch loop is one JVM pass, no per-row
   * closure dispatch). Output: (media_id, kind, features array<double>).
   */
  def extractFeatures(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(DoubleType, containsNull = false))))
    implicit val enc = Encoders.row(out)
    media.select(col("media_id"), col("kind"), col("bytes"))
      .mapPartitions { it =>
        it.map { r =>
          Row(r.getLong(0), r.getString(1), decodeStub(r.getAs[Array[Byte]](2)).toSeq)
        }
      }
  }

  /** Real-decoder output schema: one row per media row, audio/image
    * fields null for the other format, everything null but (media_id,
    * format) for payloads no pure-JVM parser handles. */
  val decodeSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("bits", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_sec", DoubleType),
    StructField("peak", IntegerType),
    StructField("rms", DoubleType),
    StructField("zero_crossings", LongType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))

  /**
   * REAL decode over the media table for every format a pure JVM parses
   * without native codec libs (multimodal/Codecs.scala: RIFF/WAVE
   * PCM-16 and BMP 24bpp BI_RGB via spec parsers; JPEG and PNG via the
   * JDK's bundled ImageIO plugins) — the formats where the "decoder is
   * honestly stubbed" caveat no longer applies. Unparseable payloads
   * degrade to format="unknown" with null features instead of failing
   * the stage. Same per-partition batched shape as [[extractFeatures]].
   */
  def decodeTable(media: DataFrame): DataFrame = {
    implicit val enc = Encoders.row(decodeSchema)
    media.select(col("media_id"), col("bytes"))
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          Codecs.detect(b) match {
            case "wav" => Codecs.parseWav(b) match {
              case Some(w) => Row(id, "wav", null, null, w.bits,
                w.sampleRate, w.channels, w.nSamples, w.durationSec,
                w.peak, w.rms, w.zeroCrossings, null, null, null)
              case None => unknownRow(id)
            }
            case "bmp" => Codecs.parseBmp(b) match {
              case Some(m) => Row(id, "bmp", m.width, m.height, m.bits,
                null, null, null, null, null, null, null,
                m.meanR, m.meanG, m.meanB)
              case None => unknownRow(id)
            }
            case fmt @ ("png" | "jpeg") => Codecs.parseImageIO(b) match {
              case Some(m) => Row(id, fmt, m.width, m.height, m.bits,
                null, null, null, null, null, null, null,
                m.meanR, m.meanG, m.meanB)
              case None => unknownRow(id)
            }
            case "avi" => Codecs.aviScan(b) match {
              // video geometry from the stream header; per-frame pixel
              // features live in videoHashTable (frame-grain rows)
              case Some(v) => Row(id, "avi", v.width, v.height, v.bits,
                null, null, null, null, null, null, null, null, null, null)
              case None => unknownRow(id)
            }
            case _ => unknownRow(id)
          }
        }
      }
  }

  /**
   * Perceptual dHash over the media table: (media_id, format, dhash) —
   * dhash null for non-images, undecodable payloads, and images smaller
   * than the 9×8 hash grid (ImageHash documents why those aren't
   * hashed). Same batched per-partition shape as [[decodeTable]]; the
   * output is the signature input to `TextOps.hammingNearDupPairs`,
   * which gives images the same banded near-dup join (plain or Manku
   * combination banding) the text simhash path uses — one join kernel,
   * two modalities.
   */
  def imageHashTable(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("dhash", LongType, nullable = true)))
    implicit val enc = Encoders.row(out)
    media.select(col("media_id"), col("bytes"))
      .mapPartitions { it =>
        it.map { r =>
          val b = r.getAs[Array[Byte]](1)
          Row(r.getLong(0), Codecs.detect(b),
            ImageHash.dhash64(b).map(Long.box).orNull)
        }
      }
  }

  /** Audio eHash over the media table: (media_id, format, ehash) —
    * ehash null for non-WAV, undecodable, sub-frame, and over-cap
    * payloads (AudioHash documents why). Same batched shape and same
    * downstream join as [[imageHashTable]] — the modality triple
    * (text/image/audio) shares one near-dup kernel. */
  def audioHashTable(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("ehash", LongType, nullable = true)))
    implicit val enc = Encoders.row(out)
    media.select(col("media_id"), col("bytes"))
      .mapPartitions { it =>
        it.map { r =>
          val b = r.getAs[Array[Byte]](1)
          Row(r.getLong(0), Codecs.detect(b),
            AudioHash.ehash64(b).map(Long.box).orNull)
        }
      }
  }

  /** Sampled keyframe dHashes over the media table — the video analog
    * of [[imageHashTable]], at FRAME grain: one row per sampled
    * keyframe for parseable AVIs (frame_idx = original frame index,
    * dhash null for an undecodable frame), one (null, null) row for
    * everything else so every input id stays visible downstream. Frame
    * BYTES never leave the partition that decoded them — only 64-bit
    * signatures flow to the join (PlanSpec-asserted, same contract as
    * image/audio). */
  def videoHashTable(media: DataFrame,
      maxFrames: Int = VideoHash.defaultMaxFrames): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = true),
      StructField("dhash", LongType, nullable = true)))
    implicit val enc = Encoders.row(out)
    media.select(col("media_id"), col("bytes"))
      .flatMap { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        val fmt = Codecs.detect(b)
        if (fmt != "avi") Seq(Row(id, fmt, null, null))
        else VideoHash.frameHashes(b, maxFrames) match {
          case Some(fs) => fs.map { case (idx, h) =>
            Row(id, "avi", idx, h.map(Long.box).orNull) }
          case None => Seq(Row(id, "unknown", null, null))
        }
      }
  }

  /**
   * Video near-duplicate pairs straight off a media table: sampled
   * keyframe dHashes ([[videoHashTable]]) enter the SAME banded Hamming
   * kernel as text/image/audio at frame grain — each frame keyed by
   * xxhash64(media_id, frame_idx) (the engine's standard derived-id
   * idiom; a collision at 10^12 scale costs one spurious candidate that
   * the exact verify rejects) — and the frame-level matches fold back
   * to clip pairs: (id1, id2, frames_matched, min_hamming), keeping a
   * pair only when at least `minFramesMatched` sampled-frame pairs land
   * within `maxHamming`. Cross-index matches count (frame 0 of a
   * trimmed copy may align with frame 2 of the original); self-matches
   * within one clip (static scenes) are dropped before the fold.
   */
  def videoNearDupPairs(media: DataFrame, bands: Int = 4,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      comboBlocks: Int = 0, maxFrames: Int = VideoHash.defaultMaxFrames,
      minFramesMatched: Int = 1): DataFrame = {
    val fh = videoHashTable(media, maxFrames)
      .filter(col("dhash").isNotNull)
      .select(xxhash64(col("media_id"), col("frame_idx")).as("uid"),
        col("media_id"), col("dhash"))
    val framePairs = graft.textops.TextOps.hammingNearDupPairs(
      fh.select(col("uid").as("id"), col("dhash").as("sh")),
      bands, maxHamming, maxBucketSize, comboBlocks)
    val m1 = fh.select(col("uid").as("id1"), col("media_id").as("vid1"))
    val m2 = fh.select(col("uid").as("id2"), col("media_id").as("vid2"))
    framePairs.join(m1, "id1").join(m2, "id2")
      .filter(col("vid1") =!= col("vid2"))
      .select(least(col("vid1"), col("vid2")).as("id1"),
        greatest(col("vid1"), col("vid2")).as("id2"), col("hamming"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("frames_matched"),
        min(col("hamming")).as("min_hamming"))
      .filter(col("frames_matched") >= minFramesMatched)
  }

  /** Audio near-duplicate pairs straight off a media table — the
    * [[imageNearDupPairs]] contract over [[audioHashTable]]. */
  def audioNearDupPairs(media: DataFrame, bands: Int = 4,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      comboBlocks: Int = 0): DataFrame =
    graft.textops.TextOps.hammingNearDupPairs(
      audioHashTable(media).filter(col("ehash").isNotNull)
        .select(col("media_id").as("id"), col("ehash").as("sh")),
      bands, maxHamming, maxBucketSize, comboBlocks)

  /** Image near-duplicate pairs straight off a media table:
    * [[imageHashTable]] (null-hash rows — non-images, undecodables —
    * dropped) into the shared banded Hamming join. Output
    * (id1, id2, hamming) over media_ids; exact for
    * maxHamming < bands (or under combination banding), same contract
    * as the text simhash path. */
  def imageNearDupPairs(media: DataFrame, bands: Int = 4,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      comboBlocks: Int = 0): DataFrame =
    graft.textops.TextOps.hammingNearDupPairs(
      imageHashTable(media).filter(col("dhash").isNotNull)
        .select(col("media_id").as("id"), col("dhash").as("sh")),
      bands, maxHamming, maxBucketSize, comboBlocks)

  /** ONE decode pass over a mixed media table → per-row 64-bit
    * signatures for every modality this container hashes: images →
    * dHash, WAV audio → eHash, AVI video → per-sampled-keyframe dHash
    * (frame_idx set only for video). Rows no pure-JVM parser handles
    * emit nothing — near-dup can't say anything about them. The output
    * is signature-sized (~20 B/row), which is what makes persisting it
    * cheap while the media table is not. */
  def signatureTable(media: DataFrame,
      maxFrames: Int = VideoHash.defaultMaxFrames): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("modality", StringType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = true),
      StructField("sig", LongType, nullable = false)))
    implicit val enc = Encoders.row(out)
    media.select(col("media_id"), col("bytes"))
      .flatMap { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        Codecs.detect(b) match {
          case "bmp" | "png" | "jpeg" =>
            ImageHash.dhash64(b).map(h => Row(id, "image", null, h)).toSeq
          case "wav" =>
            AudioHash.ehash64(b).map(h => Row(id, "audio", null, h)).toSeq
          case "avi" =>
            VideoHash.frameHashes(b, maxFrames).toSeq.flatMap(_.collect {
              case (idx, Some(h)) => Row(id, "video", idx, h)
            })
          case _ => Seq.empty
        }
      }
  }

  /**
   * The one-call multimodal near-dup API the per-modality entry points
   * imply: detect each row's modality, hash with the right kernel, and
   * join WITHIN each modality through the one shared banded Hamming
   * kernel — a dHash colliding with an eHash is meaningless, so
   * signatures never cross modalities (the fixture plants exactly that
   * collision to prove it). Output: (modality, id1, id2, hamming,
   * frames_matched) — hamming is the video pair's min over matched
   * frames, frames_matched is 1 for image/audio. The signature table is
   * snapshotted before the three joins branch from it: it is ~20 B/row
   * while decode is the dominant cost, so one decode pass serves all
   * modalities.
   */
  def nearDupPairs(media: DataFrame, bands: Int = 4, maxHamming: Int = 3,
      maxBucketSize: Int = 1000, comboBlocks: Int = 0,
      maxFrames: Int = VideoHash.defaultMaxFrames,
      minFramesMatched: Int = 1): DataFrame = {
    // reclaimed with Dedupe.reclaimLibraryScratch
    val sigs = graft.io.Snapshot(signatureTable(media, maxFrames), "media_sigs",
      widen = true)
    def kernel(subset: DataFrame) = graft.textops.TextOps.hammingNearDupPairs(
      subset, bands, maxHamming, maxBucketSize, comboBlocks)
    def flat(modality: String) =
      kernel(sigs.filter(col("modality") === modality)
          .select(col("media_id").as("id"), col("sig").as("sh")))
        .select(lit(modality).as("modality"), col("id1"), col("id2"),
          col("hamming"), lit(1L).as("frames_matched"))
    val vf = sigs.filter(col("modality") === "video")
      .select(xxhash64(col("media_id"), col("frame_idx")).as("uid"),
        col("media_id"), col("sig"))
    val videoPairs = {
      val framePairs = kernel(vf.select(col("uid").as("id"), col("sig").as("sh")))
      framePairs
        .join(vf.select(col("uid").as("id1"), col("media_id").as("vid1")), "id1")
        .join(vf.select(col("uid").as("id2"), col("media_id").as("vid2")), "id2")
        .filter(col("vid1") =!= col("vid2"))
        .select(least(col("vid1"), col("vid2")).as("id1"),
          greatest(col("vid1"), col("vid2")).as("id2"), col("hamming"))
        .groupBy(col("id1"), col("id2"))
        .agg(min(col("hamming")).as("hamming"),
          count(lit(1)).as("frames_matched"))
        .filter(col("frames_matched") >= minFramesMatched)
        .select(lit("video").as("modality"), col("id1"), col("id2"),
          col("hamming"), col("frames_matched"))
    }
    flat("image").unionByName(flat("audio")).unionByName(videoPairs)
  }

  private def unknownRow(id: Long): Row =
    Row(id, "unknown", null, null, null, null, null, null, null, null,
      null, null, null, null, null)

  /** DETERMINISTIC FAKE RESIZER (same honesty contract as decodeStub):
    * stride-sample the payload down to w*h "pixels" (bytes). Real
    * plumbing, fake pixels — a codec-backed bilinear resample replaces
    * ONE function in production. */
  private[graft] def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val target = math.max(1L, w.toLong * h.toLong) // Long: 65536² overflows Int
    if (bytes == null || bytes.isEmpty) return Array.emptyByteArray
    if (bytes.length <= target) return bytes
    val out = new Array[Byte](target.toInt) // < bytes.length here, Int-safe
    var i = 0
    while (i < out.length) {
      out(i) = bytes(((bytes.length.toLong * i) / target).toInt)
      i += 1
    }
    out
  }

  /** Resize over the media table: batched binary→binary transform that
    * preserves the table schema — the same per-partition shape as
    * extractFeatures. The dimension metadata is rewritten ONLY when the
    * payload actually reached w×h; a short/empty payload passes through
    * with its original meta, so the metadata never contradicts the bytes
    * (and audio rows keep their null dims). */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    require(w > 0 && h > 0, s"resize dims must be positive: ${w}x$h")
    implicit val enc = Encoders.row(schema)
    media.select(col("media_id"), col("kind"), col("bytes"), col("meta"))
      .mapPartitions { it =>
        it.map { r =>
          val meta = r.getStruct(3)
          val in = r.getAs[Array[Byte]](2)
          val out = resizeStub(in, w, h)
          val resized = out.length.toLong == w.toLong * h.toLong
          def keep(i: Int): Any =
            if (meta == null || meta.isNullAt(i)) null else meta.getInt(i)
          Row(r.getLong(0), r.getString(1), out,
            Row(if (resized) w else keep(0), if (resized) h else keep(1),
              keep(2), keep(3)))
        }
      }
  }

  /** Frame sampling as a 1→N generator-shaped op:
    * (media_id, frame_idx, frame_bytes). */
  def sampleFramesTable(media: DataFrame, nFrames: Int): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    implicit val enc = Encoders.row(out)
    media.select(col("media_id"), col("bytes"))
      .flatMap { r =>
        sampleFrames(r.getAs[Array[Byte]](1), nFrames).zipWithIndex.map {
          case (f, i) => Row(r.getLong(0), i, f)
        }
      }
  }

  /** Deterministic fake media table derived from a documents dir — the
    * html-ish bytes stand in for image payloads (test/bench harness). */
  def fakeMediaFromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        (when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video")).as("kind"),
        encode(col("text"), "UTF-8").as("bytes"),
        struct(
          lit(640).as("width"), lit(480).as("height"),
          lit(16000).as("sample_rate"), lit(16).as("n_frames")).as("meta"))
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata. Images are decoded FOR REAL by [[Codecs]] —
  * PPM/BMP by hand, PNG/JPEG/GIF through the JDK's ImageIO (pixels, stats,
  * nearest-neighbor resize, re-encode) — as is PCM WAV audio (duration,
  * RMS, peak, zero-cross rate). Only formats with no JDK codec at all
  * (MP3/H.264 — their libraries don't exist in this environment) fall back
  * to a clearly-marked deterministic STUB, so the pipeline shape is
  * exercised for them too; swapping in a real decoder changes only the
  * function body, not the pipeline.
  *
  * Scale notes: decode work is per-row CPU-bound — `mapPartitions` keeps it
  * executor-side and pipeline-parallel; binary payloads never shuffle unless
  * the caller repartitions; metadata-only operations (filtering by width,
  * sampling by timestamp) are column ops that never touch the bytes.
  */
object Multimodal {
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),    // image | audio | video
    StructField("content", BinaryType, nullable = true),  // opaque payload
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  final case class MediaFeature(media_id: Long, kind: String,
      feature: Array[Float], n_bytes: Long)

  /** Real feature head for decodable containers: images → [width, height,
    * meanR, meanG, meanB, lumaContrast]; WAV → [durationSec, sampleRate/1k,
    * channels, rms, peak, zeroCrossRate]; remaining dims zero. Returns None
    * for containers this environment cannot decode. */
  private def realDecodeFeature(content: Array[Byte], dim: Int): Option[Array[Float]] =
    Codecs.decodeImage(content).map { img =>
      val (r, g, b, contrast) = Codecs.imageStats(img)
      pad(Array(img.width.toFloat, img.height.toFloat, r.toFloat, g.toFloat,
        b.toFloat, contrast.toFloat), dim)
    }.orElse(Codecs.decodeWav(content).map { w =>
      pad(Array(w.durationMs / 1000.0f, w.sampleRate / 1000.0f,
        w.channels.toFloat, w.rms.toFloat, w.peak.toFloat,
        w.zeroCrossRate.toFloat), dim)
    })

  private def pad(v: Array[Float], dim: Int): Array[Float] =
    if (v.length >= dim) v.take(dim) else v ++ new Array[Float](dim - v.length)

  /** STUB decoder for containers with no JDK codec (MP3/H.264…): a
    * deterministic pseudo-feature from the payload bytes so downstream
    * plumbing (schema, batching, joins) is fully exercised. */
  private def fakeDecodeFeature(content: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < content.length) { h = 31 * h + content(i); i += 1 }
    var j = 0
    while (j < dim) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      out(j) = (h % 1000) / 1000.0f
      j += 1
    }
    out
  }

  /** Feature extraction over the binary column: partition-local, zero
    * shuffle. Equivalent of a batched decode UDF. Image and WAV payloads are
    * actually decoded; undecodable containers get the stub pseudo-feature. */
  def extractFeatures(media: DataFrame, dim: Int = 16): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, content) =>
        val bytes = Option(content).getOrElse(Array.emptyByteArray)
        val feature = realDecodeFeature(bytes, dim)
          .getOrElse(fakeDecodeFeature(bytes, dim))
        MediaFeature(id, kind, feature, bytes.length.toLong)
      })
  }

  /** Resize: decodable payloads (PPM/BMP/PNG/JPEG/GIF) are REALLY decoded,
    * scaled with nearest-neighbor, and re-encoded container-preserving
    * (aspect-preserving fit into maxW×maxH, never upscaling). Containers
    * with no JDK codec take the STUB path: metadata rescaled exactly,
    * payload replaced by a deterministic fake of plausible size — the
    * partitioning/schema behavior under byte-size change is still
    * exercised. Non-image rows pass through untouched. Partition-local,
    * zero shuffle, payload never crosses the wire. */
  def resizeImages(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val cols = media.columns
    val resizeUdf = udf { (content: Array[Byte], w: Int, h: Int) =>
      val src = Option(content).getOrElse(Array.emptyByteArray)
      Codecs.decodeImage(src) match {
        case Some(img) => // real path
          val (nw, nh) = Codecs.fitWithin(img.width, img.height, maxW, maxH)
          val resized = Codecs.resizeNearest(img, nw, nh)
          // container-preserving re-encode (GIF re-encodes as PNG — both
          // lossless, and the JDK GIF writer would force palette quantize)
          val encoded = Codecs.sniff(src) match {
            case Some("image/bmp") => Codecs.encodeBmp(resized)
            case Some("image/png") | Some("image/gif") =>
              Codecs.encodePng(resized)
            case Some("image/jpeg") => Codecs.encodeJpeg(resized)
            case _ => Codecs.encodePpm(resized)
          }
          (encoded, nw, nh)
        case None => // STUB path for codec-library formats
          val (nw, nh) = Codecs.fitWithin(w, h, maxW, maxH)
          val n = math.max(8, nw * nh / 64)
          val out = new Array[Byte](n)
          var hseed = 1125899906842597L
          var i = 0
          while (i < src.length) { hseed = 31 * hseed + src(i); i += 1 }
          var j = 0
          while (j < n) {
            hseed ^= hseed << 13; hseed ^= hseed >>> 7; hseed ^= hseed << 17
            out(j) = (hseed & 0x7f).toByte; j += 1
          }
          (out, nw, nh)
      }
    }
    val isImg = col("kind") === "image" && col("width").isNotNull &&
      col("height").isNotNull
    val r = resizeUdf(col("content"), col("width"), col("height"))
    media
      .withColumn("_rz", when(isImg, r))
      .withColumn("content", when(isImg, col("_rz._1")).otherwise(col("content")))
      .withColumn("width", when(isImg, col("_rz._2")).otherwise(col("width")))
      .withColumn("height", when(isImg, col("_rz._3")).otherwise(col("height")))
      .select(cols.map(col): _*)
  }

  /** Resample mono PCM16 WAV rows to `dstRate` (exact-rational linear
    * interpolation, integer arithmetic — [[Codecs.resampleLinear]]) and
    * re-encode; `duration_ms` metadata refreshed from the re-encoded
    * payload. Non-WAV rows pass through untouched. Partition-local,
    * zero shuffle — the standard rate-normalization step before any
    * audio feature extraction (ASR pipelines want one rate corpus-wide). */
  def resampleAudio(media: DataFrame, dstRate: Int): DataFrame = {
    require(dstRate > 0, "dstRate must be positive")
    val cols = media.columns
    val resampleUdf = udf { (content: Array[Byte]) =>
      val src = Option(content).getOrElse(Array.emptyByteArray)
      (for {
        info <- Codecs.decodeWav(src) if info.channels == 1
        samples <- Codecs.decodeWavSamples(src)
      } yield {
        val out = Codecs.resampleLinear(samples, info.sampleRate, dstRate)
        val re = Codecs.encodeWavPcm16(out, dstRate)
        (re, out.length.toLong * 1000L / dstRate)
      }).getOrElse((src, -1L))
    }
    media
      .withColumn("_rs", resampleUdf(col("content")))
      .withColumn("content", col("_rs._1"))
      .withColumn("duration_ms",
        when(col("_rs._2") >= 0, col("_rs._2"))
          .otherwise(col("duration_ms")))
      .select(cols.map(col): _*)
  }

  /** Frame sampling plan for video rows: explode target timestamps from
    * metadata (duration), leaving per-frame decode to the stub above. */
  def frameSamplePlan(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("kind") === "video" && col("duration_ms").isNotNull)
      .withColumn("frame_ts_ms",
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))))

  /** Deterministic synthetic corpus with REAL payloads: PPM and BMP images
    * (gradient pixels) and PCM WAV sine tones, plus opaque fake-codec rows
    * (the stub path). Every decoder above runs for real against this. */
  def syntheticCorpus(spark: SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      i % 4 match {
        case 0 => // PPM image, gradient
          val w = 16 + i % 32; val h = 12 + i % 24
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          while (p < w * h) {
            rgb(p * 3) = ((p + i) % 256).toByte
            rgb(p * 3 + 1) = ((p * 2 + i) % 256).toByte
            rgb(p * 3 + 2) = ((p * 3 + i) % 256).toByte
            p += 1
          }
          Row(i.toLong, "image", Codecs.encodePpm(Codecs.ImagePixels(w, h, rgb)),
            "image/x-portable-pixmap", w, h, null)
        case 1 => // BMP image, solid-ish
          val w = 20 + i % 16; val h = 10 + i % 16
          val rgb = Array.tabulate(w * h * 3)(j => ((j + i * 13) % 256).toByte)
          Row(i.toLong, "image", Codecs.encodeBmp(Codecs.ImagePixels(w, h, rgb)),
            "image/bmp", w, h, null)
        case 2 => // WAV sine tone, (1 + i % 3) tenths of a second at 8 kHz
          val rate = 8000
          val nSamp = rate * (1 + i % 3) / 10
          val freq = 200.0 + (i % 10) * 50
          val samples = Array.tabulate(nSamp)(t =>
            (math.sin(2 * math.Pi * freq * t / rate) * 12000).toShort)
          Row(i.toLong, "audio", Codecs.encodeWavPcm16(samples, rate),
            "audio/wav", null, null, nSamp * 1000L / rate)
        case _ => // opaque payload: exercises the stub path
          val kind = if (i % 8 == 3) "video" else "image"
          Row(i.toLong, kind,
            Array.fill[Byte](16 + i % 64)((i * 7 % 127).toByte),
            s"application/x-fake-$kind", 64 + i % 512, 64 + (i * 3) % 512,
            if (kind == "video") 1000L * (1 + i % 30) else null)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4), mediaSchema)
  }

  /** Noise-image corpus with engineered near-duplicate twins: base image
    * `i` is LCG-pseudo-random 16×16 RGB (values in [32, 159] so the twin
    * perturbation can never clamp); twin `i + 10000` adds +16/−16 to the
    * two channels of one pixel — gray sum unchanged, so the aHash mean is
    * identical and at most the touched cell's bit flips. Every base pairs
    * with exactly its twin under hamming ≤ 3 while unrelated noise images
    * sit ~32 bits apart — the invariant `q_multimodal_neardup`'s oracle
    * replays arithmetically. */
  def twinImageCorpus(spark: SparkSession, n: Int): DataFrame = {
    val w = 16; val h = 16
    def pixels(i: Int): Array[Byte] = {
      val rgb = new Array[Byte](w * h * 3)
      var seed = i.toLong * 2654435761L + 99991L
      var j = 0
      while (j < rgb.length) {
        seed = seed * 1103515245L + 12345L
        rgb(j) = (32 + ((seed >>> 16) & 0x7F)).toByte
        j += 1
      }
      rgb
    }
    val rows = (0 until n).flatMap { i =>
      val base = pixels(i)
      val twin = base.clone()
      val p = (i % (w * h)) * 3
      twin(p) = (twin(p) + 16).toByte      // in [48, 175] — no wrap
      twin(p + 1) = (twin(p + 1) - 16).toByte // in [16, 143] — no wrap
      Seq(
        Row(i.toLong, "image",
          Codecs.encodePpm(Codecs.ImagePixels(w, h, base)),
          "image/x-portable-pixmap", w, h, null),
        Row(i + 10000L, "image",
          Codecs.encodePpm(Codecs.ImagePixels(w, h, twin)),
          "image/x-portable-pixmap", w, h, null))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4), mediaSchema)
  }

  /** Noise-audio corpus with engineered near-duplicate twins: base clip
    * `i` is LCG noise gated by a two-level per-frame envelope (bits sit
    * far from the fingerprint's mean-energy threshold), twin `i + 10000`
    * perturbs one sample by +64 — every base pairs with exactly its twin
    * under hamming ≤ 3. */
  def twinAudioCorpus(spark: SparkSession, n: Int): DataFrame = {
    val nSamp = 4096
    def clip(i: Int): Array[Short] = {
      val s = new Array[Short](nSamp)
      var seed = i.toLong * 2654435761L + 777L
      var j = 0
      while (j < nSamp) {
        val frame = j * 64 / nSamp
        // per-frame two-level gain: splitmix64-finalized (i, frame) key —
        // a single-multiply hash correlates across clips and produced
        // cross-clip near-matches
        var z = i.toLong * 1000003L + frame + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val loud = (((z ^ (z >>> 31)) >>> 7) & 1L) == 1L
        seed = seed * 1103515245L + 12345L
        val noise = ((seed >>> 16) & 0x1FFF).toInt - 4096 // [-4096, 4095]
        s(j) = (if (loud) noise * 4 else noise / 4).toShort
        j += 1
      }
      s
    }
    val rows = (0 until n).flatMap { i =>
      val base = clip(i)
      val twin = base.clone()
      twin(i % nSamp) = (twin(i % nSamp) + 64).toShort
      Seq(
        Row(i.toLong, "audio", Codecs.encodeWavPcm16(base, 8000),
          "audio/wav", null, null, nSamp * 1000L / 8000),
        Row(i + 10000L, "audio", Codecs.encodeWavPcm16(twin, 8000),
          "audio/wav", null, null, nSamp * 1000L / 8000))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4), mediaSchema)
  }

  /** Audio fingerprint table — [[Codecs.audioFingerprint]] over decoded
    * PCM, per-partition, no shuffle; undecodable/too-short payloads drop. */
  def audioFingerprints(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, content) =>
        Codecs.decodeWavSamples(Option(content).getOrElse(Array.emptyByteArray))
          .flatMap(Codecs.audioFingerprint)
          .map(fp => (id, fp))
      })
      .toDF("media_id", "afp")
  }

  /** Perceptual-hash table: decode each image payload and project its
    * [[Codecs.aHash]] — one partition-local pass over the binary column,
    * no shuffle; undecodable payloads are dropped. Feed to
    * `SimHash.sigPairs` for blocked near-dup image search. */
  def imageAHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, content) =>
        Codecs.decodeImage(Option(content).getOrElse(Array.emptyByteArray))
          .map(img => (id, Codecs.aHash(img)))
      })
      .toDF("media_id", "ahash")
  }
}

package graft.operators

import graft.Tables
import graft.functions.TextFunctions.P
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media file: an opaque binary payload plus typed metadata — the
  * multimodal column model (image/audio/video as `binary` with a
  * metadata struct). */
case class MediaMeta(widthPx: Int, heightPx: Int, sampleRateHz: Int, nFrames: Int)
case class MediaFile(mediaId: Long, mediaType: String, payload: Array[Byte], meta: MediaMeta)
case class MediaFeatures(mediaId: Long, mediaType: String, nBytes: Int, features: Array[Double])

/** Decoded audio statistics: sample rate and frame count from the
  * container header, RMS amplitude from the PCM samples themselves.
  * `decoded=false` rows carry the deterministic byte-moment fallback
  * in `rms` and -1 sentinels (the operator is total, like the image
  * decoder). */
case class AudioFeatures(mediaId: Long, decoded: Boolean, sampleRateHz: Int,
    nSamples: Long, rms: Double)

/** Decoded video statistics: frame count from the container framing,
  * summed per-frame channel means from the decoded pixels. `decoded=
  * false` rows carry -1 sentinels (total operator). `lumSum` is an
  * exact integer for solid-color frames — the fixtures exploit that
  * for engine-portable verification. */
case class VideoFeatures(mediaId: Long, decoded: Boolean, nFrames: Int,
    lumSum: Long)
case class ThumbFeatures(mediaId: Long, decoded: Boolean, nFrames: Int,
    nSampled: Int, thumbLum: Long)

/** Multimodal-column plumbing for a training-data pipeline: opaque
  * binary payloads with typed metadata, a partition-wise decode/
  * feature-extract stage, a real image resize, frame sampling, and an
  * oracle-checked rollup.
  *
  * The image path is REAL: `javax.imageio` (JDK built-in — PNG/JPEG/
  * BMP/GIF, no external jars) decodes payloads to pixels for feature
  * extraction and `BufferedImage` resamples for resize. Payloads no
  * installed codec accepts (audio/video containers in this corpus)
  * take a deterministic byte-derived fallback, so both operators are
  * total; a production build plugs its codecs into the same
  * `mapPartitions` seam.
  *
  * Scale posture: payloads never leave their partition (no shuffle
  * before feature extraction); the decode stage is embarrassingly
  * parallel; the rollup is a partial-aggregated groupBy on media_type.
  */
object Multimodal {

  /** Deterministic media corpus over the documents table: the UTF-8
    * bytes of `text` act as the opaque payload; media type and metadata
    * derive from doc_id/n_chars (synthetic but typed and stable). */
  def mediaFiles(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(
        col("doc_id").as("mediaId"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("mediaType"),
        col("text").cast("binary").as("payload"),
        struct(
          (col("n_chars") % 640 + 1).cast("int").as("widthPx"),
          (col("n_chars") % 480 + 1).cast("int").as("heightPx"),
          (lit(8000) + col("n_chars") % 40000).cast("int").as("sampleRateHz"),
          (col("n_chars") % 240 + 1).cast("int").as("nFrames")).as("meta"))
      .as[MediaFile]
  }

  /** Deterministic byte-moment pseudo-features — the decode fallback
    * for payloads no installed codec accepts (opaque audio/video
    * containers here; a production build registers codecs for those
    * too). Derived from the byte-sum so tests can pin exact values. */
  private def byteMomentFeatures(payload: Array[Byte], k: Int): Array[Double] = {
    val sum = payload.foldLeft(0L)((a, b) => a + (b & 0xFF))
    Array.tabulate(k)(i => ((sum * (i + 1)) % P).toDouble / P.toDouble)
  }

  /** REAL decoder — JDK-only codecs, no external jars: `javax.imageio`
    * reads PNG/JPEG/BMP/GIF from the binary payload. Partition-wise
    * batch shape: decoder configuration happens once per partition
    * (disk-cache off — ImageIO otherwise spools every stream through a
    * temp file), rows stream through it, payloads never shuffle.
    *
    * Features for a decodable image: `[width, height, meanR, meanG,
    * meanB]` with channel means normalized to [0,1] — real pixel
    * statistics, asserted against hand-built images in MultimodalSpec.
    * Undecodable payloads (this corpus's synthetic audio/video bytes)
    * fall back to [[byteMomentFeatures]], so the operator is total and
    * deterministic either way. */
  def decodeFeatures(files: Dataset[MediaFile], k: Int = 5): Dataset[MediaFeatures] = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition decoder setup
      rows.map { f =>
        val feats = tryDecode(f.payload) match {
          case None => byteMomentFeatures(f.payload, k)
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            var (r, g, b) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
                x += 1
              }
              y += 1
            }
            val n = (w.toLong * h * 255).toDouble
            // padTo + take: features are ALWAYS length k, decodable or
            // not — mixed-length vectors in one Dataset break downstream
            // consumers that assume a fixed dimension
            Array[Double](w, h, r / n, g / n, b / n).padTo(k, 0.0).take(k)
        }
        MediaFeatures(f.mediaId, f.mediaType, f.payload.length, feats)
      }
    }
  }

  /** Decode one payload, or None when no reader claims it OR a claimed
    * decode fails mid-stream (truncated / bit-rotted body behind a
    * valid magic — the normal corruption mode in a harvested corpus;
    * ImageIO.read THROWS there rather than returning null, and an
    * uncaught throw would fail the whole task instead of taking the
    * documented fallback). */
  private def tryDecode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** REAL resize — decode via `javax.imageio`, resample with a
    * `BufferedImage`/`Graphics2D` bilinear draw, re-encode as PNG, and
    * rewrite the metadata the downstream stages trust. Per-row map with
    * NO shuffle: resize is embarrassingly parallel and stays inside the
    * scan stage (verified in MultimodalSpec via Layout.hasShuffle).
    * Payloads no codec accepts keep the deterministic truncate/pad
    * fallback on the raw bytes, so the operator is total and the
    * metadata contract holds for every row. */
  def resizeImage(files: Dataset[MediaFile], w: Int, h: Int): Dataset[MediaFile] = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { f =>
        val payload = tryDecode(f.payload) match {
          case None => java.util.Arrays.copyOf(f.payload, w * h)
          case Some(img) =>
            val out = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val gfx = out.createGraphics()
            gfx.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            gfx.drawImage(img, 0, 0, w, h, null)
            gfx.dispose()
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", baos)
            baos.toByteArray
        }
        MediaFile(f.mediaId, f.mediaType, payload,
          MediaMeta(w, h, f.meta.sampleRateHz, f.meta.nFrames))
      }
    }
  }

  /** Frame sampling: every `stride`-th fixed-size chunk of the payload —
    * the video-frame-subsample pattern as pure column expressions (the
    * chunks stay binary/opaque). */
  def sampleFrames(files: Dataset[MediaFile], frameBytes: Int, stride: Int): DataFrame =
    files.toDF()
      .withColumn("frames",
        transform(
          sequence(lit(0), greatest(lit(0),
            ((length(col("payload")) - 1) / (frameBytes * stride)).cast("int"))),
          i => substring(col("payload"), (i * frameBytes * stride + 1).cast("int"), lit(frameBytes))))
      .select(col("mediaId"), col("mediaType"), size(col("frames")).as("n_frames_sampled"))

  /** Oracle-checked rollup: per media type, file count, payload bytes,
    * total synthetic frames, and a payload-digest-derived feature mean
    * (the column-expression twin of the stub decoder's determinism —
    * md5 over the payload is engine-portable). */
  def q33MultimodalStats(spark: SparkSession, dir: String): DataFrame =
    mediaFiles(spark, dir).toDF()
      .select(col("mediaType").as("media_type"),
        length(col("payload")).as("n_bytes"),
        col("meta.nFrames").as("n_frames"),
        (conv(substring(md5(col("payload")), 1, 15), 16, 10).cast("long") % P)
          .cast("double").divide(P).as("f0"))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_files"),
        round(avg(col("n_bytes")), 2).as("avg_bytes"),
        sum(col("n_frames")).as("total_frames"),
        round(avg(col("f0")), 4).as("avg_f0"))
      .orderBy(col("media_type"))

  // ------------------------------------------------------------ audio

  /** Encode 16-bit signed little-endian mono PCM as a WAV container via
    * `javax.sound.sampled` (JDK built-in, no external jars) — the
    * fixture encoder for the audio corpus and the specs. */
  def encodeWavPcm16(samples: Array[Short], rateHz: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      rateHz.toFloat, 16, 1, true, false) // signed, little-endian
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xFF).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode one payload to (sampleRate, PCM samples), or None when no
    * installed reader claims it, the decode fails mid-stream, or the
    * format isn't the 16-bit mono PCM this extractor handles — same
    * total-operator contract as [[tryDecode]] for images. */
  private def tryDecodeAudio(payload: Array[Byte]): Option[(Int, Array[Short])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
          fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val raw = ais.readAllBytes()
        val n = raw.length / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) =
            if (fmt.isBigEndian) (((raw(2 * i) & 0xFF) << 8) | (raw(2 * i + 1) & 0xFF)).toShort
            else (((raw(2 * i + 1) & 0xFF) << 8) | (raw(2 * i) & 0xFF)).toShort
          i += 1
        }
        Some((fmt.getSampleRate.toInt, out))
      }
    } catch { case _: Exception => None }

  /** Deterministic WAV corpus over the documents table: one 16-bit mono
    * PCM square wave per document, rate/length/amplitude derived from
    * (doc_id, n_chars) — REAL containers a real decoder must parse, with
    * generation parameters an oracle can recompute in closed form (a
    * ±A square wave's RMS is exactly A; frame count and rate round-trip
    * the header). Synthesis is partition-wise over the spread scan. */
  def audioFiles(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .map { case (id, nChars) =>
        val rate = 8000 + (nChars % 3).toInt * 4000
        val n = 400 + (id % 200).toInt
        val amp = (1000 + (id % 20) * 500).toInt
        val samples = Array.tabulate(n)(i =>
          (if ((i / 4) % 2 == 0) amp else -amp).toShort)
        MediaFile(id, "audio", encodeWavPcm16(samples, rate),
          MediaMeta(0, 0, rate, n))
      }
  }

  /** REAL audio decoder — `javax.sound.sampled` (JDK-only) parses the
    * WAV container and streams PCM frames: sample rate and frame count
    * come from the decoded stream (NOT the metadata struct), RMS from
    * the samples. Same partition-wise no-shuffle shape as the image
    * path: payloads never leave their partition, rows stream through a
    * per-partition decoder. Undecodable payloads take the
    * [[byteMomentFeatures]] fallback with -1 sentinels. */
  def decodeAudioFeatures(files: Dataset[MediaFile]): Dataset[AudioFeatures] = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      rows.map { f =>
        tryDecodeAudio(f.payload) match {
          case Some((rate, samples)) =>
            var sq = 0.0
            var i = 0
            while (i < samples.length) {
              sq += samples(i).toDouble * samples(i); i += 1
            }
            val rms = if (samples.isEmpty) 0.0 else math.sqrt(sq / samples.length)
            AudioFeatures(f.mediaId, decoded = true, rate, samples.length.toLong, rms)
          case None =>
            AudioFeatures(f.mediaId, decoded = false, -1, -1L,
              byteMomentFeatures(f.payload, 1)(0))
        }
      }
    }
  }

  /** MM — oracle-checked audio rollup: synthesize the WAV corpus,
    * decode it for real, and aggregate per decoded sample rate. Every
    * aggregated quantity is integer-exact per row (square-wave RMS is
    * exactly the amplitude; counts and rates round-trip the container),
    * so the DuckDB twin recomputes them from the generation arithmetic
    * while Spark's side only sees what the decoder produced — the
    * hash-match PROVES the decode is real and lossless. Duration is
    * derived from the exact integer sums in one division (per-row
    * double sums would be summation-order-dependent). */
  def q62AudioStats(spark: SparkSession, dir: String): DataFrame =
    decodeAudioFeatures(audioFiles(spark, dir)).toDF()
      .filter(col("decoded"))
      .select(col("sampleRateHz").as("sample_rate"),
        col("nSamples").as("n_samples"), col("rms"))
      .groupBy(col("sample_rate"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_samples")).as("total_samples"),
        round(avg(col("rms").cast("long")), 4).as("avg_rms"))
      .withColumn("total_duration_ms",
        round(col("total_samples").cast("double") * 1000.0 / col("sample_rate"), 4))
      .select(col("sample_rate"), col("n_files"), col("total_samples"),
        col("total_duration_ms"), col("avg_rms"))
      .orderBy(col("sample_rate"))

  /** DuckDB twin of [[q62AudioStats]]: recomputes the synthesis
    * parameters from (doc_id, n_chars) — rate, frame count, and the
    * square wave's exact RMS (= amplitude) — that Spark's side obtains
    * by actually decoding the WAV containers. */
  val audioOracleSql: String =
    """WITH a AS (
      |  SELECT CAST(8000 + (n_chars % 3) * 4000 AS INT) AS sample_rate,
      |    400 + doc_id % 200 AS n_samples,
      |    1000 + (doc_id % 20) * 500 AS amp
      |  FROM documents)
      |SELECT sample_rate, count(*) AS n_files,
      |  CAST(sum(n_samples) AS BIGINT) AS total_samples,
      |  round(CAST(sum(n_samples) AS DOUBLE) * 1000.0 / sample_rate, 4) AS total_duration_ms,
      |  round(avg(amp), 4) AS avg_rms
      |FROM a GROUP BY sample_rate ORDER BY sample_rate""".stripMargin

  // ------------------------------------------------------------ video

  /** Pack image frames into an MJPEG-style container: each frame is a
    * 4-byte big-endian length prefix + its encoded bytes (the framing
    * every packetized video stream uses; MJPEG itself is just
    * concatenated JPEGs). JDK-only, like the WAV and PNG paths. */
  def encodeFramePacked(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    frames.foreach { f => d.writeInt(f.length); d.write(f) }
    out.toByteArray
  }

  /** Deterministic video corpus over the documents table: per document,
    * 2–6 solid-color PNG frames (colors derived per-frame from doc_id —
    * every frame must be INDIVIDUALLY decoded to reproduce the sums) in
    * the length-prefixed container. A solid WxH frame's per-channel
    * mean is exactly its color byte, so the decoded luminance sum has a
    * closed form the oracle recomputes from doc_id arithmetic. */
  def videoFiles(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val n = 2 + (id % 5).toInt
        val frames = (0 until n).map(i => solidFramePng(id, i))
        MediaFile(id, "video", encodeFramePacked(frames), MediaMeta(8, 6, 0, n))
      }
  }

  /** Encode frame `i` of video `id`: an 8×6 solid PNG whose color has a
    * closed form in (id, i) — shared by [[videoFiles]] and the q99
    * dedup corpus so both decode to the same per-frame means.
    * Deterministic (identical colors encode to identical bytes), which
    * is what makes the q99 twin face byte-exact. */
  private[graft] def solidFramePng(id: Long, i: Int): Array[Byte] = {
    val r = ((id * 3 + i * 11) % 256).toInt
    val g = ((id * 5 + i * 23) % 256).toInt
    val b = ((id * 7 + i * 37) % 256).toInt
    val img = new java.awt.image.BufferedImage(
      8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val gfx = img.createGraphics()
    gfx.setColor(new java.awt.Color(r, g, b))
    gfx.fillRect(0, 0, 8, 6)
    gfx.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** REAL video decode — walk the length-prefixed container, decode
    * every frame with `javax.imageio`, and accumulate the per-frame
    * mean channel values (exact integers for solid frames). The frame
    * count comes from the FRAMING and each luminance term from DECODED
    * pixels, so a framing bug or a skipped frame changes the output.
    * Same partition-wise no-shuffle contract as the image/audio paths;
    * malformed containers or undecodable frames → -1 sentinels. */
  def decodeVideoFeatures(files: Dataset[MediaFile]): Dataset[VideoFeatures] = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { f =>
        try {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(f.payload))
          var nFrames = 0
          var lum = 0L
          var ok = true
          while (ok && in.available() >= 4) {
            val len = in.readInt()
            if (len <= 0 || len > in.available()) ok = false
            else {
              val bytes = new Array[Byte](len)
              in.readFully(bytes)
              tryDecode(bytes) match {
                case None => ok = false
                case Some(img) =>
                  val (w, h) = (img.getWidth, img.getHeight)
                  var (r, g, b) = (0L, 0L, 0L)
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) {
                      val p = img.getRGB(x, y)
                      r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
                      x += 1
                    }
                    y += 1
                  }
                  // per-frame mean channel values; exact when solid
                  lum += r / (w * h) + g / (w * h) + b / (w * h)
                  nFrames += 1
              }
            }
          }
          if (ok && nFrames > 0 && in.available() == 0)
            VideoFeatures(f.mediaId, decoded = true, nFrames, lum)
          else VideoFeatures(f.mediaId, decoded = false, -1, -1L)
        } catch {
          case _: Exception => VideoFeatures(f.mediaId, decoded = false, -1, -1L)
        }
      }
    }
  }

  /** MM — oracle-checked video rollup: synthesize the frame-packed
    * corpus, decode every frame for real, aggregate per frame count.
    * All integer-exact (solid frames decode to exact channel means),
    * so the DuckDB twin recomputes the sums from the generation
    * arithmetic — a hash match means every frame of every container
    * was individually decoded correctly. */
  def q63VideoStats(spark: SparkSession, dir: String): DataFrame =
    decodeVideoFeatures(videoFiles(spark, dir)).toDF()
      .filter(col("decoded"))
      .groupBy(col("nFrames").as("n_frames"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("lumSum")).as("total_lum"))
      .withColumn("total_frames",
        (col("n_frames").cast("long") * col("n_videos")).as("total_frames"))
      .select(col("n_frames"), col("n_videos"), col("total_frames"), col("total_lum"))
      .orderBy(col("n_frames"))

  /** DuckDB twin of [[q63VideoStats]]: the per-frame colors (and so the
    * decoded luminance sums) have closed forms in doc_id. */
  val videoOracleSql: String =
    """WITH v AS (
      |  SELECT CAST(2 + doc_id % 5 AS INT) AS n_frames,
      |    list_sum(list_transform(generate_series(0, CAST(1 + doc_id % 5 AS INT)),
      |      i -> (doc_id * 3 + i * 11) % 256 + (doc_id * 5 + i * 23) % 256
      |           + (doc_id * 7 + i * 37) % 256)) AS lum_sum
      |  FROM documents)
      |SELECT n_frames, count(*) AS n_videos,
      |  CAST(n_frames * count(*) AS BIGINT) AS total_frames,
      |  CAST(sum(lum_sum) AS BIGINT) AS total_lum
      |FROM v GROUP BY n_frames ORDER BY n_frames""".stripMargin

  /** REAL frame-sample + thumbnail resize — the decode-COST operator of
    * the video family. The container walk reads every length prefix
    * (framing is cheap: 4 bytes per frame), but only every
    * `sampleEvery`-th frame is DECODED and resized to
    * `thumbW`×`thumbH` via `Graphics2D.drawImage` bilinear scaling;
    * unsampled frames are `skipBytes`'d wholesale. At 100 TB that is
    * the entire economics of video featurization: decode cost scales
    * with the SAMPLED frames, not the stored ones (MultimodalSpec
    * proves it by corrupting the unsampled frames — the full decoder
    * fails, this one doesn't notice). Partition-wise like every
    * decoder here; payloads never shuffle.
    *
    * `thumbLum` accumulates each THUMBNAIL's per-channel pixel means —
    * read from the resized raster, so a resize that didn't happen
    * (wrong dimensions) or a sampler with the wrong stride changes the
    * output. For solid source frames any correct resampling yields the
    * same solid thumbnail, which is what gives the q69 oracle its
    * closed form. */
  def decodeVideoThumbnails(files: Dataset[MediaFile], sampleEvery: Int = 2,
      thumbW: Int = 4, thumbH: Int = 3): Dataset[ThumbFeatures] = {
    require(sampleEvery >= 1 && thumbW >= 1 && thumbH >= 1)
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { f =>
        try {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(f.payload))
          var idx = 0
          var nSampled = 0
          var lum = 0L
          var ok = true
          while (ok && in.available() >= 4) {
            val len = in.readInt()
            if (len <= 0 || len > in.available()) ok = false
            else if (idx % sampleEvery != 0) { in.skipBytes(len); idx += 1 }
            else {
              val bytes = new Array[Byte](len)
              in.readFully(bytes)
              tryDecode(bytes) match {
                case None => ok = false
                case Some(img) =>
                  val thumb = new java.awt.image.BufferedImage(
                    thumbW, thumbH, java.awt.image.BufferedImage.TYPE_INT_RGB)
                  val g2 = thumb.createGraphics()
                  g2.setRenderingHint(
                    java.awt.RenderingHints.KEY_INTERPOLATION,
                    java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                  g2.drawImage(img, 0, 0, thumbW, thumbH, null)
                  g2.dispose()
                  var (r, g, b) = (0L, 0L, 0L)
                  var y = 0
                  while (y < thumbH) {
                    var x = 0
                    while (x < thumbW) {
                      val p = thumb.getRGB(x, y)
                      r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
                      x += 1
                    }
                    y += 1
                  }
                  val n = thumbW.toLong * thumbH
                  lum += r / n + g / n + b / n
                  nSampled += 1
                  idx += 1
              }
            }
          }
          if (ok && nSampled > 0 && in.available() == 0)
            ThumbFeatures(f.mediaId, decoded = true, idx, nSampled, lum)
          else ThumbFeatures(f.mediaId, decoded = false, -1, -1, -1L)
        } catch {
          case _: Exception => ThumbFeatures(f.mediaId, decoded = false, -1, -1, -1L)
        }
      }
    }
  }

  /** MM — oracle-checked frame-sample + thumbnail rollup: every 2nd
    * frame of each container is decoded and resized for real; the
    * luminance sums come from the RESIZED rasters. Solid frames make
    * the thumbnail means integer-exact, so the DuckDB twin recomputes
    * them from the generation arithmetic over the SAMPLED indices only
    * — a hash match proves the stride, the skip, and the resize all
    * executed correctly. */
  def q69VideoThumbnails(spark: SparkSession, dir: String): DataFrame =
    decodeVideoThumbnails(videoFiles(spark, dir)).toDF()
      .filter(col("decoded"))
      .groupBy(col("nFrames").as("n_frames"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("nSampled").cast("long")).as("n_sampled_frames"),
        sum(col("thumbLum")).as("total_thumb_lum"))
      .orderBy(col("n_frames"))

  /** DuckDB twin of [[q69VideoThumbnails]]: the sampled-index luminance
    * terms have the same closed form as q63's, restricted to even
    * frame indices (the sample stride). */
  val videoThumbsOracleSql: String =
    """WITH v AS (
      |  SELECT CAST(2 + doc_id % 5 AS INT) AS n_frames,
      |    CAST((2 + doc_id % 5 + 1) // 2 AS BIGINT) AS n_sampled,
      |    list_sum(list_transform(generate_series(0, CAST(1 + doc_id % 5 AS INT)),
      |      i -> CASE WHEN i % 2 = 0
      |           THEN (doc_id * 3 + i * 11) % 256 + (doc_id * 5 + i * 23) % 256
      |                + (doc_id * 7 + i * 37) % 256 ELSE 0 END)) AS lum_sum
      |  FROM documents)
      |SELECT n_frames, count(*) AS n_videos,
      |  CAST(sum(n_sampled) AS BIGINT) AS n_sampled_frames,
      |  CAST(sum(lum_sum) AS BIGINT) AS total_thumb_lum
      |FROM v GROUP BY n_frames ORDER BY n_frames""".stripMargin

  // ------------------------------------------------------- image dedup

  /** Twin (byte-identical copy) and variant (one-pixel edit) media-id
    * offsets in [[imageCorpus]] — the constructed dup structure the
    * q97 oracle re-derives. */
  private[graft] val TwinOffset = 3000000L
  private[graft] val VariantOffset = 6000000L

  /** Closed-form gray value of pixel `p` (= y·8 + x) of base image
    * `id`: `(id+1) · (13p³ + 37p² + 101p + 7919) mod 65521 mod 256`.
    * The CUBIC per-pixel coefficient is deliberate — dHash compares
    * ADJACENT pixels, so any form whose p-differences are constant
    * (linear in p, or any single multiply of `id·64+p`) collapses the
    * whole corpus into a handful of gradient-sign patterns and drowns
    * the near report in coincidental pairs (measured: 647 false d=3
    * pairs at 500 docs for the Lehmer-linear form, 0 for this one at
    * 5000). Intermediates stay < 2^35, exact in both engines' int64.
    * The variant flips the high bit of ONE pixel (position derived
    * from the id), which moves at most two dHash comparisons — the
    * controlled near-duplicate. */
  private[graft] def pixelValue(id: Long, p: Int, variant: Boolean): Int = {
    val c = 13L * p * p * p + 37L * p * p + 101L * p + 7919L
    val base = ((id + 1L) * c % 65521L % 256L).toInt
    if (variant && p == (((id / 8) % 8) * 8 + id % 8).toInt) base ^ 128
    else base
  }

  /** Encode base/variant image `id` as a REAL 8×8 grayscale PNG
    * (r = g = b = the closed-form value, so the decoded gray is exact
    * and engine-portable). Deterministic: identical pixels encode to
    * identical bytes, which is what makes the twin face byte-exact. */
  private[graft] def encodeGrayPng(id: Long, variant: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < 64) {
      val v = pixelValue(id, p, variant)
      img.setRGB(p % 8, p / 8, (v << 16) | (v << 8) | v)
      p += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Deterministic image corpus over the documents table: one real PNG
    * per document, plus a BYTE-IDENTICAL twin every 17th id (the exact
    * face: invisible to any perceptual measure, caught only by the
    * payload digest) and a ONE-PIXEL variant every 13th id (the
    * near face: a different payload and digest, within dHash Hamming
    * ≤ 2 of its base). */
  def imageCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id").cast("long")).as[Long]
      .flatMap { id =>
        val payload = encodeGrayPng(id, variant = false)
        val meta = MediaMeta(8, 8, 0, 1)
        val base = MediaFile(id, "image", payload, meta)
        val twin =
          if (id % 17 == 0) Seq(MediaFile(id + TwinOffset, "image", payload, meta))
          else Nil
        val variant =
          if (id % 13 == 0)
            Seq(MediaFile(id + VariantOffset, "image",
              encodeGrayPng(id, variant = true), meta))
          else Nil
        base +: (twin ++ variant)
      }
  }

  /** The 64 gray values of a decoded 8×8 image, row-major (the red
    * channel — r = g = b in this corpus, and PNG is lossless, so this
    * IS the closed-form value). */
  private[graft] def grayPixels(img: java.awt.image.BufferedImage): Array[Int] = {
    val out = new Array[Int](64)
    var p = 0
    while (p < 64) {
      out(p) = (img.getRGB(p % 8, p / 8) >> 16) & 0xFF
      p += 1
    }
    out
  }

  /** 56-bit difference hash: bit q (= y·7 + x) set iff pixel (x+1, y)
    * is brighter than (x, y) — the gradient-sign signature. A single
    * pixel edit touches at most its left and right comparison, so a
    * one-pixel variant is ALWAYS within Hamming 2: recall of the
    * banded join below is structural, not probabilistic. */
  private[graft] def dHash56(v: Array[Int]): Long = {
    var h = 0L
    var q = 0
    while (q < 56) {
      val (y, x) = (q / 7, q % 7)
      if (v(y * 8 + x + 1) > v(y * 8 + x)) h |= 1L << q
      q += 1
    }
    h
  }

  /** 64-bit average hash as two 32-bit halves (lo = bits 0..31, hi =
    * 32..63): bit p set iff 64·v(p) ≥ Σv — integer cross-multiplied,
    * so both engines cut the mean identically with no float. Halves
    * keep every value positive: a bit-63 BIGINT is negative in two's
    * complement and list_sum overflow-checks differ per engine. */
  private[graft] def aHashHalves(v: Array[Int]): (Long, Long) = {
    val s = v.foldLeft(0L)(_ + _)
    var (hi, lo) = (0L, 0L)
    var p = 0
    while (p < 64) {
      if (64L * v(p) >= s) {
        if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
      }
      p += 1
    }
    (hi, lo)
  }

  /** Normalize a decoded image to the 8×8 hash raster: identity for
    * the q97 fixtures (already 8×8), bilinear resample otherwise — the
    * same `Graphics2D` path as [[resizeImage]]. */
  private[graft] def raster8(
      img: java.awt.image.BufferedImage): java.awt.image.BufferedImage =
    if (img.getWidth == 8 && img.getHeight == 8) img
    else {
      val out = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = out.createGraphics()
      gfx.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      gfx.drawImage(img, 0, 0, 8, 8, null)
      gfx.dispose()
      out
    }

  /** THE shared perceptual derivation (batch q97 and the streaming
    * ingest gate — the `canonicalText` one-derivation discipline):
    * decode, normalize to the 8×8 raster, 56-bit dHash. None when no
    * codec accepts the payload (the stream gate then degrades to
    * byte-exact dedup for that row). */
  private[graft] def perceptualDHash(payload: Array[Byte]): Option[Long] =
    tryDecode(payload).map(img => dHash56(grayPixels(raster8(img))))

  /** REAL-decode signature extraction: every payload decodes through
    * `javax.imageio` (the q33/q62 partition-wise contract — payloads
    * never shuffle, decoder configured once per partition), then the
    * exact digest (md5 over the payload BYTES) and both perceptual
    * hashes compute from the decoded raster. Undecodable payloads are
    * dropped (`decoded=false` has no signature to dedup on); this
    * corpus decodes fully. */
  def imageSignatures(files: Dataset[MediaFile]): DataFrame = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { f =>
        tryDecode(f.payload).map { img =>
          val v = grayPixels(raster8(img))
          val (hi, lo) = aHashHalves(v)
          md.reset()
          val digest = md.digest(f.payload).map("%02x".format(_)).mkString
          (f.mediaId, digest, hi, lo, dHash56(v))
        }
      }
    }.toDF("media_id", "digest", "a_hi", "a_lo", "dhash")
  }

  /** MM/L1/L2 — image dedup, exact AND perceptual, over the real-PNG
    * corpus: the multimodal face of the text engine's q23 (digest
    * groupBy) and q28 (banded signature join) in one report.
    *
    * Stage `exact`: group by payload digest — one row per group SIZE
    * (n groups, how many contain a constructed twin). Stage `ahash`:
    * distinct aHash / dHash counts over the exact-dedup
    * REPRESENTATIVES (min id per digest group — near-dup never sees a
    * byte-duplicate twice). Stage `near`: candidate pairs from a
    * 4-band × 14-bit dHash LSH join, verified at Hamming ≤ 3 — by
    * pigeonhole a pair within distance 3 has at least one untouched
    * band, so the banded join is EXACT, never all-pairs. One row per
    * verified distance (n pairs, how many are a base with its own
    * constructed variant).
    *
    * Scale posture (100 TB of images): signatures are 5 fixed-width
    * columns — payloads never survive past the partition-wise decode;
    * the exact face shuffles 16-byte digests; the near face shuffles
    * 14-bit band keys and verifies with one codegen'd
    * `bit_count(xor)` per candidate. The decoded signature relation
    * is persisted once and feeds all three stages; the report (a few
    * rows) is snapshotted, so the signatures are released before the
    * query returns. */
  def q97ImageDedup(spark: SparkSession, dir: String): DataFrame = Residents { r =>
    val sig = r.persist(imageSignatures(imageCorpus(spark, dir)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sig.count()
    val groups = sig.groupBy(col("digest"))
      .agg(min(col("media_id")).as("media_id"),
        count(lit(1)).as("sz"),
        max(when(col("media_id").between(TwinOffset, VariantOffset - 1), 1)
          .otherwise(0)).as("has_twin"))
    val exact = groups.groupBy(col("sz").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("has_twin")).cast("long").as("n_variant"))
      .select(lit("exact").as("stage"), col("k"), col("n"), col("n_variant"))
    val reps = sig.join(groups.select(col("media_id")), Seq("media_id"), "left_semi")
    val ahash = reps.agg(
      count_distinct(struct(col("a_hi"), col("a_lo"))).as("n"),
      count_distinct(col("dhash")).as("n_variant"))
      .select(lit("ahash").as("stage"), lit(0L).as("k"), col("n"),
        col("n_variant"))
    val bands = reps.select(col("media_id"), col("dhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("b"),
            shiftright(col("dhash"), 14 * b).bitwiseAND(lit(0x3FFFL))
              .as("bv"))): _*)).as("band"))
      .select(col("media_id"), col("dhash"),
        col("band.b").as("b"), col("band.bv").as("bv"))
    val near = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id1"), col("y.media_id").as("id2"),
        col("x.dhash").as("h1"), col("y.dhash").as("h2"))
      .distinct() // a pair may share several bands — count it once
      .withColumn("d", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("d") <= 3)
      .groupBy(col("d").cast("long").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("id2") - col("id1") === VariantOffset, 1L)
          .otherwise(0L)).as("n_variant"))
      .select(lit("near").as("stage"), col("k"), col("n"), col("n_variant"))
    r.snapshot(exact.unionByName(ahash).unionByName(near)
      .orderBy(col("stage"), col("k")))
  }

  /** DuckDB twin of [[q97ImageDedup]]: pixels, both hashes, the digest
    * groups (pixel-vector equality — the engine's byte-digest equality,
    * since identical pixels encode to identical PNGs and PNG is
    * lossless), and an ALL-PAIRS near join (the oracle may brute-force
    * what the engine must band). */
  val imageDedupOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id AS mid, doc_id AS pid, FALSE AS var FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, doc_id, FALSE FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 6000000, doc_id, TRUE FROM documents WHERE doc_id % 13 = 0
      |), pix AS (
      |  SELECT mid,
      |    list_transform(range(64), p ->
      |      CASE WHEN var AND p = ((pid // 8) % 8) * 8 + (pid % 8)
      |           THEN xor(CAST((pid + 1) * (13*p*p*p + 37*p*p + 101*p + 7919) % 65521 % 256 AS BIGINT), 128)
      |           ELSE CAST((pid + 1) * (13*p*p*p + 37*p*p + 101*p + 7919) % 65521 % 256 AS BIGINT) END) AS v
      |  FROM corpus
      |), hashed AS (
      |  SELECT mid, CAST(v AS VARCHAR) AS key,
      |    CAST(list_sum(list_transform(range(56), q ->
      |      CASE WHEN v[(q // 7) * 8 + (q % 7) + 2] > v[(q // 7) * 8 + (q % 7) + 1]
      |           THEN CAST(1 AS BIGINT) << q ELSE 0 END)) AS BIGINT) AS dhash,
      |    CAST(list_sum(list_transform(range(32), p ->
      |      CASE WHEN 64 * v[p + 33] >= list_sum(v) THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS a_hi,
      |    CAST(list_sum(list_transform(range(32), p ->
      |      CASE WHEN 64 * v[p + 1] >= list_sum(v) THEN CAST(1 AS BIGINT) << p ELSE 0 END)) AS BIGINT) AS a_lo
      |  FROM pix
      |), groups AS (
      |  SELECT key, min(mid) AS rep, count(*) AS sz,
      |    max(CASE WHEN mid >= 3000000 AND mid < 6000000 THEN 1 ELSE 0 END) AS has_twin
      |  FROM hashed GROUP BY key
      |), reps AS (
      |  SELECT h.mid, h.dhash, h.a_hi, h.a_lo
      |  FROM hashed h JOIN groups g ON h.mid = g.rep
      |), near AS (
      |  SELECT bit_count(xor(r1.dhash, r2.dhash)) AS d,
      |    CASE WHEN r2.mid - r1.mid = 6000000 THEN 1 ELSE 0 END AS is_var
      |  FROM reps r1 JOIN reps r2 ON r1.mid < r2.mid
      |  WHERE bit_count(xor(r1.dhash, r2.dhash)) <= 3
      |)
      |SELECT 'exact' AS stage, CAST(sz AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(has_twin) AS BIGINT) AS n_variant FROM groups GROUP BY sz
      |UNION ALL
      |SELECT 'ahash', 0, count(DISTINCT (a_hi, a_lo)), count(DISTINCT dhash) FROM reps
      |UNION ALL
      |SELECT 'near', CAST(d AS BIGINT), count(*), CAST(sum(is_var) AS BIGINT)
      |FROM near GROUP BY d
      |ORDER BY stage, k""".stripMargin

  // ------------------------------------------------ audio dedup (q98)

  /** Per-segment amplitude of dedup-corpus wave `id`, segment `s` (of
    * 16): `500 + ((id+1)·(13s³+37s²+101s+7919) mod 65521 mod 32)·100` —
    * the q97 cubic near-injectivity form, quantized to 32 amplitude
    * levels so the energy PROFILE varies per id. The gain variant
    * doubles every amplitude (max 2·3600 = 7200, well inside int16):
    * every payload byte changes, but every energy COMPARISON survives —
    * the constructed loudness-normalized duplicate a byte digest
    * cannot see. */
  private[graft] def segmentAmp(id: Long, s: Int, gain: Boolean): Int = {
    val c = 13L * s * s * s + 37L * s * s + 101L * s + 7919L
    val a = 500 + ((id + 1L) * c % 65521L % 32L).toInt * 100
    if (gain) 2 * a else a
  }

  /** Encode dedup wave `id`: 512 samples = 16 segments × 32, each
    * segment a ±A_s square wave (period 8) at the q62 rate derivation.
    * Deterministic, so the q98 twin face is byte-exact. */
  private[graft] def encodeDedupWav(id: Long, nChars: Long,
      gain: Boolean): Array[Byte] = {
    val rate = 8000 + (nChars % 3).toInt * 4000
    val samples = Array.tabulate(512) { i =>
      val a = segmentAmp(id, i / 32, gain)
      (if ((i / 4) % 2 == 0) a else -a).toShort
    }
    encodeWavPcm16(samples, rate)
  }

  /** Deterministic audio-dedup corpus over the documents table: one
    * amplitude-profiled square wave per document, plus a BYTE-IDENTICAL
    * twin every 17th id (the exact face) and a 2× GAIN variant every
    * 13th id (the robust face: different payload and digest, identical
    * energy-profile fingerprint by construction). Same twin/variant
    * id offsets as [[imageCorpus]]. */
  def audioDedupCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val rate = 8000 + (nChars % 3).toInt * 4000
        val meta = MediaMeta(0, 0, rate, 512)
        val payload = encodeDedupWav(id, nChars, gain = false)
        val base = MediaFile(id, "audio", payload, meta)
        val twin =
          if (id % 17 == 0) Seq(MediaFile(id + TwinOffset, "audio", payload, meta))
          else Nil
        val variant =
          if (id % 13 == 0)
            Seq(MediaFile(id + VariantOffset, "audio",
              encodeDedupWav(id, nChars, gain = true), meta))
          else Nil
        base +: (twin ++ variant)
      }
  }

  /** 31-bit gain-invariant energy-profile fingerprint from DECODED
    * samples: 16 segment |amplitude| sums (integer-exact for the square
    * corpus); bits 0..14 = rising-energy signs between adjacent
    * segments, bits 15..30 = segment-above-mean signs (16·sum_s > Σ,
    * integer cross-multiplied — no division anywhere). Multiplying the
    * signal by any positive gain scales every sum equally, so no
    * comparison — and no bit — can move: collapse of a loudness-changed
    * copy is STRUCTURAL, not probabilistic (the q97 dHash-recall
    * discipline). */
  private[graft] def energyFingerprint(samples: Array[Short]): Long = {
    val seg = new Array[Long](16)
    val n = math.min(samples.length, 512)
    var i = 0
    while (i < n) {
      seg(i / 32) += math.abs(samples(i).toLong)
      i += 1
    }
    val total = seg.sum
    var f = 0L
    var s = 0
    while (s < 15) {
      if (seg(s + 1) > seg(s)) f |= 1L << s
      s += 1
    }
    s = 0
    while (s < 16) {
      if (16L * seg(s) > total) f |= 1L << (15 + s)
      s += 1
    }
    f
  }

  /** THE shared audio-fingerprint derivation (batch q98 and the
    * streaming ingest gate — the [[perceptualDHash]] one-derivation
    * discipline): decode, 16-segment energy profile, 31 comparison
    * bits. None when no codec accepts the payload. */
  private[graft] def audioFingerprint(payload: Array[Byte]): Option[Long] =
    tryDecodeAudio(payload).map { case (_, samples) => energyFingerprint(samples) }

  /** REAL-decode audio signature extraction (the [[imageSignatures]]
    * contract for sound): every payload decodes through
    * `javax.sound.sampled` partition-wise, then the exact digest (md5
    * over payload BYTES) and the energy fingerprint compute from the
    * decoded PCM. Undecodable payloads are dropped. */
  def audioSignatures(files: Dataset[MediaFile]): DataFrame = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { f =>
        audioFingerprint(f.payload).map { fp =>
          md.reset()
          val digest = md.digest(f.payload).map("%02x".format(_)).mkString
          (f.mediaId, digest, fp)
        }
      }
    }.toDF("media_id", "digest", "fp")
  }

  /** MM/L1/L2 — audio dedup, exact AND gain-invariant, over the real-WAV
    * corpus: the sound face of q97. Stage `exact`: payload-digest groups,
    * one row per group SIZE (n groups, how many contain a constructed
    * twin). Stage `gain`: energy-fingerprint groups over the exact-dedup
    * REPRESENTATIVES (min id per digest — the robust face never sees a
    * byte-duplicate twice), one row per group size (n groups, how many
    * contain a constructed gain variant — every variant MUST land in its
    * base's group, the structural-recall property MultimodalSpec
    * asserts).
    *
    * Scale posture (100 TB of audio): signatures are 3 fixed-width
    * columns — payloads never survive past the partition-wise decode;
    * both faces are pure digest/fingerprint groupBys (map-side partials,
    * no joins, never all-pairs). The report is snapshotted, so the
    * signature relation is released before the query returns. */
  def q98AudioDedup(spark: SparkSession, dir: String): DataFrame = Residents { r =>
    val sig = r.persist(audioSignatures(audioDedupCorpus(spark, dir)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sig.count()
    val groups = sig.groupBy(col("digest"))
      .agg(min(col("media_id")).as("media_id"),
        count(lit(1)).as("sz"),
        max(when(col("media_id").between(TwinOffset, VariantOffset - 1), 1)
          .otherwise(0)).as("has_twin"))
    val exact = groups.groupBy(col("sz").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("has_twin")).cast("long").as("n_variant"))
      .select(lit("exact").as("stage"), col("k"), col("n"), col("n_variant"))
    val reps = sig.join(groups.select(col("media_id")), Seq("media_id"), "left_semi")
    val gain = reps.groupBy(col("fp"))
      .agg(count(lit(1)).as("sz"),
        max(when(col("media_id") >= VariantOffset, 1).otherwise(0)).as("has_var"))
      .groupBy(col("sz").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("has_var")).cast("long").as("n_variant"))
      .select(lit("gain").as("stage"), col("k"), col("n"), col("n_variant"))
    r.snapshot(exact.unionByName(gain).orderBy(col("stage"), col("k")))
  }

  /** DuckDB twin of [[q98AudioDedup]]: the amplitude profile, the
    * payload-equality key ((rate, profile) determines every WAV byte),
    * and the fingerprint comparisons all have closed forms in doc_id —
    * the oracle compares per-segment amplitudes where the engine
    * compares decoded 32-sample |amplitude| sums; positive scaling makes
    * the comparisons identical. */
  val audioDedupOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id AS mid, doc_id AS pid, n_chars, FALSE AS gain FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, doc_id, n_chars, FALSE FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 6000000, doc_id, n_chars, TRUE FROM documents WHERE doc_id % 13 = 0
      |), amp AS (
      |  SELECT mid,
      |    CAST(8000 + (n_chars % 3) * 4000 AS BIGINT) AS rate,
      |    list_transform(range(16), s ->
      |      (500 + ((pid + 1) * (13*s*s*s + 37*s*s + 101*s + 7919) % 65521 % 32) * 100)
      |      * CASE WHEN gain THEN 2 ELSE 1 END) AS a
      |  FROM corpus
      |), hashed AS (
      |  SELECT mid, rate::VARCHAR || ':' || CAST(a AS VARCHAR) AS key,
      |    CAST(list_sum(list_transform(range(15), s ->
      |      CASE WHEN a[s + 2] > a[s + 1] THEN CAST(1 AS BIGINT) << s ELSE 0 END)) +
      |    list_sum(list_transform(range(16), s ->
      |      CASE WHEN 16 * a[s + 1] > list_sum(a) THEN CAST(1 AS BIGINT) << (15 + s) ELSE 0 END)) AS BIGINT) AS f
      |  FROM amp
      |), groups AS (
      |  SELECT key, min(mid) AS rep, count(*) AS sz,
      |    max(CASE WHEN mid >= 3000000 AND mid < 6000000 THEN 1 ELSE 0 END) AS has_twin
      |  FROM hashed GROUP BY key
      |), reps AS (
      |  SELECT h.mid, h.f FROM hashed h JOIN groups g ON h.mid = g.rep
      |), fpg AS (
      |  SELECT f, count(*) AS sz,
      |    max(CASE WHEN mid >= 6000000 THEN 1 ELSE 0 END) AS has_var
      |  FROM reps GROUP BY f
      |)
      |SELECT 'exact' AS stage, CAST(sz AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(has_twin) AS BIGINT) AS n_variant FROM groups GROUP BY sz
      |UNION ALL
      |SELECT 'gain', CAST(sz AS BIGINT), count(*), CAST(sum(has_var) AS BIGINT)
      |FROM fpg GROUP BY sz
      |ORDER BY stage, k""".stripMargin

  // ------------------------------------------------ video dedup (q99)

  /** Closed-form channel values of dedup-corpus frame `i` of video
    * `id`: the q97 cubic near-injectivity form with per-channel constant
    * offsets — `((id+1)·(13i³+37i²+101i+7919+t) mod 65521) mod 256` for
    * t = 0/131/257. The q63 colors (linear `id·3 + i·11 mod 256`) repeat
    * with period 1280 in id, which would byte-collide unrelated videos
    * at sf ≥ 0.01; the cubic form makes the frame SEQUENCE near-unique
    * per id, so the exact face sees only the constructed twins. */
  private[graft] def dedupFrameColor(id: Long, i: Int, t: Int): Int = {
    val c = 13L * i * i * i + 37L * i * i + 101L * i + 7919L + t
    ((id + 1L) * c % 65521L % 256L).toInt
  }

  /** Deterministic video-dedup corpus: solid-frame containers with the
    * cubic per-frame colors, plus a BYTE-IDENTICAL twin every 17th id
    * (the exact face) and a TRIMMED variant every 13th id — the same
    * frames minus the FIRST (the re-cut/re-packaged copy: different
    * container bytes and digest, every remaining frame identical). Same
    * twin/variant id offsets as [[imageCorpus]]. */
  def videoDedupCorpus(spark: SparkSession, dir: String): Dataset[MediaFile] = {
    import spark.implicits._
    Tables.spread(Tables.documents(spark, dir))
      .select(col("doc_id").cast("long")).as[Long]
      .flatMap { id =>
        val n = 2 + (id % 5).toInt
        val frames = (0 until n).map { i =>
          val img = new java.awt.image.BufferedImage(
            8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val gfx = img.createGraphics()
          gfx.setColor(new java.awt.Color(dedupFrameColor(id, i, 0),
            dedupFrameColor(id, i, 131), dedupFrameColor(id, i, 257)))
          gfx.fillRect(0, 0, 8, 6)
          gfx.dispose()
          val baos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", baos)
          baos.toByteArray
        }
        val base = MediaFile(id, "video", encodeFramePacked(frames),
          MediaMeta(8, 6, 0, n))
        val twin =
          if (id % 17 == 0)
            Seq(MediaFile(id + TwinOffset, "video", base.payload,
              MediaMeta(8, 6, 0, n)))
          else Nil
        val variant =
          if (id % 13 == 0)
            Seq(MediaFile(id + VariantOffset, "video",
              encodeFramePacked(frames.drop(1)), MediaMeta(8, 6, 0, n - 1)))
          else Nil
        base +: (twin ++ variant)
      }
  }

  /** REAL-decode per-frame signature extraction: walk the
    * length-prefixed container, decode EVERY frame with `javax.imageio`
    * (the q63 contract — a framing bug or skipped frame changes the
    * keys), and emit one row per frame with the frame's mean-color key
    * (r·65536 + g·256 + b over integer-exact solid-frame means), the
    * video's payload digest, and its distinct-key count. Malformed
    * containers are dropped whole (a partial key set would fabricate
    * containment). */
  /** THE shared frame-key derivation (batch q99 and the streaming
    * ingest gate): walk the length-prefixed container, decode EVERY
    * frame, emit the distinct mean-color keys in first-appearance
    * order. None for malformed containers or undecodable frames — a
    * partial key set would fabricate containment. */
  private[graft] def frameKeys(payload: Array[Byte]): Option[Seq[Long]] =
    try {
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(payload))
      val keys = scala.collection.mutable.LinkedHashSet.empty[Long]
      var ok = true
      while (ok && in.available() >= 4) {
        val len = in.readInt()
        if (len <= 0 || len > in.available()) ok = false
        else {
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          tryDecode(bytes) match {
            case None => ok = false
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              var (r, g, b) = (0L, 0L, 0L)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
                  x += 1
                }
                y += 1
              }
              val area = (w * h).toLong
              keys += (r / area) * 65536L + (g / area) * 256L + b / area
          }
        }
      }
      if (ok && keys.nonEmpty && in.available() == 0) Some(keys.toSeq) else None
    } catch { case _: Exception => None }

  def videoFrameSignatures(files: Dataset[MediaFile]): DataFrame = {
    import files.sparkSession.implicits._
    files.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { f =>
        frameKeys(f.payload).toSeq.flatMap { keys =>
          md.reset()
          val digest = md.digest(f.payload).map("%02x".format(_)).mkString
          keys.map(k => (f.mediaId, digest, k, keys.size.toLong))
        }
      }
    }.toDF("media_id", "digest", "frame_key", "n_keys")
  }

  /** MM/L1/L2 — video dedup, exact AND trim-robust, over the real
    * frame-packed corpus. Stage `exact`: payload-digest groups, one row
    * per group SIZE (n groups, how many contain a constructed twin).
    * Stage `near`: CONTAINMENT pairs over the exact-dedup
    * representatives — frame rows self-join on the frame KEY (the LSH
    * block: only videos sharing a frame ever meet), pairs aggregate
    * their shared-key count, and a pair qualifies when the smaller
    * video's EVERY key appears in the larger (shared = min(n1, n2) —
    * exactly how a trimmed re-cut relates to its source). One row per
    * shared-count (n pairs, how many are a base with its own trimmed
    * variant — structural recall: a variant shares ALL its n−1 keys
    * with its base, so every variant pair must qualify).
    *
    * Scale posture (100 TB of video): payloads never survive past the
    * partition-wise decode — the join carries (id, 24-bit key, count)
    * rows only; blocking on the frame key is never all-pairs and the
    * per-key group is bounded by how many videos genuinely share a
    * frame (the same bound any inverted frame index serves). The report
    * is snapshotted, so the frame relation is released before the
    * query returns. */
  def q99VideoDedup(spark: SparkSession, dir: String): DataFrame = Residents { r =>
    val sig = r.persist(videoFrameSignatures(videoDedupCorpus(spark, dir)),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sig.count()
    val vids = sig.groupBy(col("digest"))
      .agg(min(col("media_id")).as("media_id"),
        count_distinct(col("media_id")).as("sz"),
        max(when(col("media_id").between(TwinOffset, VariantOffset - 1), 1)
          .otherwise(0)).as("has_twin"))
    val exact = vids.groupBy(col("sz").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("has_twin")).cast("long").as("n_variant"))
      .select(lit("exact").as("stage"), col("k"), col("n"), col("n_variant"))
    val reps = sig.join(vids.select(col("media_id")), Seq("media_id"), "left_semi")
    val near = reps.as("x").join(reps.as("y"),
        col("x.frame_key") === col("y.frame_key") &&
          col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("id1"), col("y.media_id").as("id2"))
      .agg(count(lit(1)).as("shared"),
        first(col("x.n_keys")).as("n1"), first(col("y.n_keys")).as("n2"))
      .filter(col("shared") === least(col("n1"), col("n2")))
      .groupBy(col("shared").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("id2") - col("id1") === VariantOffset, 1L).otherwise(0L))
          .as("n_variant"))
      .select(lit("near").as("stage"), col("k"), col("n"), col("n_variant"))
    r.snapshot(exact.unionByName(near).orderBy(col("stage"), col("k")))
  }

  /** DuckDB twin of [[q99VideoDedup]]: frame colors (so keys), the
    * payload-equality key (the key LIST determines every container
    * byte), and the containment join all have closed forms in doc_id —
    * the oracle unnests lists where the engine walks and decodes real
    * containers. */
  val videoDedupOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id AS mid, doc_id AS pid, 0 AS dropn FROM documents
      |  UNION ALL
      |  SELECT doc_id + 3000000, doc_id, 0 FROM documents WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 6000000, doc_id, 1 FROM documents WHERE doc_id % 13 = 0
      |), vids AS (
      |  SELECT mid,
      |    list_distinct(list_transform(range(dropn, CAST(2 + pid % 5 AS INT)), i ->
      |      ((pid + 1) * (13*i*i*i + 37*i*i + 101*i + 7919) % 65521 % 256) * 65536
      |      + ((pid + 1) * (13*i*i*i + 37*i*i + 101*i + 7919 + 131) % 65521 % 256) * 256
      |      + (pid + 1) * (13*i*i*i + 37*i*i + 101*i + 7919 + 257) % 65521 % 256)) AS keys,
      |    list_transform(range(dropn, CAST(2 + pid % 5 AS INT)), i ->
      |      ((pid + 1) * (13*i*i*i + 37*i*i + 101*i + 7919) % 65521 % 256) * 65536
      |      + ((pid + 1) * (13*i*i*i + 37*i*i + 101*i + 7919 + 131) % 65521 % 256) * 256
      |      + (pid + 1) * (13*i*i*i + 37*i*i + 101*i + 7919 + 257) % 65521 % 256) AS seq
      |  FROM corpus
      |), groups AS (
      |  SELECT CAST(seq AS VARCHAR) AS key, min(mid) AS rep, count(*) AS sz,
      |    max(CASE WHEN mid >= 3000000 AND mid < 6000000 THEN 1 ELSE 0 END) AS has_twin
      |  FROM vids GROUP BY CAST(seq AS VARCHAR)
      |), reps AS (
      |  SELECT v.mid, v.keys FROM vids v JOIN groups g ON v.mid = g.rep
      |), frames AS (
      |  SELECT mid, unnest(keys) AS fkey, len(keys) AS nk FROM reps
      |), pairs AS (
      |  SELECT f1.mid AS id1, f2.mid AS id2, count(*) AS shared,
      |    min(f1.nk) AS n1, min(f2.nk) AS n2
      |  FROM frames f1 JOIN frames f2 ON f1.fkey = f2.fkey AND f1.mid < f2.mid
      |  GROUP BY f1.mid, f2.mid
      |), near AS (
      |  SELECT shared,
      |    CASE WHEN id2 - id1 = 6000000 THEN 1 ELSE 0 END AS is_var
      |  FROM pairs WHERE shared = least(n1, n2)
      |)
      |SELECT 'exact' AS stage, CAST(sz AS BIGINT) AS k, count(*) AS n,
      |  CAST(sum(has_twin) AS BIGINT) AS n_variant FROM groups GROUP BY sz
      |UNION ALL
      |SELECT 'near', CAST(shared AS BIGINT), count(*), CAST(sum(is_var) AS BIGINT)
      |FROM near GROUP BY shared
      |ORDER BY stage, k""".stripMargin

  /** DuckDB twin of [[q33MultimodalStats]]: the payload is the UTF-8
    * text bytes, so md5(payload) == md5(text) and octet_length matches
    * (the corpus is ASCII). */
  val oracleSql: String =
    """WITH m AS (
      |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |    octet_length(CAST(text AS BLOB)) AS n_bytes,
      |    CAST(n_chars % 240 + 1 AS INT) AS n_frames,
      |    CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 2147483647 AS DOUBLE) / 2147483647 AS f0
      |  FROM documents)
      |SELECT media_type, count(*) AS n_files,
      |  round(avg(n_bytes), 2) AS avg_bytes,
      |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
      |  round(avg(f0), 4) AS avg_f0
      |FROM m GROUP BY media_type ORDER BY media_type""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Multimodal-column plumbing: image/audio/video payloads modeled as
  * opaque `binary` columns with a typed metadata struct, plus the three
  * operations a training pipeline runs over them — decode/feature
  * extraction, frame sampling, and payload statistics.
  *
  * The Spark-side plumbing (schema, batch iteration, partitioning, frame
  * arithmetic) is real and tested. Two codecs are REAL via the JDK alone:
  * PNG/JPEG images (`javax.imageio` — decode, resize, dHash) and WAV/PCM
  * audio (`javax.sound.sampled` — channels/rate/energy/peak, q165). Video
  * remains a clearly-marked deterministic STUB (`fakeDecode`) because no
  * video library exists in this environment. Swapping in a real decoder
  * changes one function: the per-record byte→feature step inside
  * `extractFeatures`, which is the same seam a
  * `mapInPandas`/`mapPartitions` batch UDF gives you — batch in, batch
  * out, executor-local, no driver involvement.
  *
  * Scale shape: everything here is embarrassingly parallel (map-only —
  * no shuffle at all except the catalog query's final orderBy); payloads
  * never leave the executor that scanned them, which is the property
  * that matters when the binary column is 100 KB–100 MB per row.
  */
object Multimodal {

  /** A decoded media record: the fixed schema the (stubbed) decoder
    * must produce, mirroring a Pandas-UDF output schema. */
  final case class MediaFeature(
      doc_id: Long,
      nbytes: Int,
      checksum: Long,
      feature: Array[Float])

  /** Documents as (doc_id, payload BINARY, meta STRUCT<mime,nbytes>) —
    * the text body stands in for an opaque media blob; with real data
    * this is `spark.read.format("binaryFile")` or a parquet binary
    * column, same downstream shape. */
  def payloads(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("mime"),
        length(encode(col("text"), "UTF-8")).as("nbytes")).as("meta"))

  /** Real image decode via the JDK's built-in `javax.imageio` (zero
    * external dependencies): PNG/JPEG bytes → a `dim`-length feature
    * vector of [width, height, mean R, mean G, mean B, per-strip mean
    * luma…] — the classic cheap image descriptor (dimensions + channel
    * statistics + a coarse vertical luma profile). Deterministic for a
    * given payload. Returns None when ImageIO cannot parse the bytes
    * (caller falls back to the stub). */
  private[operators] def decodeImage(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
    // NonFatal, not just IOException: corrupt bytes that pass the magic
    // sniff make ImageIO throw CMMException / IllegalArgumentException /
    // ArrayIndexOutOfBoundsException — any of which would otherwise kill
    // the task instead of falling back to the stub
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.map { im =>
      val w = im.getWidth
      val h = im.getHeight
      val out = new Array[Float](dim)
      var rSum = 0L; var gSum = 0L; var bSum = 0L
      val nStrips = math.max(1, dim - 5)
      val lumaSum = new Array[Long](nStrips)
      val stripRows = new Array[Long](nStrips)
      var y = 0
      while (y < h) {
        val strip = math.min(nStrips - 1, y * nStrips / h)
        var x = 0
        while (x < w) {
          val p = im.getRGB(x, y)
          val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
          rSum += r; gSum += g; bSum += b
          lumaSum(strip) += (299 * r + 587 * g + 114 * b) / 1000
          x += 1
        }
        stripRows(strip) += w
        y += 1
      }
      val n = (w.toLong * h).toFloat
      if (dim > 0) out(0) = w.toFloat
      if (dim > 1) out(1) = h.toFloat
      if (dim > 2) out(2) = rSum / n
      if (dim > 3) out(3) = gSum / n
      if (dim > 4) out(4) = bSum / n
      var s = 0
      while (s < nStrips && 5 + s < dim) {
        out(5 + s) = if (stripRows(s) == 0) 0f else lumaSum(s).toFloat / stripRows(s)
        s += 1
      }
      out
    }
  }

  /** Magic-byte sniff for the two formats the JDK decodes out of the box. */
  private[operators] def looksLikeImage(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (
      (bytes(0) == 0x89.toByte && bytes(1) == 'P'.toByte &&
        bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte) ||
      (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte))

  /** STUB decoder — deterministic fake standing in for the non-image
    * codecs (audio/video libraries don't exist in this environment).
    * Image payloads take the real [[decodeImage]] path. Takes the
    * caller's already-computed rolling payload hash so the payload is
    * scanned ONCE per record, not once for the checksum and again
    * here. */
  private def fakeDecode(roll: Long, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L ^ roll // content-sensitive seed
    var j = 0
    while (j < dim) {
      val mixed = (h ^ (h >>> 33)) * (j * 2654435761L + 1)
      out(j) = ((mixed >>> 40).toInt.toFloat / (1 << 23)) - 0.5f
      j += 1
    }
    out
  }

  /** Batch feature extraction over payload partitions — the
    * `mapPartitions` seam where codecs plug in. PNG/JPEG payloads decode
    * for real via the JDK's ImageIO; everything else takes the
    * deterministic stub. Rows stream through executor-local batches;
    * output is a typed Dataset with the fixed [[MediaFeature]] schema. */
  def extractFeatures(payloads: DataFrame, dim: Int = 8): Dataset[MediaFeature] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          var crc = 0L
          var i = 0
          while (i < bytes.length) { crc = crc * 31 + bytes(i); i += 1 }
          val feature =
            (if (looksLikeImage(bytes)) decodeImage(bytes, dim) else None)
              .getOrElse(fakeDecode(crc, dim))
          MediaFeature(id, bytes.length, crc, feature)
        }
      }
  }

  /** A resize result: original vs re-encoded size plus whether the
    * payload was actually an image (non-images pass through unchanged). */
  final case class ResizedMedia(
      doc_id: Long,
      in_bytes: Int,
      out_bytes: Int,
      resized: Boolean,
      payload: Array[Byte])

  /** Real image resize on the same executor-local batch seam as
    * [[extractFeatures]]: PNG/JPEG payloads decode via ImageIO, draw
    * bilinearly into a `w`×`h` RGB canvas, and re-encode as PNG (PNG is
    * lossless and deterministic, so identical inputs yield identical
    * bytes across executors and retries — JPEG re-encode would not
    * guarantee that). Non-image payloads pass through untouched with
    * `resized = false` — the id/size bookkeeping still flows so a mixed
    * corpus keeps one output schema. Map-only; payloads never leave the
    * scanning executor. */
  def resizeImages(payloads: DataFrame, w: Int, h: Int): Dataset[ResizedMedia] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val out =
            if (!looksLikeImage(bytes)) None
            else
              try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
                .map { im =>
                  val canvas = new java.awt.image.BufferedImage(
                    w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                  val g = canvas.createGraphics()
                  g.setRenderingHint(
                    java.awt.RenderingHints.KEY_INTERPOLATION,
                    java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                  g.drawImage(im, 0, 0, w, h, null)
                  g.dispose()
                  val baos = new java.io.ByteArrayOutputStream()
                  javax.imageio.ImageIO.write(canvas, "png", baos)
                  baos.toByteArray
                }
              catch { case scala.util.control.NonFatal(_) => None }
          out match {
            case Some(resized) => ResizedMedia(id, bytes.length, resized.length, resized = true, resized)
            case None => ResizedMedia(id, bytes.length, bytes.length, resized = false, bytes)
          }
        }
      }
  }

  // ---- real audio decode (q165): WAV/PCM via javax.sound.sampled ----

  /** Decoded audio statistics — integer-exact columns only (the
    * q96/q71 rule), so the oracle compare is hash-exact: sample counts,
    * the sum of squared samples (the energy integral RMS derives from),
    * and the peak magnitude. */
  final case class AudioStats(
      doc_id: Long,
      is_audio: Boolean,
      channels: Int,
      sample_rate: Int,
      n_samples: Long,
      sum_sq: Long,
      peak_abs: Int)

  /** RIFF/WAVE magic sniff (the audio twin of [[looksLikeImage]]). */
  private[graft] def looksLikeWav(bytes: Array[Byte]): Boolean =
    bytes.length >= 12 &&
      bytes(0) == 'R'.toByte && bytes(1) == 'I'.toByte &&
      bytes(2) == 'F'.toByte && bytes(3) == 'F'.toByte &&
      bytes(8) == 'W'.toByte && bytes(9) == 'A'.toByte &&
      bytes(10) == 'V'.toByte && bytes(11) == 'E'.toByte

  /** REAL audio decode via the JDK's built-in `javax.sound.sampled`
    * (zero external dependencies — the audio analogue of the q23/q110
    * `javax.imageio` precedent): WAV bytes → (channels, sample rate,
    * sample count, Σ s², max |s|) over the signed 16-bit little-endian
    * PCM samples. Integer arithmetic throughout, so the decode is
    * bit-deterministic and the stats replay exactly in any engine that
    * can reach the same bytes. Scoped to PCM_SIGNED 16-bit LE (the
    * canonical WAV interchange format); anything else returns None and
    * takes the stub path — same NonFatal discipline as [[decodeImage]]
    * (corrupt bytes fall back, never kill the task). */
  private[graft] def decodeWav(
      bytes: Array[Byte]): Option[(Int, Int, Long, Long, Int)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      val pcm16le = fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian
      if (!pcm16le) None
      else {
        val data = ais.readAllBytes()
        var i = 0; var n = 0L; var sumSq = 0L; var peak = 0
        while (i + 1 < data.length) {
          val s = (((data(i + 1): Int) << 8) | (data(i) & 0xFF)).toShort.toInt
          sumSq += s.toLong * s
          val a = math.abs(s)
          if (a > peak) peak = a
          n += 1
          i += 2
        }
        Some((fmt.getChannels, math.round(fmt.getSampleRate), n, sumSq, peak))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batch audio statistics on the q23 executor-local seam: WAV
    * payloads take the REAL [[decodeWav]] path; everything else emits
    * the explicit non-audio row (zeros, `is_audio = false`) — the
    * stub's only job here is keeping one output schema over a mixed
    * corpus, never fabricating audio-shaped numbers. Map-only;
    * payloads never leave the scanning executor. */
  def audioStats(payloadsDf: DataFrame): Dataset[AudioStats] = {
    val spark = payloadsDf.sparkSession
    import spark.implicits._
    payloadsDf.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          (if (looksLikeWav(bytes)) decodeWav(bytes) else None) match {
            case Some((ch, rate, n, sumSq, peak)) =>
              AudioStats(id, is_audio = true, ch, rate, n, sumSq, peak)
            case None =>
              AudioStats(id, is_audio = false, 0, 0, 0L, 0L, 0)
          }
        }
      }
  }

  /** The payloads frame with a deterministic mono PCM16 sine-tone WAV
    * planted on every `doc_id % 20 == 10` row (disjoint from the
    * planted-PNG rows): frequency/amplitude keyed by `doc_id / 20`,
    * 400 samples at 8 kHz, synthesized in integer-rounded samples and
    * written through the JDK's canonical WAV writer — so the planted
    * energy integral is computable in closed form by the spec and the
    * bytes are identical across executors and retries. All other rows
    * keep their text payload and take the non-audio path. */
  def plantedAudioPayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    payloads(docs).select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          if (id % 20 != 10) (id, bytes, "text/plain")
          else (id, synthWav(id / 20), "audio/wav")
        }
      }.toDF("doc_id", "payload", "mime")
      .select(col("doc_id"), col("payload"),
        struct(col("mime"), length(col("payload")).as("nbytes")).as("meta"))
  }

  /** The planted tone for key `key`: 400 int16 samples of
    * round(amp·sin(2π·f·i/8000)), f = 220 + 20·(key mod 16),
    * amp = 8000 + 500·(key mod 8). */
  private[graft] def synthWav(key: Long): Array[Byte] = {
    val rate = 8000f
    val n = 400
    val f = 220.0 + 20.0 * (key % 16).toDouble
    val amp = 8000.0 + 500.0 * (key % 8).toDouble
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = math.round(amp * math.sin(2.0 * math.Pi * f * i / rate)).toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Frame sampling: slice the payload into fixed-size chunks ("frames")
    * and keep every `stride`-th — pure expression work (`substring` on
    * binary), no UDF, stays in codegen. */
  def sampleFrames(payloadsDf: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    // stride <= 0 would previously make the % filter NULL out every row —
    // a silently empty result instead of an error
    require(stride > 0, s"stride must be positive, got $stride")
    // n_frames = ceil(nbytes/frameBytes), floored at 0: an empty payload
    // must yield ZERO frames — a bare sequence(0, n-1) at n=0 is the
    // descending [0, -1], which would emit two phantom empty frames
    val nFrames = greatest(lit(0),
      ceil(col("meta.nbytes").cast("double") / frameBytes).cast("int"))
    // the sequence STEPS by the stride, so only kept frames are ever
    // sliced/allocated — materializing every frame and filtering
    // (stride-1)/stride of them away would pay the full slice cost on
    // discarded data; frame_idx stays the original frame index
    payloadsDf.select(col("doc_id"), col("meta.nbytes").as("nbytes"),
      explode(
        when(nFrames > 0,
          transform(
            sequence(lit(0), nFrames - 1, lit(stride)),
            i => struct(i.as("frame_idx"),
              substring(col("payload"), (i * frameBytes + 1).cast("int"), lit(frameBytes))
                .as("frame"))))
          .otherwise(array().cast("array<struct<frame_idx:int,frame:binary>>")))
        .as("f"))
      .select(col("doc_id"), col("nbytes"),
        col("f.frame_idx").as("frame_idx"), col("f.frame").as("frame"))
  }

  // ---- perceptual image dedup (q110) ----

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit difference hash (dHash) of an image payload: ImageIO
    * decode, bilinear draw onto a 9×8 grayscale canvas, bit (8y+x) set
    * when pixel(x,y) < pixel(x+1,y) — the classic cheap perceptual
    * fingerprint: stable under re-encode and mild brightness/noise
    * changes, Hamming distance ≈ visual difference. None when the
    * bytes are not a decodable image (same NonFatal discipline as
    * [[decodeImage]]: corrupt bytes fall back, never kill the task). */
  private[graft] def dHash64(bytes: Array[Byte]): Option[Long] =
    try {
      if (!looksLikeImage(bytes)) None
      else Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))).map { img =>
        val canvas = new java.awt.image.BufferedImage(9, 8,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val g = canvas.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 9, 8, null)
        g.dispose()
        val r = canvas.getRaster
        var fp = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (r.getSample(x, y, 0) < r.getSample(x + 1, y, 0))
              fp |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        fp
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-payload 64-bit perceptual fingerprint on the q23 batch seam:
    * decodable PNG/JPEG payloads take the real [[dHash64]]; everything
    * else falls back to a splitmix64 of the payload checksum (the q23
    * stub convention) — deterministic, and a random 64-bit word is
    * never within Hamming 3 of anything (p ≈ 43k/2⁶⁴ per pair), so
    * non-image payloads cannot fabricate near-dup pairs. Output:
    * (doc_id, fp, is_image). */
  def imageFingerprints(payloadsDf: DataFrame): DataFrame = {
    val spark = payloadsDf.sparkSession
    import spark.implicits._
    payloadsDf.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          dHash64(bytes) match {
            case Some(fp) => (id, fp, true)
            case None =>
              var crc = 0L
              var i = 0
              while (i < bytes.length) { crc = crc * 31 + bytes(i); i += 1 }
              (id, splitmix64(crc), false)
          }
        }
      }.toDF("doc_id", "fp", "is_image")
  }

  /** Near-duplicate image pairs by dHash Hamming distance ≤ maxDist —
    * [[Dedup.hamming64NearDups]]'s banded equi-join (the q22 SimHash
    * machinery) over perceptual fingerprints: once the fingerprint
    * exists, text SimHash and image dHash are the same scale problem
    * (map-only fingerprinting, 4×16-bit chunk banding, no all-pairs
    * product anywhere). */
  def imageNearDups(payloadsDf: DataFrame, maxDist: Int = 3): DataFrame =
    Dedup.hamming64NearDups(
      imageFingerprints(payloadsDf).select("doc_id", "fp"), maxDist)

  /** The payloads frame with a deterministic 16×16 noise PNG planted on
    * every `doc_id % 20 == 0` row: members of a pair (40k, 40k + 20)
    * render the SAME base pattern (keyed by doc_id / 40, pixels from
    * splitmix64 — distinct keys give Hamming-random fingerprints, so
    * cross-pair collisions are ~impossible), with the odd member
    * perturbing one pixel by one gray level — planted near-duplicate
    * structure that drives the REAL path end to end (ImageIO decode →
    * dHash → banded Hamming join). All other rows keep their text
    * payload and take the stub-fingerprint fallback. */
  def plantedImagePayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    payloads(docs).select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          if (id % 20 != 0) (id, bytes, "text/plain")
          else {
            val key = id / 40
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < 16) {
              var x = 0
              while (x < 16) {
                var g = (splitmix64((key << 16) | (y * 16 + x)) & 0xFFL).toInt
                if ((id / 20) % 2 == 1 && x == 7 && y == 7)
                  g = math.min(255, g + 1) // the near-dup perturbation
                img.setRGB(x, y, (g << 16) | (g << 8) | g)
                x += 1
              }
              y += 1
            }
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", baos)
            (id, baos.toByteArray, "image/png")
          }
        }
      }.toDF("doc_id", "payload", "mime")
      .select(col("doc_id"), col("payload"),
        struct(col("mime"), length(col("payload")).as("nbytes")).as("meta"))
  }

  private val frameBytes = 64

  /** Staged-fingerprint oracle root for q110 (round-13 upgrade): the
    * per-image dHash values, write-once parquet. DuckDB cannot decode
    * PNGs, but the fingerprints are deterministic and spec-gated
    * (MultimodalSpec: decode parity, perturbation distance, stub
    * isolation) — staging them lets the oracle recompute the whole
    * DOWNSTREAM dedup (all-pairs bit_count(xor) ≤ maxDist at oracle
    * scale, where the engine uses the banded equi-join) hash-exactly,
    * so the banding's lossless-recall claim is driver-checked. */
  @volatile private[graft] var stagedOracleRoot: Option[String] = None

  /** Write-once staged dHash fingerprints over the planted-image
    * corpus (doc_id, fp, is_image). */
  private[graft] def fingerprintsStaged(spark: SparkSession,
      dir: String): String = {
    Staging.stage(spark, Staging.Key("multimodal/imgfp", Seq(s"$dir/documents.parquet"))) { tmp =>
      imageFingerprints(plantedImagePayloads(Tables.documents(spark, dir)))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/fp")
    }
  }

  /** Staged planted-audio payloads for the q165 oracle: unlike q110's
    * staged FINGERPRINTS, the stage here is the INPUT boundary —
    * (doc_id, payload) bytes — because DuckDB can decode canonical
    * PCM16 WAV itself (hex-string byte extraction), making the oracle
    * an INDEPENDENT decoder twin rather than a replay of the engine's
    * own output. */
  @volatile private[graft] var audioOracleRoot: Option[String] = None

  private[graft] def audioPayloadsStaged(spark: SparkSession,
      dir: String): String = {
    Staging.stage(spark, Staging.Key("multimodal/wav", Seq(s"$dir/documents.parquet"))) { tmp =>
      plantedAudioPayloads(Tables.documents(spark, dir))
        .select("doc_id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/payloads")
    }
  }

  /** The q165 oracle: a WAV decoder in PURE SQL over the staged
    * payload bytes — RIFF/WAVE magic check, channel/rate fields from
    * the fmt chunk, the data chunk located by its tag, and every
    * 16-bit little-endian sample re-assembled from hex-nibble lookups
    * — then the same integer energy/peak folds the engine computes.
    * Independent of every engine code path (the decode twin). */
  private def audioStatsSql(root: String): String = {
    val nib = "0123456789abcdef"
    def byteAt(off: String) =
      s"""((strpos('$nib', substr(h, 2*($off)+1, 1))-1)*16
         + strpos('$nib', substr(h, 2*($off)+2, 1))-1)"""
    s"""
        WITH x AS (
          SELECT doc_id, lower(hex(payload)) AS h,
                 octet_length(payload) AS len
          FROM read_parquet('$root/payloads/*.parquet')
        ), hdr AS (
          SELECT doc_id, h,
                 -- the 'data' tag match must be BYTE-ALIGNED in the hex
                 -- string ((strpos-1) % 2 = 0), else a tag straddling
                 -- two bytes of an earlier chunk's payload would floor
                 -- to a wrong offset (round-15 advice)
                 substr(h,1,8)='52494646' AND substr(h,17,8)='57415645'
                   AND strpos(h,'64617461') > 0
                   AND (strpos(h,'64617461')-1) % 2 = 0 AS is_wav,
                 (strpos(h,'64617461')-1)//2 + 8 AS dstart,
                 -- the data chunk's own declared byte size (LE32 at
                 -- tag+4) bounds the sample count below, so trailing
                 -- chunks after the data payload are never decoded
                 ${byteAt("(strpos(h,'64617461')-1)//2+4")}
                   + 256*${byteAt("(strpos(h,'64617461')-1)//2+5")}
                   + 65536*${byteAt("(strpos(h,'64617461')-1)//2+6")}
                   + 16777216*${byteAt("(strpos(h,'64617461')-1)//2+7")}
                   AS dsize,
                 ${byteAt("22")} + 256*${byteAt("23")} AS channels,
                 ${byteAt("24")} + 256*${byteAt("25")}
                   + 65536*${byteAt("26")} + 16777216*${byteAt("27")}
                   AS sample_rate,
                 len
          FROM x
        ), sized AS (
          SELECT doc_id, h, is_wav, dstart, channels, sample_rate,
                 CASE WHEN is_wav
                      THEN least(len - dstart, dsize) // 2 ELSE 0 END
                   AS nsamp
          FROM hdr
        ), s AS (
          SELECT doc_id, is_wav, channels, sample_rate, nsamp,
            list_transform(
              list_transform(range(0, nsamp), i ->
                ${byteAt("dstart+2*i+1")}*256 + ${byteAt("dstart+2*i")}),
              u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)
              AS samples
          FROM sized
        )
        SELECT doc_id, is_wav AS is_audio,
               CAST(CASE WHEN is_wav THEN channels ELSE 0 END AS INT)
                 AS channels,
               CAST(CASE WHEN is_wav THEN sample_rate ELSE 0 END AS INT)
                 AS sample_rate,
               CAST(nsamp AS BIGINT) AS n_samples,
               CAST(coalesce(list_sum(
                 list_transform(samples, v -> CAST(v AS BIGINT)*v)), 0)
                 AS BIGINT) AS sum_sq,
               CAST(coalesce(list_max(
                 list_transform(samples, v -> abs(v))), 0) AS INT)
                 AS peak_abs
        FROM s
        ORDER BY doc_id"""
  }

  // `def`, not `val`: q110's oracle SQL embeds the staged root set by
  // the entry's run (the q105 convention)
  def queries: Seq[Query] = Seq(
    Query(
      "q23_multimodal",
      "Multimodal payload statistics: binary size and frame count per document " +
        s"(${frameBytes}-byte frames) — the oracle-checkable face of the binary-column " +
        "plumbing; decode/feature extraction is the stubbed executor-local batch " +
        "step, tested in ScalaTest.",
      (s: SparkSession, dir: String) => {
        val p = payloads(Tables.documents(s, dir))
        p.select(col("doc_id"), col("meta.nbytes").as("nbytes"),
          ceil(col("meta.nbytes").cast("double") / frameBytes).cast("int").as("n_frames"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS nbytes,
               CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / $frameBytes) AS INT) AS n_frames
        FROM documents
        ORDER BY doc_id""")),

    Query(
      "q110_image_dedup",
      "Perceptual image dedup over the binary-payload corpus: every " +
        "doc_id%20==0 row carries a deterministic planted PNG (pair " +
        "members render the same 16x16 pattern, the odd member " +
        "perturbed by one gray level), driving the REAL path end to " +
        "end — ImageIO decode, 9x8 bilinear grayscale dHash, then the " +
        "q22 banded-Hamming equi-join (4x16-bit chunks, no all-pairs " +
        "product); non-image payloads take the stub splitmix64 " +
        "fingerprint, which cannot land within Hamming 3 of anything. " +
        "Oracle (round-13 upgrade): DuckDB cannot decode PNGs, so the " +
        "deterministic spec-gated dHash fingerprints are staged as " +
        "parquet and the oracle recomputes the ENTIRE downstream " +
        "dedup from them — brute-force all-pairs bit_count(xor) <= 3 " +
        "at oracle scale vs the engine's banded equi-join — making " +
        "the banding's lossless-recall theorem a driver-checked hash " +
        "compare; planted-pair recall, perturbation distance, stub-" +
        "path isolation and decode determinism stay gated in " +
        "MultimodalSpec.",
      (s: SparkSession, dir: String) => {
        stagedOracleRoot =
          Some(new java.io.File(fingerprintsStaged(s, dir)).getAbsolutePath)
        imageNearDups(plantedImagePayloads(Tables.documents(s, dir)),
          maxDist = 3)
      },
      oracleFn = Some(() => stagedOracleRoot.map(root => s"""
        WITH fp AS (
          SELECT doc_id, fp FROM read_parquet('$root/fp/*.parquet')
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
        ORDER BY doc_a, doc_b"""))),

    Query(
      "q165_audio_stats",
      "REAL audio decode on the multimodal batch seam (the javax.imageio " +
        "precedent applied to sound): every doc_id%20==10 row carries a " +
        "deterministic planted mono PCM16 sine WAV (frequency/amplitude " +
        "keyed by doc_id, canonical JDK WAV writer), and the engine " +
        "decodes it for REAL via javax.sound.sampled — channels, sample " +
        "rate, sample count, the integer energy integral (sum of squared " +
        "samples) and peak magnitude; non-audio rows emit the explicit " +
        "zeros row (is_audio=false — the stub keeps one schema, never " +
        "fabricates audio numbers). Map-only, payloads never leave the " +
        "scanning executor. Oracle: the staged artifact is the INPUT " +
        "payload bytes, and DuckDB runs an INDEPENDENT WAV decoder in " +
        "pure SQL — magic check, fmt fields, data-chunk location, every " +
        "16-bit LE sample re-assembled from hex nibbles — then the same " +
        "integer folds, hash-exact: a true decode twin, not a replay of " +
        "engine output. Closed-form energy, determinism, and stub " +
        "isolation stay gated in MultimodalSpec.",
      (s: SparkSession, dir: String) => {
        audioOracleRoot = Some(Staging.abs(audioPayloadsStaged(s, dir)))
        audioStats(plantedAudioPayloads(Tables.documents(s, dir)))
          .orderBy("doc_id").toDF()
      },
      oracleFn = Some(() => audioOracleRoot.map(audioStatsSql)))
  )
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise per partition.
  *
  * IMAGE rows decode FOR REAL (JDK ImageIO — PNG bytes → true dimensions +
  * mean luminance), and so do UNCOMPRESSED AUDIO ([[decodeAudio]] — a
  * pure-JDK RIFF/WAVE PCM chunk walk → sample rate, duration, RMS) and
  * LOSSLESS COMPRESSED AUDIO ([[Flac]] — a pure-JDK FLAC decoder, CRC +
  * MD5 verified); perceptual codecs (MP3/AAC/video frames) remain a
  * clearly-marked deterministic STUB — a PERMANENT boundary, see
  * DEVIATIONS.md "Compressed-media decode boundary" for the rationale.
  * Everything Spark-side — the schema, the typed
  * Dataset, the partition-batched iteration shape (mirroring an
  * Arrow-batch UDF), frame sampling, metadata rewrite — is real and
  * tested. A production deployment swaps [[stubDecode]] for codec calls
  * with the same signature, exactly as [[decodeImage]] and
  * [[decodeAudio]] already do for PNG and PCM WAV.
  */
object Multimodal {

  // ImageIO defaults to FILE-BACKED stream caches: every read/write spins
  // up a temp file through a synchronized registry — under a 32-thread
  // codec stage that lock + disk churn costs more than the decode itself
  // (measured: parallel resize SLOWER than serial until disabled). The
  // blobs here are KB-scale; memory-cached streams are strictly better.
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaMeta(format: String, width: Int, height: Int, nFrames: Int)
  final case class MediaRow(id: Long, media: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(id: Long, nBytes: Int, digest: String,
      width: Int, height: Int, brightness: Double)

  /** Deterministic synthetic media corpus from a text table: bytes = UTF-8
    * text, metadata derived from the id/length. Stands in for real decoded
    * uploads in tests and queries. Formats are non-image on purpose — the
    * bytes are not a valid image codec stream, so they route to the stub
    * branch of [[decode]]; [[synthesizeImages]] makes real PNG rows. */
  def synthesizeFromText(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      encode(col(textCol), "UTF-8").as("media"),
      struct(
        element_at(array(lit("bin"), lit("mp4"), lit("wav")), (col(idCol) % 3 + 1).cast("int")).as("format"),
        (length(col(textCol)) % 640).cast("int").as("width"),
        (length(col(textCol)) % 480).cast("int").as("height"),
        (col(idCol) % 7 + 1).cast("int").as("nFrames")).as("meta"))

  /** Deterministic REAL image corpus: per row an id-derived W×H grayscale
    * PNG whose pixel (x, y) = (id·31 + x·7 + y·13) mod 256 — analytic
    * content, so an oracle can verify the DECODED features (dimensions,
    * mean luminance) in plain SQL. Encoding runs per partition on the
    * executors (ImageIO, no driver collect). */
  def synthesizeImages(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    // codec work (PNG encode here, decode/resize downstream) is orders of
    // magnitude heavier per row than the scan feeding it — rebalance an
    // under-parallel input to the session's parallelism BEFORE the
    // expensive map (the standard placement); no-op when the source
    // already has enough splits
    val ids0 = df.select(col(idCol).cast("long")).as[Long]
    val target = df.sparkSession.sparkContext.defaultParallelism
    val ids = if (ids0.rdd.getNumPartitions * 4 <= target)
      ids0.repartition(target) else ids0
    ids.mapPartitions(_.map { id =>
      val w = (id % 13 + 3).toInt
      val h = (id % 7 + 2).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, ((id * 31 + x * 7 + y * 13) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(id, bos.toByteArray, MediaMeta("png", w, h, 1))
    })
  }

  /** REAL image decode (JDK ImageIO): PNG/BMP/GIF bytes → true decoded
    * dimensions and mean luminance across all bands — independent of the
    * metadata, which real pipelines must treat as advisory. */
  def decodeImage(m: MediaRow): MediaFeatures = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.media))
    require(img != null, s"row ${m.id}: media bytes are not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val raster = img.getRaster
    var s = 0L
    var nSamples = 0L
    img.getColorModel match {
      case icm: java.awt.image.IndexColorModel =>
        // palette-indexed (GIF, palette PNG): raster samples are palette
        // INDICES, not intensities — decode through the palette to RGB
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = raster.getSample(x, y, 0)
            s += icm.getRed(i) + icm.getGreen(i) + icm.getBlue(i)
            x += 1
          }
          y += 1
        }
        nSamples = 3L * w * h
      case _ =>
        // component rasters (gray, RGB): samples ARE intensities; no
        // getRGB round-trip, which would color-convert gray and break
        // the analytic oracle
        val bands = raster.getNumBands
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < bands) { s += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        nSamples = w.toLong * h * bands
    }
    MediaFeatures(m.id, m.media.length, md5hex(m.media), w, h,
      s.toDouble / nSamples)
  }

  final case class AudioFeatures(id: Long, nBytes: Int, digest: String,
      sampleRate: Int, channels: Int, nSamples: Long, durationMs: Double,
      rms: Double)

  /** Deterministic REAL audio corpus: per row an id-derived PCM WAV
    * (RIFF/WAVE, 16-bit mono, 8 kHz) whose sample
    * `s(t) = ((id·31 + t·7) mod 2048) − 1024` — analytic integer
    * content, so an oracle can verify the DECODED features (sample
    * count, RMS) in plain SQL, the [[synthesizeImages]] discipline
    * applied to audio. Encoding runs per partition on executors. */
  def synthesizeAudio(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    val ids0 = df.select(col(idCol).cast("long")).as[Long]
    val target = df.sparkSession.sparkContext.defaultParallelism
    val ids = if (ids0.rdd.getNumPartitions * 4 <= target)
      ids0.repartition(target) else ids0
    ids.mapPartitions(_.map { id =>
      val n = ((id % 5) + 1).toInt * 80
      val sr = 8000
      val dataSize = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sr).putInt(sr * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataSize)
      var t = 0
      while (t < n) {
        bb.putShort((((id * 31 + t.toLong * 7) % 2048) - 1024).toShort)
        t += 1
      }
      MediaRow(id, bb.array(), MediaMeta("wav", 0, 0, 1))
    })
  }

  /** REAL PCM WAV decode — pure JDK RIFF chunk walk (no codec library
    * needed for uncompressed audio): validates RIFF/WAVE magic, reads the
    * fmt chunk (PCM only), and computes sample count, duration and RMS
    * amplitude from the data payload. Compressed audio (mp3/ogg/aac) and
    * video stay behind [[stubDecode]] — those genuinely need codecs this
    * container doesn't ship. Unknown chunks are skipped per the RIFF
    * spec (real-world WAVs carry LIST/INFO chunks). */
  def decodeAudio(m: MediaRow): AudioFeatures = {
    val b = java.nio.ByteBuffer.wrap(m.media)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii4(): String = {
      val a = new Array[Byte](4); b.get(a); new String(a, "US-ASCII")
    }
    require(ascii4() == "RIFF", s"row ${m.id}: not a RIFF stream")
    b.getInt // riff size
    require(ascii4() == "WAVE", s"row ${m.id}: not a WAVE stream")
    var sampleRate = 0
    var channels = 0
    var bits = 0
    var nSamples = 0L
    var sumSq = 0.0
    var seenFmt = false
    while (b.remaining() >= 8) {
      val id4 = ascii4()
      val size = b.getInt
      id4 match {
        case "fmt " =>
          val fmt = b.getShort
          require(fmt == 1, s"row ${m.id}: non-PCM WAV (format $fmt)")
          channels = b.getShort.toInt
          sampleRate = b.getInt
          b.getInt; b.getShort // byteRate, blockAlign
          bits = b.getShort.toInt
          require(bits == 16, s"row ${m.id}: only 16-bit PCM supported")
          if (size > 16) b.position(b.position() + (size - 16))
          seenFmt = true
        case "data" =>
          require(seenFmt, s"row ${m.id}: data chunk before fmt")
          val n = size / 2
          var i = 0
          while (i < n) {
            val s = b.getShort.toDouble
            sumSq += s * s
            i += 1
          }
          nSamples += n / channels
          // RIFF pads odd-size chunks with one byte; a data chunk with an
          // odd byte size (legal, if unusual) must skip it too or every
          // later chunk reads misaligned. The integer division above
          // already drops the dangling half-sample byte; step past it
          // plus the pad.
          if ((size & 1) == 1) b.position(b.position() + math.min(2, b.remaining()))
        case _ =>
          // skip unknown chunk (+ pad byte for odd sizes per RIFF)
          b.position(b.position() + size + (size & 1))
      }
    }
    require(sampleRate > 0 && nSamples > 0,
      s"row ${m.id}: no fmt/data chunks found")
    AudioFeatures(m.id, m.media.length, md5hex(m.media), sampleRate,
      channels, nSamples,
      nSamples.toDouble / sampleRate.toDouble * 1000.0,
      math.sqrt(sumSq / (nSamples.toDouble * channels)))
  }

  /** Batched typed audio-decode path (the [[decodeFeatures]] shape). */
  def audioFeatures(ds: Dataset[MediaRow],
      batchSize: Int = 64): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.map(decodeAudio)))
  }

  final case class VideoMeta(id: Long, nBytes: Int, digest: String,
      brand: String, timescale: Int, duration: Long, durationMs: Double,
      nTracks: Int)

  /** Deterministic REAL MP4 container corpus: per row an id-derived
    * minimal ISO-BMFF stream — `ftyp` (brand isom) + `moov` holding an
    * mvhd (timescale 600, duration = (id mod 10 + 1)·600 units = 1–10 s)
    * and (id mod 3 + 1) empty `trak` boxes. Analytic structure, so an
    * oracle verifies the PARSED metadata in SQL. */
  def synthesizeVideo(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long")).as[Long].map { id =>
      val nTrak = (id % 3 + 1).toInt
      val duration = ((id % 10) + 1) * 600L
      val mvhdSize = 8 + 100 // full box v0 payload is 100 bytes
      val moovSize = 8 + mvhdSize + nTrak * 8
      val bb = java.nio.ByteBuffer.allocate(16 + moovSize)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(0x200)
      bb.putInt(moovSize).put("moov".getBytes("US-ASCII"))
      bb.putInt(mvhdSize).put("mvhd".getBytes("US-ASCII"))
        .putInt(0) // version 0 + flags
        .putInt(0).putInt(0) // creation, modification
        .putInt(600).putInt(duration.toInt)
      bb.position(bb.position() + 100 - 20) // rest of mvhd payload zeroed
      var t = 0
      while (t < nTrak) {
        bb.putInt(8).put("trak".getBytes("US-ASCII"))
        t += 1
      }
      MediaRow(id, bb.array(), MediaMeta("mp4", 0, 0, nTrak))
    }
  }

  /** REAL MP4/ISO-BMFF METADATA parse — a pure-JDK box walk (no codec
    * needed for container metadata): top-level boxes → `ftyp` brand,
    * `moov`→`mvhd` timescale/duration (v0 and v1), `trak` count. This is
    * what a corpus-curation pipeline filters on (duration caps, track
    * sanity) BEFORE paying for any frame decode; the frame-decode step
    * itself remains [[stubDecode]] (that genuinely needs codecs). */
  def parseVideoMeta(m: MediaRow): VideoMeta = {
    val b = java.nio.ByteBuffer.wrap(m.media)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    var brand = ""
    var timescale = 0
    var duration = 0L
    var nTracks = 0
    def boxType(): String = {
      val a = new Array[Byte](4); b.get(a); new String(a, "US-ASCII")
    }
    def walk(end: Int, depth: Int): Unit = {
      while (b.position() + 8 <= end) {
        val start = b.position()
        val size = b.getInt
        val tp = boxType()
        require(size >= 8 && start + size <= end,
          s"row ${m.id}: malformed box '$tp' size $size at $start")
        tp match {
          case "ftyp" =>
            brand = boxType()
          case "moov" =>
            walk(start + size, depth + 1)
          case "mvhd" =>
            val version = b.get() & 0xFF
            b.position(b.position() + 3) // flags
            if (version == 1) {
              b.getLong; b.getLong // creation, modification (64-bit)
              timescale = b.getInt
              duration = b.getLong
            } else {
              b.getInt; b.getInt
              timescale = b.getInt
              duration = b.getInt.toLong & 0xFFFFFFFFL
            }
          case "trak" if depth == 1 =>
            nTracks += 1
          case _ => ()
        }
        b.position(start + size)
      }
    }
    walk(m.media.length, 0)
    require(timescale > 0, s"row ${m.id}: no mvhd box found")
    VideoMeta(m.id, m.media.length, md5hex(m.media), brand, timescale,
      duration, duration.toDouble / timescale.toDouble * 1000.0, nTracks)
  }

  /** Batched typed video-metadata path (the [[decodeFeatures]] shape). */
  def videoMeta(ds: Dataset[MediaRow],
      batchSize: Int = 64): Dataset[VideoMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.map(parseVideoMeta)))
  }

  /** ==== STUB ==== "decode" one audio/video blob: a real implementation
    * calls a codec here (not present in this container); the stub derives
    * deterministic features (brightness := mean byte value, dimensions
    * from metadata). Signature and batch shape are the production ones.
    * NOTE: uncompressed PCM WAV decodes for REAL via
    * [[decodeAudio]]/[[audioFeatures]], and lossless compressed audio
    * via [[Flac.decode]]/[[Flac.flacFeatures]]; this stub remains only
    * for PERCEPTUAL codecs (MP3/AAC/video frames) — a permanent,
    * documented boundary (DEVIATIONS.md: no analytic oracle exists for
    * a psychoacoustic decode, only a reference decoder would do). */
  def stubDecode(m: MediaRow): MediaFeatures = {
    var s = 0L
    var i = 0
    while (i < m.media.length) { s += (m.media(i) & 0xFF); i += 1 }
    val brightness = if (m.media.length == 0) 0.0 else s.toDouble / m.media.length
    MediaFeatures(m.id, m.media.length, md5hex(m.media),
      m.meta.width, m.meta.height, brightness)
  }

  private def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Per-row dispatch: image formats decode for real, the rest stub. */
  def decode(m: MediaRow): MediaFeatures = m.meta.format match {
    case "png" | "bmp" | "gif" => decodeImage(m)
    case _ => stubDecode(m)
  }

  /** Batched per-partition decode — the mapInPandas/Arrow-batch shape: the
    * iterator is consumed in fixed-size batches so a codec can amortize
    * setup per batch, without materializing a partition in memory. */
  def decodeFeatures(ds: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.map(decode)))
  }

  /** Perceptual AVERAGE-HASH (aHash) of decoded images: sample the
    * luminance on a `cols`×`rows` grid (nearest-neighbor positions
    * `(i·w div cols, j·h div rows)` — integer arithmetic an external
    * checker can replay), set bit `j·cols + i` iff the sample exceeds
    * the grid mean. The default 10×6 grid yields the engine's 60-bit
    * sketch convention, so [[graft.ext.Dedup.hammingNearDups]] bands it
    * directly — near-duplicate IMAGE detection (re-encodes, minor
    * crops/rescales land within a few bits) with the same pigeonhole
    * machinery as text SimHash.
    *
    * The threshold compares `sample·n > Σ samples` in exact integer
    * arithmetic — no float mean, no rounding boundary. Palette images
    * hash palette-decoded r+g+b sums; component rasters sum the COLOR
    * bands only — alpha (the trailing band when the color model carries
    * one) varies per pixel, and summing it would make the same image
    * hash differently on a transparent vs opaque background.
    * Narrow per-row map, stream-safe. */
  def aHash(ds: Dataset[MediaRow], cols: Int = 10, rows: Int = 6): DataFrame = {
    require(cols * rows <= 60, s"grid ${cols}x$rows exceeds 60 sketch bits")
    import ds.sparkSession.implicits._
    ds.map { m =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(m.media))
      require(img != null, s"row ${m.id}: media bytes are not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val n = cols * rows
      val icm = img.getColorModel match {
        case c: java.awt.image.IndexColorModel => c
        case _ => null
      }
      val colorBands =
        raster.getNumBands - (if (img.getColorModel.hasAlpha) 1 else 0)
      def lum(x: Int, y: Int): Long =
        if (icm != null) {
          val i = raster.getSample(x, y, 0)
          (icm.getRed(i) + icm.getGreen(i) + icm.getBlue(i)).toLong
        } else {
          var s = 0L; var b = 0
          while (b < colorBands) { s += raster.getSample(x, y, b); b += 1 }
          s
        }
      val samples = new Array[Long](n)
      var total = 0L
      var k = 0
      while (k < n) {
        val sx = ((k % cols).toLong * w / cols).toInt
        val sy = ((k / cols).toLong * h / rows).toInt
        samples(k) = lum(sx, sy)
        total += samples(k)
        k += 1
      }
      var bits = 0L
      k = 0
      while (k < n) {
        if (samples(k) * n > total) bits |= 1L << k
        k += 1
      }
      (m.id, bits)
    }.toDF("id", "ahash")
  }

  /** Sample every nth frame of a video-like row (frames as binary chunks of
    * the media blob): posexplode keeps the frame index. */
  def frameSample(df: DataFrame, every: Int): DataFrame =
    df.select(col("id"), col("meta"),
        posexplode(expr(
          s"filter(transform(sequence(0, meta.nFrames - 1), f -> named_struct('f', f, 'chunk', substring(media, f * 16 + 1, 16))), s -> s.f % $every = 0)"))
          .as(Seq("pos", "frame")))
      .select(col("id"), col("frame.f").as("frame_idx"), col("frame.chunk").as("chunk"))

  /** Metadata rewrite for a resize — binary passthrough (STUB: a real
    * resize re-encodes pixels; the metadata contract is what downstream
    * operators consume). Kept for the non-image formats [[resizeNearest]]
    * cannot decode in this container. */
  def resizeStub(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("meta",
      struct(col("meta.format"), lit(w).as("width"), lit(h).as("height"),
        col("meta.nFrames")))

  /** REAL image resize: decode (ImageIO), nearest-neighbor downsample by
    * integer strides (fx, fy) — output pixel (x, y) := source pixel
    * (x·fx, y·fy), new dims max(1, w/fx) × max(1, h/fy) — re-encode PNG.
    * The integer-stride special case keeps the pixel mapping exactly
    * reproducible by an external checker (q93's oracle computes the
    * subsampled synthetic raster analytically); a production deployment
    * swaps the per-pixel loop for an interpolating kernel with the same
    * Dataset shape. Narrow per-row map — no shuffle, stream-safe. */
  def resizeNearest(ds: Dataset[MediaRow], fx: Int, fy: Int): Dataset[MediaRow] = {
    require(fx > 0 && fy > 0, s"strides must be positive, got ($fx, $fy)")
    import ds.sparkSession.implicits._
    ds.map { m =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.media))
      require(img != null, s"row ${m.id}: media bytes are not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val nw = math.max(1, w / fx)
      val nh = math.max(1, h / fy)
      val out = new java.awt.image.BufferedImage(nw, nh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val src = img.getRaster
      val dst = out.getRaster
      var y = 0
      while (y < nh) {
        var x = 0
        while (x < nw) {
          dst.setSample(x, y, 0, src.getSample(x * fx, y * fy, 0))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      MediaRow(m.id, bos.toByteArray, MediaMeta("png", nw, nh, m.meta.nFrames))
    }
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Multimodal column plumbing: image/audio/video payloads are opaque
 * `binary` columns with typed metadata travelling beside them. The
 * actual decoders are STUBBED (no media libraries in this environment)
 * behind [[FakeDecode]] — a deterministic, clearly-fake feature
 * extractor — while the Spark-side plumbing (schema, batching,
 * partition shape, explode-based frame sampling) is real and tested.
 *
 * Scale notes: payload bytes never enter a shuffle — metadata extraction
 * is map-side; frame sampling explodes only (doc_id, frame_no) pairs,
 * not the binary blob.
 */
object Multimodal {

  /** STUB decode: where a real pipeline would run an image/audio codec
    * over the binary payload (e.g. inside mapPartitions with a native
    * lib), we derive deterministic fake dimensions from the bytes. */
  object FakeDecode {
    def widthExpr = (octet_length(col("payload")) % 640).cast("long")
    /** First PAYLOAD BYTE (hex-extracted, so the value is well-defined
      * for any UTF-8 content, not just ASCII) drives the fake height. */
    def firstByteExpr =
      coalesce(conv(substring(hex(col("payload")), 1, 2), 16, 10).cast("long"), lit(0L))
    def heightExpr = (firstByteExpr * 3) % 480
  }

  /** The documents table with a synthesized binary payload column —
    * stands in for a real image/audio blob read from storage. */
  private def withPayload(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("payload", col("text").cast("binary"))

  /** #28 — typed metadata extraction over an opaque binary column. */
  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    withPayload(s, dir).select(
      col("doc_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      substring(md5(col("payload")), 1, 8).as("content_id"),
      FakeDecode.widthExpr.as("width"),
      FakeDecode.heightExpr.as("height"),
      // "resize": fit to 224 wide preserving aspect, integer arithmetic
      lit(224L).as("resize_w"),
      floor((FakeDecode.heightExpr * 224) / (FakeDecode.widthExpr + 1))
        .cast("long").as("resize_h"))

  /** Typed batch-decode output row. */
  final case class MediaFeature(
      doc_id: Long, n_bytes: Long, first_byte: Long, checksum16: Long)

  /** #31 — the mapPartitions decode path: payload bytes are handed to a
    * per-partition decoder, the shape a real codec (image resize, audio
    * feature-extract) plugs into — one native-lib handle per partition,
    * rows streamed through it. The decode itself is a STUB (no media
    * libs here): deterministic byte arithmetic stands in for real
    * features, but the schema/Encoder/batching plumbing is the real
    * thing. */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPayload(s, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // real impl: open codec/native handle once per partition here
        batch.map { case (id, bytes) =>
          val checksum = bytes.take(16).foldLeft(0L)((a, b) => a + (b & 0xff))
          MediaFeature(id, bytes.length.toLong,
            (if (bytes.nonEmpty) bytes(0) & 0xff else 0).toLong, checksum)
        }
        // real impl: close the handle via a completion iterator
      }
      .toDF()
  }

  /** Geometry of #mm_decode_image's PNG payloads: 16×16 8-bit
    * grayscale rasters, pooled into an 8×8 grid of 2×2-pixel cells. */
  val ImgSide = 16
  val ImgGrid = 8
  private val CellPx = ImgSide / ImgGrid

  /** Deterministic luma of pixel (x, y) for a document — the formula
    * the generator rasterizes and the oracle recomputes directly; the
    * path between them is REAL PNG bytes through javax.imageio, so a
    * broken encode, decode, or sample extraction breaks the hash. */
  @inline private def pixel(docId: Long, x: Int, y: Int): Int =
    ((docId * 31 + x * 7 + y * 13) % 256).toInt

  /** The documents frame with a REAL PNG payload column: each doc's
    * deterministic [[ImgSide]]² grayscale raster encoded through the
    * JVM's PNG writer inside mapPartitions — one encoder per
    * partition, payload bytes born map-side and never shuffled. */
  private[graft] def withPngPayload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // decode parallelism must come from a shuffle of the 8-byte ids,
    // not the parquet split (a doc-id projection is one footer-sized
    // split, which would serialize every codec call on one core —
    // measured 6x at the grown sweep). The count is EXPLICIT: the rows
    // are bytes-tiny but each carries real codec work, so AQE's
    // size-based coalescing would fold the exchange back to one
    // partition (the putWritersPerPartition precedent).
    Tables.documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")).as[Long]
      .mapPartitions { ids =>
        // keep ImageIO fully in-memory: its default stream cache spools
        // through a temp FILE per encode — a syscall tax per row and a
        // disk dependency a 100 TB scan must not have
        javax.imageio.ImageIO.setUseCache(false)
        // one reused fill buffer per task; setSamples is the bulk
        // equivalent of the per-pixel setSample loop (same samples,
        // ~10x less SampleModel dispatch — guide §1.2 per-task work)
        val buf = new Array[Int](ImgSide * ImgSide)
        ids.map { id =>
          val img = new java.awt.image.BufferedImage(
            ImgSide, ImgSide, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          var y = 0
          while (y < ImgSide) {
            var x = 0
            while (x < ImgSide) { buf(y * ImgSide + x) = pixel(id, x, y); x += 1 }
            y += 1
          }
          img.getRaster.setSamples(0, 0, ImgSide, ImgSide, 0, buf)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** One decoded grid cell of #mm_decode_image. */
  final case class LumaCell(doc_id: Long, width: Long, height: Long,
      gx: Long, gy: Long, luma_sum: Long)

  /** #mm_decode_image — a REAL image decoder in the [[decodeFeatures]]
    * mapPartitions shape (no stand-in arithmetic: the payload is a
    * genuine PNG and the decoder is javax.imageio, shipped with every
    * JVM — zero new dependencies): per document, decode the PNG
    * payload, report its true width/height and the 8×8 grid of exact
    * per-cell luma sums. PNG is lossless, so the oracle recomputes the
    * same sums from the pixel formula — any quoting/packing/codec
    * defect anywhere on the encode→decode path diverges the hash.
    * Scale: decode is embarrassingly map-side (the exact-dedup →
    * decode-unique discipline of [[payloadDedup]] applies upstream at
    * 100 TB); output is a bounded 64× row expansion of the DOC COUNT,
    * never payload bytes. [[decodeFeatures]] stays registered as the
    * documented native-lib stub shape. */
  def decodeImage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withPngPayload(s, dir).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // in-memory ImageIO (no temp-file stream cache — see
        // withPngPayload); reader instances are per-call inside
        // ImageIO.read, nothing is held across rows
        javax.imageio.ImageIO.setUseCache(false)
        // one sample buffer per task, grown on demand — a fresh w*h Int
        // array per image was avoidable GC churn in the hot decode loop
        var fill = new Array[Int](0)
        def fillOf(n: Int): Array[Int] = {
          if (fill.length < n) fill = new Array[Int](n); fill }
        batch.flatMap { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          val (w, h) = (img.getWidth, img.getHeight)
          // bulk row reads (getSamples == the per-pixel getSample loop,
          // sample-for-sample) — per-pixel raster dispatch dominated the
          // decode task time (guide §1.2 per-task work)
          val samples = img.getRaster.getSamples(0, 0, w, h, 0, fillOf(w * h))
          for { gy <- 0 until ImgGrid; gx <- 0 until ImgGrid } yield {
            var sum = 0L
            var y = gy * CellPx
            while (y < (gy + 1) * CellPx && y < h) {
              var x = gx * CellPx
              while (x < (gx + 1) * CellPx && x < w) {
                sum += samples(y * w + x); x += 1
              }
              y += 1
            }
            LumaCell(id, w.toLong, h.toLong, gx.toLong, gy.toLong, sum)
          }
        }
      }.toDF()
  }

  /** Geometry of #mm_decode_audio's WAV payloads: [[AudFrames]] frames
    * of 8-bit unsigned mono PCM at [[AudRate]] Hz, pooled into
    * [[AudBlocks]] blocks of [[AudFrames]]/[[AudBlocks]] samples. */
  val AudFrames = 256
  val AudBlocks = 8
  val AudRate = 8000
  private val AudBlockLen = AudFrames / AudBlocks

  /** Deterministic 8-bit PCM sample i for a document — rendered into
    * real WAV bytes by the generator and recomputed directly by the
    * oracle; the path between them is javax.sound.sampled. */
  @inline private def pcm(docId: Long, i: Int): Int =
    ((docId * 17 + i * 11) % 256).toInt

  /** The WAV codec providers, resolved ONCE per JVM through the public
    * ServiceLoader SPI. Every javax.sound.sampled.AudioSystem entry
    * point funnels through a JVM-GLOBAL synchronized provider lookup
    * (JDK13Services), which serializes the 32 codec tasks — measured
    * 20x on this box (CodecProbe: 522 -> 25 ms for the identical
    * encode work at 32 threads). Dispatching to the provider directly
    * is behaviour-identical: the corpus is WAV-only, and a payload the
    * WAV provider rejects throws exactly as AudioSystem would after
    * all providers rejected it. Provider choice is behaviour-based
    * (parses a canonical WAV we render at init), not name-based, so it
    * holds on any JDK. */
  /** Among behaviour-matching providers, prefer the JDK's own
    * (java.desktop module): a third-party SPI jar on the classpath
    * (mp3spi/tritonus-style) could otherwise win first-match and report
    * subtly different format metadata (r20 advice). */
  private def preferJdk[T](candidates: Seq[T]): Option[T] =
    candidates.find { c =>
      val m = c.getClass.getModule
      m != null && m.getName == "java.desktop"
    }.orElse(candidates.headOption)
  private[operators] lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    preferJdk(java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .filter(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .toSeq)
      .getOrElse(throw new IllegalStateException("no WAV AudioFileWriter SPI"))
  }
  private[operators] lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val fmt = new javax.sound.sampled.AudioFormat(AudRate.toFloat, 8, 1, false, false)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(Array[Byte](0, 1, 2, 3)), fmt, 4L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val probe = bos.toByteArray
    preferJdk(java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala
      .filter { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)); true }
        catch { case _: Exception => false }
      }
      .toSeq)
      .getOrElse(throw new IllegalStateException("no WAV AudioFileReader SPI"))
  }

  /** The documents frame with a REAL WAV payload column: each doc's
    * deterministic PCM render encoded through the JVM's own WAV writer
    * inside mapPartitions — payload bytes born map-side, never
    * shuffled. */
  private[graft] def withWavPayload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ids-only explicit-count repartition for codec parallelism — see
    // withPngPayload (AQE would coalesce a size-based exchange away)
    Tables.documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val fmt = new javax.sound.sampled.AudioFormat(
          AudRate.toFloat, 8, 1, false, false) // 8-bit unsigned mono PCM
        ids.map { id =>
          val raw = Array.tabulate(AudFrames)(i => pcm(id, i).toByte)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(raw), fmt, AudFrames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "payload")
  }

  /** One decoded PCM block of #mm_decode_audio. */
  final case class PcmBlock(doc_id: Long, sample_rate: Long, n_frames: Long,
      blk: Long, pcm_sum: Long)

  /** #mm_decode_audio — a REAL audio decoder beside [[decodeImage]]'s
    * image one (multimodal's second modality as a first-class operator;
    * javax.sound.sampled ships with every JVM — zero new deps): per
    * document, parse the WAV payload, report the container's true
    * sample rate and frame count, and the exact per-block sums of the
    * decoded 8-bit PCM stream. PCM in a WAV container is lossless, so
    * the oracle recomputes the sums from the sample formula — a header
    * mis-parse, a sign/endianness slip, or a truncated read diverges
    * the hash. Scale: identical map-side story to [[decodeImage]]. */
  def decodeAudio(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withWavPayload(s, dir).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          val ais = wavReader.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val rate = ais.getFormat.getSampleRate.toLong
          val frames = ais.getFrameLength
          val data = ais.readAllBytes()
          (0 until AudBlocks).map { b =>
            var sum = 0L
            var i = b * AudBlockLen
            while (i < (b + 1) * AudBlockLen && i < data.length) {
              sum += data(i) & 0xff; i += 1
            }
            PcmBlock(id, rate, frames, b.toLong, sum)
          }
        }
      }.toDF()
  }

  // ---- robust decoders over a VARIED + partially CORRUPT corpus -------
  // (verdict r17 #5) Real corpora are not one container shape: the
  // image side cycles 8-bit gray / 8-bit RGB / palette-indexed /
  // 16-bit gray PNGs, the audio side cycles 8-bit mono / 16-bit mono /
  // 8-bit stereo WAVs, and a deterministic slice of rows is POISONED
  // (broken magic, empty payload). The robust decoders follow the
  // Catalyst-expression discipline: flag, don't throw — one poison
  // byte must not kill a 100 TB scan — so every row decodes to either
  // real metadata + exact content sums or an ok=false error row.

  /** Corruption slice: doc_id % [[CorruptMod]] picks the poison kind —
    * [[CorruptMagicRem]] = leading magic bytes zeroed (no reader claims
    * the payload), [[CorruptEmptyRem]] = empty payload. */
  val CorruptMod = 17L
  val CorruptMagicRem = 5L
  val CorruptEmptyRem = 11L

  private def poison(id: Long, bytes: Array[Byte]): Array[Byte] =
    id % CorruptMod match {
      case CorruptMagicRem =>
        val b = bytes.clone(); var i = 0
        while (i < 4 && i < b.length) { b(i) = 0; i += 1 }
        b
      case CorruptEmptyRem => Array.empty[Byte]
      case _ => bytes
    }

  /** 16-bit luma of pixel (x, y) — the [[pixel]] formula widened to the
    * full 16-bit sample range of the gray16 variant. */
  @inline private def pixel16(docId: Long, x: Int, y: Int): Int =
    ((docId * 31 + x * 7 + y * 13) % 65536).toInt

  /** The varied-PNG payload corpus: container kind cycles with
    * doc_id % 4 (gray8 / rgb8 / indexed8 / gray16), then the poison
    * slice corrupts its rows. Same explicit-count id repartition as
    * [[withPngPayload]] (codec parallelism must not ride a one-split
    * projection or a coalescible exchange). */
  private[graft] def withVariedPngPayload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // in-memory, no temp files
        // a genuinely COLORED palette (a gray ramp would let the PNG
        // writer legally collapse the container to grayscale — measured:
        // indexed rows came back as gray8); entry i maps to the same
        // channel derivation the rgb8 variant uses
        val rLut = Array.tabulate(256)(i => i.toByte)
        val gLut = Array.tabulate(256)(i => ((i + 85) % 256).toByte)
        val bLut = Array.tabulate(256)(i => ((i + 170) % 256).toByte)
        // reused fill buffers per task; setSamples / bulk setRGB are the
        // bulk equivalents of the per-pixel loops (same samples in the
        // same positions — guide §1.2 per-task work)
        val buf = new Array[Int](ImgSide * ImgSide)
        ids.map { id =>
          import java.awt.image.BufferedImage
          def fill(px: (Long, Int, Int) => Int): Array[Int] = {
            var y = 0
            while (y < ImgSide) {
              var x = 0
              while (x < ImgSide) { buf(y * ImgSide + x) = px(id, x, y); x += 1 }
              y += 1
            }
            buf
          }
          val img = (id % 4) match {
            case 0 =>
              val im = new BufferedImage(ImgSide, ImgSide, BufferedImage.TYPE_BYTE_GRAY)
              im.getRaster.setSamples(0, 0, ImgSide, ImgSide, 0, fill(pixel))
              im
            case 1 =>
              val im = new BufferedImage(ImgSide, ImgSide, BufferedImage.TYPE_INT_RGB)
              im.setRGB(0, 0, ImgSide, ImgSide, fill((d, x, y) => {
                val p = pixel(d, x, y)
                (p << 16) | (((p + 85) % 256) << 8) | ((p + 170) % 256)
              }), 0, ImgSide)
              im
            case 2 =>
              val icm = new java.awt.image.IndexColorModel(
                8, 256, rLut, gLut, bLut)
              val im = new BufferedImage(ImgSide, ImgSide,
                BufferedImage.TYPE_BYTE_INDEXED, icm)
              im.getRaster.setSamples(0, 0, ImgSide, ImgSide, 0, fill(pixel))
              im
            case _ =>
              val im = new BufferedImage(ImgSide, ImgSide, BufferedImage.TYPE_USHORT_GRAY)
              im.getRaster.setSamples(0, 0, ImgSide, ImgSide, 0, fill(pixel16))
              im
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, poison(id, bos.toByteArray))
        }
      }.toDF("doc_id", "payload")
  }

  /** One robust-decode report row: container kind as DECODED (not
    * assumed), ok flag, true dims and the exact whole-image luma sum
    * (gray/indexed: raw samples; rgb: r+g+b; gray16: 16-bit samples). */
  final case class ImgDecode(doc_id: Long, kind: String, ok: Boolean,
      width: Long, height: Long, luma_sum: Long)

  /** #mm_decode_image_robust — the [[decodeImage]] path hardened for
    * payload variety and poison rows: the decoder DETECTS the container
    * shape from the decoded ColorModel (never trusts the id), extracts
    * samples per shape (raster samples for gray depths, palette lookup
    * for indexed, sRGB channels for rgb — each is the exact inverse of
    * its encoder, PNG being lossless at every depth), and flags
    * undecodable payloads as ok=false rows instead of throwing. The
    * oracle recomputes kind/dims/sums from the pixel formulas and the
    * poison arithmetic, so a mis-detected palette, a gamma-shifted
    * 16-bit read, or a thrown error on the poison slice all diverge. */
  def decodeImageRobust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withVariedPngPayload(s, dir).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        javax.imageio.ImageIO.setUseCache(false)
        // per-task grow-on-demand sample buffer (see decodeImage)
        var fill = new Array[Int](0)
        def fillOf(n: Int): Array[Int] = {
          if (fill.length < n) fill = new Array[Int](n); fill }
        batch.map { case (id, bytes) =>
          scala.util.Try(Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes)))).toOption.flatten match {
            case None => ImgDecode(id, "corrupt", ok = false, 0L, 0L, 0L)
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              val cm = img.getColorModel
              val raster = img.getRaster
              val indexed = cm.isInstanceOf[java.awt.image.IndexColorModel]
              val kind =
                if (indexed) "indexed8"
                else if (raster.getNumBands == 1 && cm.getPixelSize <= 8) "gray8"
                else if (raster.getNumBands == 1) "gray16"
                else "rgb8"
              // bulk reads, branch hoisted out of the pixel loop: bulk
              // getRGB is the exact per-pixel getRGB (palette lookup and
              // direct color share the same sRGB channel read), bulk
              // getSamples the exact per-pixel getSample — the per-pixel
              // dispatch dominated the decode task time (guide §1.2)
              var sum = 0L
              var i = 0
              if (kind == "indexed8" || kind == "rgb8") {
                val n = w * h
                val px = img.getRGB(0, 0, w, h, fillOf(n), 0, w)
                while (i < n) {
                  val p = px(i)
                  sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
                  i += 1
                }
              } else {
                // bound by w*h, not the (possibly larger) reused buffer
                val n = w * h
                val sm = raster.getSamples(0, 0, w, h, 0, fillOf(n))
                while (i < n) { sum += sm(i); i += 1 }
              }
              ImgDecode(id, kind, ok = true, w.toLong, h.toLong, sum)
          }
        }
      }.toDF()
  }

  /** 16-bit signed PCM sample i — the [[pcm]] formula widened to the
    * pcm16 variant's sample range. */
  @inline private def pcm16(docId: Long, i: Int): Int =
    ((docId * 17 + i * 11) % 65536).toInt - 32768

  /** The varied-WAV payload corpus: container cycles with doc_id % 3
    * (8-bit unsigned mono / 16-bit signed mono / 8-bit unsigned
    * stereo, right channel = left + 128 mod 256), then the poison
    * slice corrupts its rows. */
  private[graft] def withVariedWavPayload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id")).as[Long]
      .mapPartitions { ids =>
        import javax.sound.sampled._
        ids.map { id =>
          val (fmt, raw) = (id % 3) match {
            case 0 =>
              (new AudioFormat(AudRate.toFloat, 8, 1, false, false),
                Array.tabulate(AudFrames)(i => pcm(id, i).toByte))
            case 1 =>
              val b = new Array[Byte](AudFrames * 2)
              var i = 0
              while (i < AudFrames) {
                val v = pcm16(id, i)
                b(2 * i) = (v & 0xff).toByte
                b(2 * i + 1) = ((v >> 8) & 0xff).toByte
                i += 1
              }
              (new AudioFormat(AudRate.toFloat, 16, 1, true, false), b)
            case _ =>
              val b = new Array[Byte](AudFrames * 2)
              var i = 0
              while (i < AudFrames) {
                b(2 * i) = pcm(id, i).toByte
                b(2 * i + 1) = ((pcm(id, i) + 128) % 256).toByte
                i += 1
              }
              (new AudioFormat(AudRate.toFloat, 8, 2, false, false), b)
          }
          val ais = new AudioInputStream(
            new java.io.ByteArrayInputStream(raw), fmt, AudFrames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          wavWriter.write(ais, AudioFileFormat.Type.WAVE, bos)
          (id, poison(id, bos.toByteArray))
        }
      }.toDF("doc_id", "payload")
  }

  /** One robust audio-decode report row: format as PARSED from the
    * container, ok flag, and the exact all-channel sample sum (8-bit:
    * unsigned bytes; 16-bit: signed little-endian shorts). */
  final case class WavDecode(doc_id: Long, kind: String, ok: Boolean,
      sample_rate: Long, channels: Long, n_frames: Long, pcm_sum: Long)

  /** #mm_decode_audio_robust — [[decodeAudio]] hardened the same way:
    * the decoder reads the format from the RIFF header (bits, channel
    * count, rate, frame length all parsed, never assumed), sums
    * samples per the parsed sample width, and turns undecodable
    * payloads into ok=false rows. Oracle recomputes everything from
    * the PCM formulas + poison arithmetic. */
  def decodeAudioRobust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withVariedWavPayload(s, dir).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          scala.util.Try {
            val ais = wavReader.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            val bits = fmt.getSampleSizeInBits
            val data = ais.readAllBytes()
            var sum = 0L
            if (bits == 8) {
              var i = 0
              while (i < data.length) { sum += data(i) & 0xff; i += 1 }
            } else {
              var i = 0
              while (i + 1 < data.length) {
                sum += ((data(i) & 0xff) | (data(i + 1) << 8)).toShort.toLong
                i += 2
              }
            }
            WavDecode(id, s"pcm$bits${if (fmt.getChannels == 2) "stereo" else ""}",
              ok = true, fmt.getSampleRate.toLong, fmt.getChannels.toLong,
              ais.getFrameLength, sum)
          }.getOrElse(WavDecode(id, "corrupt", ok = false, 0L, 0L, 0L, 0L))
        }
      }.toDF()
  }

  /** Chunk size for [[chunkLayout]] — small because the synthetic
    * payloads are; a real pipeline uses MiB-scale chunks. */
  val ChunkBytes = 64

  /** #60 — chunk layout for binary payloads: how a store/transfer layer
    * splits each blob into fixed-size pieces (last one ragged). Pure
    * integer arithmetic over octet_length — the blob itself never
    * enters the explode (ids and lengths only), so the op is metadata-
    * weight at any scale. Byte-exact reassembly of the actual chunks is
    * spec-verified Spark-side (DuckDB cannot slice blobs). */
  def chunkLayout(s: SparkSession, dir: String): DataFrame =
    withPayload(s, dir)
      .select(col("doc_id"), octet_length(col("payload")).cast("long").as("n_bytes"))
      .select(col("doc_id"), col("n_bytes"),
        explode(when(col("n_bytes") > 0,
          sequence(lit(0L), expr(s"(n_bytes - 1) div $ChunkBytes")))
          .otherwise(array().cast("array<long>"))).as("chunk_idx"))
      .select(col("doc_id"), col("n_bytes"), col("chunk_idx"),
        least(lit(ChunkBytes.toLong),
          col("n_bytes") - col("chunk_idx") * ChunkBytes).as("chunk_len"))

  /** #91 — exact multimodal dedup: group identical payloads by content
    * hash BEFORE any decode — the highest-leverage step of a real media
    * pipeline, since decode cost then scales with unique blobs rather
    * than rows. Payload bytes never shuffle: the md5 runs map-side and
    * only the 32-hex-char hash moves. */
  def payloadDedup(s: SparkSession, dir: String): DataFrame =
    withPayload(s, dir)
      .groupBy(md5(col("payload")).as("payload_md5"))
      .agg(count(lit(1)).as("n_blobs"), min("doc_id").as("keep_doc_id"),
        sum(octet_length(col("payload"))).cast("long").as("total_bytes"))

  /** Hamming radius for phash pair mining. */
  val PhashMaxHam = 3

  /** The per-document 32-bit window SimHash feeding [[phashPairs]];
    * exposed so the spec can brute-force verify the banded mining
    * against these fingerprints directly. */
  def phashes(s: SparkSession, dir: String): DataFrame =
    phashesOf(withPayload(s, dir))

  /** Window-SimHash computation over an arbitrary payload frame — split
    * out so [[phashIncremental]] can fingerprint ONLY a new batch while
    * the corpus side reads the staged store. */
  private def phashesOf(src: DataFrame): DataFrame = {
    val hx = src
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).cast("long").as("nb"))
    val win = hx.filter(col("nb") >= 8)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1L), col("nb") - 7, lit(4L)),
          i => col("hx").substr((i * 2 - 1).cast("int"), lit(16)))).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = win.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("phash"))
  }

  /** #102 — perceptual-style near-dup pairs over binary payloads,
    * WITHOUT decode: a 32-bit SimHash over the payload's overlapping
    * byte 4-grams stands in for a real DCT perceptual hash (which
    * needs the stubbed decoder) — byte-window signatures survive
    * shifts/insertions that break whole-payload hashing, which is
    * exactly what [[payloadDedup]] cannot catch. Pair mining is the
    * byte-block pigeonhole of dedup_simhash_pairs (hamming ≤ 3 ⇒ one
    * of 4 bytes matches exactly): candidates from a bounded (byte pos,
    * value) join, bit_count verify, never all pairs. The fingerprints
    * come from the STAGED [[PhashIndex]] — the O(corpus bytes) window
    * hashing is index build, paid once per corpus fingerprint (the
    * dedup_substring pattern), so the query never touches `payload`:
    * it probes an 8-byte-per-doc parquet. Windows are 8 bytes at
    * stride 4 (the md5-per-window cost dial: a real pipeline tunes
    * window/stride to the medium); payloads shorter than 8 bytes have
    * no windows and drop out (both engines). */
  /** (doc_id, phash, band, byte) pigeonhole blocking keys of a
    * fingerprint frame — hamming ≤ 3 over 32 bits ⇒ at least one of
    * the 4 bytes matches exactly. */
  private def phashBands(ph: DataFrame): DataFrame =
    ph.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("phash"), 8 * b).bitwiseAND(0xFF)): _*)))
      .select(col("doc_id"), col("phash"),
        col("pos").as("band"), col("col").as("byte"))

  def phashPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = phashBands(s.read.parquet(PhashIndex.ensure(s, dir)))
    val x = bands.select(col("band"), col("byte"),
      col("doc_id").as("doc_id1"), col("phash").as("p1"))
    val y = bands.select(col("band"), col("byte"),
      col("doc_id").as("doc_id2"), col("phash").as("p2"))
    x.join(y, Seq("band", "byte"))
      .filter(col("doc_id1") < col("doc_id2"))
      .withColumn("ham", bit_count(col("p1").bitwiseXOR(col("p2"))).cast("long"))
      .filter(col("ham") <= PhashMaxHam)
      .select("doc_id1", "doc_id2", "ham")
      .distinct()
  }

  /** #208 — mm_phash with the per-doc cap ([[Dedup.PairCapM]]): the
    * media twin of #201 — each blob keeps only its m NEAREST
    * fingerprint neighbours (hamming asc, nbr id asc — deterministic
    * total order), so a payload duplicated c times emits ≤ m rows
    * instead of the O(c²) that put mm_phash in the scale sweep's >3×
    * tail. Mining runs through [[Dedup.cappedHamPairs]] over the
    * STAGED fingerprint store: the pigeonhole join sees DISTINCT
    * fingerprints only and per-doc neighbours reconstruct from
    * per-fingerprint id rankings, so both compute and output are
    * bounded — payload bytes never shuffle and never re-hash. */
  def phashPairsCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.cappedHamPairs(
      s.read.parquet(PhashIndex.ensure(s, dir))
        .select(col("doc_id"), col("phash").as("fp")),
      PhashMaxHam)

  /** Expected CDC chunk length dial for #216 (boundary probability
    * 1/CdcMod per byte position). */
  val CdcMod = 32

  /** #216 — CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/FastCDC
    * family — public): chunk boundaries fall where the payload's
    * rolling 8-byte window hash lands on the mod grid, so a byte
    * inserted at the front shifts every FIXED chunk (#60 mm_chunk) but
    * leaves all later CDC cut points — and their chunk hashes — intact.
    * This is how a media store dedupes STORAGE under shifts, the
    * byte-level counterpart of the phash family's similarity matching.
    * One corpus pass hashes the stride-1 windows (the algorithm's
    * O(bytes) nature — at 100 TB this is ingest-time work, the
    * dedup_substring build split); the boundary frame that survives is
    * ~bytes/CdcMod rows, the lead window runs per-doc over that
    * bounded frame, and chunk hashing re-reads only each doc's hex
    * row. Output: duplicate chunk groups (hash, copies, blobs, bytes,
    * keeper). */
  def cdcChunks(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(CdcIndex.ensure(s, dir))
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct("doc_id").as("n_blobs"),
        min("len").as("chunk_bytes"),
        min("doc_id").as("keep_doc_id"))
      .filter(col("n_copies") >= 2)

  /** Index-build producer for [[CdcIndex]]: the corpus' CDC span table.
    * The stride-1 rolling-hash pass is the O(bytes) cost a store pays
    * at INGEST (chunking happens when a blob is written, the
    * dedup_substring build split) — the registered query only groups
    * the staged 40-byte span rows. */
  private[operators] def cdcBuild(s: SparkSession, dir: String): DataFrame =
    cdcSpansOf(withPayload(s, dir)
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).cast("long").as("nb"))
      .filter(col("nb") >= 8))

  /** #219 — INCREMENTAL CDC: only the arriving batch (the
    * dedup_incremental doc_id slice) is chunked; its chunk hashes probe
    * the STAGED span store's old side, and each new blob reports how
    * many of its chunks — and how many of its bytes — the store
    * already holds. This is the write-path question a dedup store
    * answers per ingested blob ("store 2 MB or 80 KB?"); re-chunking
    * the historical corpus (O(corpus bytes)) would dwarf the batch,
    * which is exactly why the span table is the staged artifact. The
    * old side sheds to DISTINCT chunk hashes before the probe join and
    * the bloom-style small side broadcasts. */
  def cdcIncremental(s: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === Dedup.IncrRem
    val newSpans = cdcSpansOf(withPayload(s, dir).filter(isNew)
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).cast("long").as("nb"))
      .filter(col("nb") >= 8))
    newSpans.join(cdcOldHashes(s, dir), Seq("chunk_md5"), "left")
      .groupBy(col("doc_id").as("new_doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("stored"), lit(0L))).as("n_dup_chunks"),
        sum(col("len") * coalesce(col("stored"), lit(0L))).as("dup_bytes"))
      .select(col("new_doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_bytes"))
  }

  /** ROW-WISE CDC chunker: the same cuts/bounds/chunks pipeline as
    * [[cdcSpansOf]] expressed entirely in-array over one row's hex —
    * no window, no shuffle, STREAMING-SAFE (what lets #221 chunk
    * arriving blobs inside a micro-batch). Returns an array of
    * (len, chunk_md5) structs; equality with the window-based span
    * core is spec-pinned on the full corpus. */
  /** Let-binding for scalar expressions: evaluate `v` ONCE and expose
    * it to `body` as a lambda VARIABLE. Higher-order functions get no
    * common-subexpression elimination and CollapseProject freely
    * inlines a once-referenced column into a lambda that iterates —
    * which turned the chunker O(bytes²) per row (benched 200× slower).
    * Binding through a 1-element-array transform is optimizer-proof:
    * the array constructor evaluates `v` exactly once per row. */
  private[operators] def bind(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  private[graft] def cdcChunkArray(hx: Column, nb: Column): Column = {
    val bytesExpr = transform(sequence(lit(1L), nb),
      i => conv(hx.substr((i * 2 - 1).cast("int"), lit(2)), 16, 10).cast("long"))
    val boundsExpr = bind(bytesExpr) { bytes =>
      val roll = (p: Column) => aggregate(
        slice(bytes, p.cast("int"), lit(8)), lit(0L),
        (acc, x) => (acc * graft.operators.TextOps.RollB + x) %
          graft.operators.TextOps.RollP)
      val cuts = when(nb >= 9,
        filter(sequence(lit(2L), nb - 7), p => roll(p) % CdcMod === 0))
        .otherwise(array().cast("array<bigint>"))
      concat(array(lit(1L)), cuts, array(nb + 1))
    }
    bind(boundsExpr) { bounds =>
      transform(sequence(lit(1), size(bounds) - 1), i => {
        val lo = element_at(bounds, i)
        val hi = element_at(bounds, i + 1)
        struct((hi - lo).as("len"),
          md5(hx.substr((lo * 2 - 1).cast("int"), ((hi - lo) * 2).cast("int")))
            .as("chunk_md5"))
      })
    }
  }

  /** Shared logic for #221: a frame of arriving blobs chunked ROW-WISE
    * and probed against the staged span store's old-side distinct
    * hashes — per-blob dedupable-bytes report, the streaming-safe twin
    * of [[cdcIncremental]] (same output contract, same oracle). */
  def cdcIncrementalOf(arrivals: DataFrame, oldHashes: DataFrame): DataFrame =
    arrivals
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).cast("long").as("nb"))
      .select(col("doc_id"),
        explode(cdcChunkArray(col("hx"), col("nb"))).as("c"))
      .select(col("doc_id"), col("c.len").as("len"),
        col("c.chunk_md5").as("chunk_md5"))
      .join(oldHashes, Seq("chunk_md5"), "left")
      .groupBy(col("doc_id").as("new_doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("stored"), lit(0L))).as("n_dup_chunks"),
        sum(col("len") * coalesce(col("stored"), lit(0L))).as("dup_bytes"))

  /** The staged old-side distinct chunk hashes (the probe target of
    * #219/#221). */
  private[graft] def cdcOldHashes(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(CdcIndex.ensure(s, dir))
      .filter(!(col("doc_id") % Dedup.IncrMod === Dedup.IncrRem))
      .select("chunk_md5").distinct()
      .withColumn("stored", lit(1L))

  /** #221 batch twin (oracled with #219's SQL — semantics identical BY
    * CONSTRUCTION; the spec additionally pins row-wise == window-based
    * chunking on the whole corpus). */
  def cdcIncrementalStreamTwin(s: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === Dedup.IncrRem
    cdcIncrementalOf(
      withPayload(s, dir).filter(isNew)
        .filter(octet_length(col("payload")) >= 8)
        .select(col("doc_id"), col("payload")),
      cdcOldHashes(s, dir))
  }

  /** The CDC span core over a (doc_id, hx, nb) frame — exposed so the
    * spec can chunk synthetic shifted payloads and assert the
    * cut-point stability that justifies CDC over fixed chunking.
    * Returns (doc_id, p, q, len, chunk_md5) with [p, q) byte spans. */
  private[graft] def cdcSpansOf(hx: DataFrame): DataFrame = {
    // cut candidates at byte positions 2..nb-7 (1 is always a boundary).
    // The window hash is the shared Rabin-Karp roll (TextOps.RollB/P)
    // over raw byte VALUES — one hex decode per byte, pure arithmetic
    // per window (an md5 per stride-1 window would cost ~100× more and
    // is only needed where a hash must survive as an identifier; cut
    // selection needs uniformity, not collision resistance).
    val cuts = hx.filter(col("nb") >= 9)
      .withColumn("bytes",
        transform(sequence(lit(1L), col("nb")),
          i => conv(col("hx").substr((i * 2 - 1).cast("int"), lit(2)), 16, 10)
            .cast("long")))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(2L), col("nb") - 7),
          p => aggregate(slice(col("bytes"), p.cast("int"), lit(8)), lit(0L),
            (acc, x) => (acc * graft.operators.TextOps.RollB + x) %
              graft.operators.TextOps.RollP))))
      .filter(col("col") % CdcMod === 0)
      .select(col("doc_id"), (col("pos") + 2).cast("long").as("p"))
    val bounds = cuts
      .unionAll(hx.select(col("doc_id"), lit(1L).as("p")))
      .unionAll(hx.select(col("doc_id"), (col("nb") + 1).as("p")))
      .distinct()
    val wD = Window.partitionBy("doc_id").orderBy("p")
    bounds.withColumn("q", lead("p", 1).over(wD))
      .filter(col("q").isNotNull)
      .join(hx, "doc_id")
      .select(col("doc_id"), col("p"), col("q"), (col("q") - col("p")).as("len"),
        md5(col("hx").substr((col("p") * 2 - 1).cast("int"),
          ((col("q") - col("p")) * 2).cast("int"))).as("chunk_md5"))
  }

  /** #181 — PHASH PRECISION report: of the near-dup pairs the
    * fingerprint index surfaces at each hamming distance, what share
    * are literal payload duplicates — the media-dedup index-quality
    * gate (the phash twin of dedup_minhash_est: before trusting
    * fingerprint-only dedup at 100 TB, measure how often it's right
    * where exact truth is checkable). Pairs come from the staged
    * probe; the exact check is one md5-per-doc join — payload bytes
    * still never shuffle. Integer counts, one mirrored division. */
  def phashPrecision(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    phashPairs(s, dir)
      .join(h.select(col("doc_id").as("doc_id1"), col("h").as("h1")), "doc_id1")
      .join(h.select(col("doc_id").as("doc_id2"), col("h").as("h2")), "doc_id2")
      .groupBy("ham")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("h1") === col("h2"), 1L).otherwise(0L)).as("n_exact"))
      .select(col("ham"), col("n_pairs"), col("n_exact"),
        (col("n_exact").cast("double") / col("n_pairs")).as("precision"))
  }

  /** #110 — INCREMENTAL payload near-dup: match only a NEW batch of
    * blobs (doc_id ≡ IncrRem mod IncrMod — the same deterministic
    * "today's documents" slice as dedup_incremental) against the
    * existing corpus through the staged fingerprint store. BOTH sides
    * read 8 bytes per doc from [[PhashIndex]] ph/ (the arrival slice's
    * fingerprints are staged at ingest — a phash is a pure per-payload
    * function, so the store's slice is byte-identical to an
    * arrival-time artifact) — the daily-ingest production shape for
    * media dedup, where re-hashing anything (O(bytes)) per probe would
    * dwarf the probe itself. Pairing is the same bounded
    * byte-block pigeonhole, new×old only. */
  /** #133 — MEDIA dup clusters: connected components over the
    * [[phashPairs]] near-dup graph — the step that turns pairwise
    * media matches into the keep-one-per-cluster decision (the
    * dedup_cluster → dedup_cluster_survivor shape, lifted to the
    * binary corpus). Reuses [[Dedup.clusterDups]]'s star contraction
    * verbatim with the phash pair source: pair mining stays the
    * bounded byte-block join over STAGED 8-byte fingerprints, and the
    * contraction converges on the tiny edge set. */
  def phashClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterDups(s, dir, (s2, d) => phashPairs(s2, d))

  def phashIncremental(s: SparkSession, dir: String): DataFrame = {
    val isNew = col("doc_id") % Dedup.IncrMod === Dedup.IncrRem
    val ph = s.read.parquet(PhashIndex.ensure(s, dir))
    val oldPh = ph.filter(!isNew)
    // the arrival slice's fingerprints are STAGED too: a phash is a
    // pure per-payload function, so the staged store's isNew slice is
    // byte-identical to what an arrival-time ingest would write — the
    // probe reads 8 bytes/doc on BOTH sides instead of window-hashing
    // the arrival payloads per run (O(batch bytes) saved every probe)
    val newPh = ph.filter(isNew)
    val x = phashBands(newPh).select(col("band"), col("byte"),
      col("doc_id").as("new_doc_id"), col("phash").as("p1"))
    val y = phashBands(oldPh).select(col("band"), col("byte"),
      col("doc_id").as("old_doc_id"), col("phash").as("p2"))
    x.join(y, Seq("band", "byte"))
      .withColumn("ham", bit_count(col("p1").bitwiseXOR(col("p2"))).cast("long"))
      .filter(col("ham") <= PhashMaxHam)
      .select("new_doc_id", "old_doc_id", "ham")
      .distinct()
  }

  /** #142 — BYTE-HISTOGRAM INDEX OF COINCIDENCE per payload: the
    * decode-free corruption / encryption / truncation detector a media
    * ingest runs before wasting decoder cycles — IoC = Σ c_b(c_b−1) /
    * n(n−1), the probability two random byte positions hold the same
    * value. Encrypted or well-compressed payloads sit at ≈ 1/256;
    * structured media containers and text sit far higher; a sudden
    * shift per source flags pipeline corruption. Chosen over Shannon
    * entropy BECAUSE it is exact: IoC is a ratio of integers (one
    * final IEEE division mirrored in the oracle), while entropy needs
    * ln(), which is not correctly rounded cross-engine. Plan: the hex
    * string chunks into 2-char byte codes with ONE codegen'd regex
    * split per payload (the \G chunking pattern — per-byte
    * transform/aggregate lambdas are interpreted per ELEMENT and
    * dominated two earlier formulations at ~3.3 s each), then
    * explode → (doc_id, code) hash-agg (≤256 keys/doc, map-side
    * combine) → one doc_id re-agg; every operator stays inside
    * whole-stage codegen and payload bytes never shuffle (~1 s). */
  /** Frame width (bytes) and intensity-delta threshold for #168. */
  val FrameBytes = 32
  val CutThresh = 5L

  /** #168 — SCENE-CUT detection over opaque payloads: consecutive
    * fixed-width byte frames compared by mean intensity (the classic
    * shot-boundary heuristic — |mean(frame i) − mean(frame i−1)| ≥
    * threshold flags a cut), decode-free like every mm_* op: frames
    * are hex-substring windows, the per-frame byte sum folds inside
    * the array (exact integers, mean via floor div), and the
    * frame-to-frame delta is ONE lag window on the doc shuffle with
    * partitions bounded by a doc's frame count. Per-doc rollup:
    * frames, cuts, max delta. Payload bytes never shuffle — only
    * (doc, frame_no, mean) rows do. */
  def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    val hexW = 2 * FrameBytes
    // byte values via ONE regex pair-split + posexplode + codegen'd conv
    // (the byteIoc shape — no interpreted lambda touches the hot path);
    // the per-frame sum is the groupBy's map-side combine, 32:1 before
    // any shuffle. Tail bytes past the last full frame are dropped by
    // the pos filter.
    val frames = Tables.documents(s, dir)
      .select(col("doc_id"), hex(col("text").cast("binary")).as("hx"))
      .withColumn("nfb", expr(s"(length(hx) div $hexW) * $FrameBytes"))
      .select(col("doc_id"), col("nfb"),
        posexplode(expr("regexp_extract_all(hx, '(..)', 1)")))
      .filter(col("pos") < col("nfb"))
      .groupBy(col("doc_id"), expr(s"pos div $FrameBytes").as("frame_no"))
      .agg(sum(conv(col("col"), 16, 10).cast("long")).as("sm"))
      .select(col("doc_id"), col("frame_no"),
        expr(s"sm div $FrameBytes").as("m"))
    val w = Window.partitionBy("doc_id").orderBy("frame_no")
    frames
      .withColumn("prev", lag("m", 1).over(w))
      .withColumn("delta",
        when(col("prev").isNotNull, abs(col("m") - col("prev"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("delta") >= CutThresh, 1L).otherwise(0L)).as("n_cuts"),
        max(col("delta")).as("max_delta"))
  }

  def byteIoc(s: SparkSession, dir: String): DataFrame = {
    val d = withPayload(s, dir)
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).cast("long").as("nb"))
      .filter(col("nb") >= 2)
    d.select(col("doc_id"), explode(split(col("hx"), "(?<=\\G..)")).as("pr"))
      .filter(length(col("pr")) === 2) // split keeps the trailing ""
      .groupBy("doc_id", "pr").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bytes"), count(lit(1)).as("n_distinct"),
        sum(col("cnt") * (col("cnt") - 1)).as("num"))
      .select(col("doc_id"), col("n_bytes"), col("n_distinct"),
        (col("num").cast("double") /
          (col("n_bytes") * (col("n_bytes") - 1)).cast("double")).as("ioc"))
  }

  /** #29 — frame sampling plumbing: a "video" with n_chars/200 + 1
    * frames, sampled at stride 3; explodes ids only, never payloads. */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    withPayload(s, dir)
      .withColumn("n_frames", expr("n_chars div 200") + 1)
      .select(col("doc_id"),
        explode(filter(sequence(lit(0L), col("n_frames") - 1),
          i => i % 3 === 0)).as("frame_no"))

  /** Deterministic id strides of the phash-distance histogram (#257)
    * — the emb_cos_hist lags, giving near/mid/far pair populations
    * with no RNG state. */
  val PhashHistStrides: Seq[Long] = Seq(1L, 7L, 97L)

  /** #257 — PHASH HAMMING HISTOGRAM: the media-modality
    * threshold-tuning view completing the histogram trilogy
    * (dedup_jaccard_histogram for text sets, emb_cos_hist for
    * embeddings, hamming here) — where does the corpus's pair-distance
    * mass sit relative to PhashMaxHam, i.e. is the near-dup cut in a
    * valley or a cliff. All-pairs is quadratic, so pairs are the
    * DETERMINISTIC id-stride sample over the STAGED [[PhashIndex]]
    * fingerprints (8 bytes/doc — payload bytes never enter the plan):
    * ONE scan, each row exploding into its 6 bounded pair roles, one
    * (pair key, stride) shuffle pairs them (the emb_cos_hist
    * discipline — a per-stride self-join would rescan per stride), and
    * the (stride, ham) rollup is bounded by 3 × 33 cells. All-integer
    * end to end. */
  def phashHist(s: SparkSession, dir: String): DataFrame = {
    val ph = s.read.parquet(PhashIndex.ensure(s, dir))
      .select(col("doc_id"), col("phash"))
    val roles = ph.select(explode(array(PhashHistStrides.flatMap { d =>
        Seq(struct((col("doc_id") + d).as("k"), lit(d).as("stride"),
              lit(0).as("role"), col("phash").as("p")),
          struct(col("doc_id").as("k"), lit(d).as("stride"),
              lit(1).as("role"), col("phash").as("p")))
      }: _*)).as("r"))
      .select(col("r.k"), col("r.stride"), col("r.role"), col("r.p"))
    roles.groupBy("k", "stride")
      .agg(max(when(col("role") === 0, col("p"))).as("pa"),
        max(when(col("role") === 1, col("p"))).as("pb"))
      .filter(col("pa").isNotNull && col("pb").isNotNull)
      .select(col("stride").cast("long").as("stride"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long").as("ham"))
      .groupBy("stride", "ham")
      .agg(count(lit(1)).as("cnt"))
  }
}

/**
 * Offline payload-fingerprint store for [[Multimodal.phashPairs]],
 * staged to parquet once per corpus fingerprint: `ph/` holds
 * (doc_id, phash) — the byte-window SimHash of every payload. The
 * hashing is O(corpus bytes) (hex-expand + md5 per 4-byte-stride
 * window), which is exactly the work that must never repeat per query
 * at 100 TB: an artifact that only changes when the corpus does.
 * Staleness safety and build atomicity come from [[Staging]] (same
 * documents.parquet fingerprint as DedupIndex).
 */
/** Staged CDC span table (doc_id, p, q, len, chunk_md5) — content-
  * defined chunk boundaries and hashes for every corpus blob, built
  * once per corpus fingerprint. Chunking is ingest-time work in a real
  * media store; #216 queries this artifact. */
object CdcIndex {
  /** Ensure the span table exists for `dir`; returns the spans/ path. */
  def ensure(s: SparkSession, dir: String): String = {
    val base = Staging.ensure("cdc", Staging.fingerprint(dir, "documents.parquet")) { tmp =>
      Multimodal.cdcBuild(s, dir).write.parquet(tmp.resolve("spans").toString)
    }
    base.resolve("spans").toString
  }
}

object PhashIndex {
  /** Ensure the fingerprint table exists for `dir`; builds at most
    * once per source fingerprint. Returns the ph/ path. */
  def ensure(s: SparkSession, dir: String): String = {
    val base = Staging.ensure("phash", Staging.fingerprint(dir, "documents.parquet")) { tmp =>
      Multimodal.phashes(s, dir).write.parquet(tmp.resolve("ph").toString)
    }
    base.resolve("ph").toString
  }
}

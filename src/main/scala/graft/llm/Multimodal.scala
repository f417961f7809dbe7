package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One attached media blob per document. In production this column holds
  * real image/audio bytes (parquet BINARY); the harness synthesizes a
  * deterministic 16-byte stand-in from the text's md5 so the oracle can
  * recompute every derived value.
  */
case class RawMedia(doc_id: Long, media: Array[Byte])

/** Typed output of the decode stage. */
case class DecodedMedia(doc_id: Long, width: Int, height: Int, channels: Int,
    byte_len: Int)

/** Multimodal-column plumbing (builder brief): treat image/audio/video as
  * opaque `binary` columns with typed metadata; decode / feature-extract
  * runs as a typed `mapPartitions` over the binary column — the Spark-side
  * shape (schema, encoders, partition-wise batching) is real; only the
  * codec body is a STUB.
  *
  * Scale notes: decode is embarrassingly parallel and map-side only; the
  * binary column stays columnar (parquet BINARY with page compression) and
  * is pruned away by any query that doesn't touch it. A real deployment
  * swaps [[Multimodal.decodeStub]] for a JNI/FFM image codec — partition
  * iteration amortizes codec init across rows, which is why this is
  * mapPartitions and not a per-row UDF.
  */
object Multimodal {

  /** Attach the synthetic media blob (16 md5 bytes) to each document. */
  def attachMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("unhex(md5(text))").as("media"))

  /** STUB image decoder — a deterministic function of the leading bytes,
    * kept so the DuckDB oracle (which cannot run a codec) can replay the
    * pipeline bit-for-bit. Real deployments pass [[decodePng]] (or any
    * other codec) through the same seam.
    */
  def decodeStub(b: Array[Byte]): DecodedMedia0 =
    DecodedMedia0((b(0) & 0xFF) + 1, (b(1) & 0xFF) + 1, ((b(2) & 0xFF) % 4) + 1, b.length)

  /** REAL image decoder over the JDK-shipped `javax.imageio` (PNG/JPEG/
    * GIF/BMP — no extra dependency): parses the actual container and
    * reports true raster dimensions + color components. Runs inside the
    * same partition-wise seam as the stub; MultimodalSpec drives genuine
    * PNG bytes through it end-to-end.
    */
  def decodePng(b: Array[Byte]): DecodedMedia0 = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    require(img != null, s"undecodable image container (${b.length} bytes)")
    DecodedMedia0(img.getWidth, img.getHeight, img.getColorModel.getNumComponents, b.length)
  }

  case class DecodedMedia0(width: Int, height: Int, channels: Int, byteLen: Int)

  /** The decode stage: typed, partition-wise, codec-pluggable. The codec
    * default is the oracle-replayable [[decodeStub]]; the registered
    * entry uses it, tests drive [[decodePng]] through the identical path.
    */
  def decodeMeta(media: Dataset[RawMedia],
      codec: Array[Byte] => DecodedMedia0 = decodeStub): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init, amortized across the partition's rows
      // (ImageIO's disk-backed stream cache is pure overhead at blob size)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val d = codec(m.media)
        DecodedMedia(m.doc_id, d.width, d.height, d.channels, d.byteLen)
      }
    }
  }

  /** Byte k (1-indexed) of the blob, recovered from its md5 hex — shared
    * instr/substr arithmetic, valid verbatim in both engines. `pos` may be
    * any integer SQL expression.
    */
  private def hexByteAt(pos: String): String =
    s"((instr('0123456789abcdef', substr(h, 2 * ($pos) - 1, 1)) - 1) * 16" +
      s" + instr('0123456789abcdef', substr(h, 2 * ($pos), 1)) - 1)"

  /** DuckDB twin of the decode stage. */
  val decodeMetaSql: String =
    s"""SELECT doc_id,
       |  CAST(${hexByteAt("1")} + 1 AS INT) AS width,
       |  CAST(${hexByteAt("2")} + 1 AS INT) AS height,
       |  CAST(${hexByteAt("3")} % 4 + 1 AS INT) AS channels,
       |  CAST(16 AS INT) AS byte_len
       |FROM (SELECT doc_id, md5(text) AS h FROM documents) m""".stripMargin

  /** Typed output of the audio-metadata stage. */
  case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
      frames: Long)

  case class AudioMeta0(sampleRate: Int, channels: Int, frames: Long)

  /** STUB audio "decoder" — deterministic function of the blob bytes so
    * the DuckDB oracle replays it; same role as [[decodeStub]].
    */
  def audioStub(b: Array[Byte]): AudioMeta0 =
    AudioMeta0(8000 + (b(3) & 0xFF) * 100, (b(4) & 1) + 1,
      ((b(5) & 0xFF) << 8 | (b(6) & 0xFF)).toLong)

  /** REAL audio decoder over the JDK-shipped `javax.sound.sampled`
    * (WAV/AIFF/AU container parsing, no extra dependency): true sample
    * rate, channel count and frame length from the actual header.
    * MultimodalSpec drives genuine WAV bytes through the same
    * partition-wise seam.
    */
  def decodeWav(b: Array[Byte]): AudioMeta0 = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val f = in.getFormat
      AudioMeta0(f.getSampleRate.toInt, f.getChannels, in.getFrameLength)
    } finally in.close()
  }

  /** Audio-metadata stage: typed, partition-wise, codec-pluggable —
    * identical contract to [[decodeMeta]].
    */
  def decodeAudioMeta(media: Dataset[RawMedia],
      codec: Array[Byte] => AudioMeta0 = audioStub): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init amortized across rows
      it.map { m =>
        val a = codec(m.media)
        AudioMeta(m.doc_id, a.sampleRate, a.channels, a.frames)
      }
    }
  }

  /** DuckDB twin of the stub audio-metadata stage. */
  val audioMetaSql: String =
    s"""SELECT doc_id,
       |  CAST(8000 + ${hexByteAt("4")} * 100 AS INT) AS sample_rate,
       |  CAST(${hexByteAt("5")} % 2 + 1 AS INT) AS channels,
       |  CAST(${hexByteAt("6")} * 256 + ${hexByteAt("7")} AS BIGINT) AS frames
       |FROM (SELECT doc_id, md5(text) AS h FROM documents) m""".stripMargin

  /** Typed output of the resize stage. */
  case class ResizedMedia(doc_id: Long, out_w: Int, out_h: Int, out_len: Long)

  case class Resized0(outW: Int, outH: Int, outLen: Long)

  /** Box size the resize stage fits images into (longest side). */
  val ResizeBox = 32

  /** STUB resize: source dims from the same header arithmetic as
    * [[decodeStub]], scaled to fit [[ResizeBox]] preserving aspect
    * (integer math, floor, ≥1), output length = w·h·channels raw bytes.
    * Oracle-replayable.
    */
  def resizeStub(b: Array[Byte]): Resized0 = {
    val (w, h, c) = ((b(0) & 0xFF) + 1, (b(1) & 0xFF) + 1, ((b(2) & 0xFF) % 4) + 1)
    val m = math.max(w, h)
    val (ow, oh) = (math.max(1, w * ResizeBox / m), math.max(1, h * ResizeBox / m))
    Resized0(ow, oh, ow.toLong * oh * c)
  }

  /** REAL resize: decode any ImageIO container, scale to fit
    * [[ResizeBox]] with Java2D bilinear interpolation, re-encode as PNG;
    * output length = the real re-encoded byte count. Same seam as the
    * stub — MultimodalSpec round-trips genuine PNGs and re-decodes the
    * output to check the scaled raster.
    */
  def resizeImage(b: Array[Byte]): Resized0 = {
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    require(src != null, s"undecodable image container (${b.length} bytes)")
    val m = math.max(src.getWidth, src.getHeight)
    val ow = math.max(1, src.getWidth * ResizeBox / m)
    val oh = math.max(1, src.getHeight * ResizeBox / m)
    val dst = new java.awt.image.BufferedImage(ow, oh,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, ow, oh, null)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", bos)
    Resized0(ow, oh, bos.size().toLong)
  }

  /** Resize stage: typed, partition-wise, codec-pluggable — identical
    * contract to [[decodeMeta]].
    */
  def resize(media: Dataset[RawMedia],
      codec: Array[Byte] => Resized0 = resizeStub): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init amortized across rows
      it.map { m =>
        val r = codec(m.media)
        ResizedMedia(m.doc_id, r.outW, r.outH, r.outLen)
      }
    }
  }

  /** DuckDB twin of the stub resize stage (`//` = floor division — both
    * operands are positive).
    */
  val resizeSql: String = {
    val (w, h, c) = (s"(${hexByteAt("1")} + 1)", s"(${hexByteAt("2")} + 1)",
      s"(${hexByteAt("3")} % 4 + 1)")
    val m = s"greatest($w, $h)"
    val ow = s"greatest(1, $w * $ResizeBox // $m)"
    val oh = s"greatest(1, $h * $ResizeBox // $m)"
    s"""SELECT doc_id,
       |  CAST($ow AS INT) AS out_w,
       |  CAST($oh AS INT) AS out_h,
       |  CAST($ow * $oh * $c AS BIGINT) AS out_len
       |FROM (SELECT doc_id, md5(text) AS h FROM documents) m""".stripMargin
  }

  /** One sampled video frame: `offset_ms` into the container, `frame_sig`
    * the (stub) decoded frame feature.
    */
  case class FrameSample(doc_id: Long, frame_idx: Int, offset_ms: Int, frame_sig: Int)

  val FramesPerDoc = 4

  /** One demuxed frame pre-indexing: millisecond offset + decoded
    * feature.
    */
  case class Frame0(offsetMs: Int, sig: Int)

  /** STUB demuxer: the blob's header declares a duration (first two
    * bytes, big-endian ms); [[FramesPerDoc]] evenly-spaced frames are
    * "decoded" at their byte offsets. Oracle-replayable, like
    * [[decodeStub]]/[[audioStub]].
    */
  def demuxStub(b: Array[Byte]): Iterator[Frame0] = {
    val duration = ((b(0) & 0xFF) << 8) | (b(1) & 0xFF)
    (0 until FramesPerDoc).iterator.map { i =>
      val off = i * duration / FramesPerDoc
      Frame0(off, b(off % 16) & 0xFF)
    }
  }

  /** REAL demuxer over JDK ImageIO's GIF plugin: every frame of an
    * ANIMATED GIF, offsets accumulated from each frame's
    * GraphicControlExtension delay (centiseconds → ms), feature = low
    * byte of the frame's first pixel. MultimodalSpec drives genuine
    * multi-frame GIFs through the same partition-wise seam.
    */
  def demuxGif(b: Array[Byte]): Iterator[Frame0] = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      var offset = 0
      (0 until n).map { i =>
        val delayMs = gifDelayMs(reader.getImageMetadata(i)) // this frame shows for delayMs
        val sig = reader.read(i).getRGB(0, 0) & 0xFF
        val f = Frame0(offset, sig)
        offset += delayMs
        f
      }.iterator
    } finally { reader.dispose(); iis.close() }
  }

  private def gifDelayMs(meta: javax.imageio.metadata.IIOMetadata): Int = {
    val root = meta.getAsTree("javax_imageio_gif_image_1.0")
    val kids = root.getChildNodes
    (0 until kids.getLength).collectFirst {
      case i if kids.item(i).getNodeName == "GraphicControlExtension" =>
        kids.item(i).getAttributes.getNamedItem("delayTime")
          .getNodeValue.toInt * 10
    }.getOrElse(0)
  }

  /** Frame-sampling stage: 1→N explode of a binary container into typed
    * per-frame rows. Same contract as [[decodeMeta]]: per-partition
    * iteration, demuxer-pluggable — the registered entry keeps the
    * oracle-replayable [[demuxStub]]; tests run [[demuxGif]] (a real
    * container parser) through the identical path.
    */
  def sampleFrames(media: Dataset[RawMedia],
      demux: Array[Byte] => Iterator[Frame0] = demuxStub): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition demuxer init amortized across rows
      it.flatMap { m =>
        demux(m.media).zipWithIndex.map { case (f, i) =>
          FrameSample(m.doc_id, i, f.offsetMs, f.sig)
        }
      }
    }
  }

  /** DuckDB twin of [[sampleFrames]]. */
  val sampleFramesSql: String =
    s"""SELECT doc_id, CAST(i AS INT) AS frame_idx,
       |  CAST((i * duration) // $FramesPerDoc AS INT) AS offset_ms,
       |  CAST(${hexByteAt(s"((i * duration) // $FramesPerDoc) % 16 + 1")} AS INT) AS frame_sig
       |FROM (SELECT doc_id, h, ${hexByteAt("1")} * 256 + ${hexByteAt("2")} AS duration
       |      FROM (SELECT doc_id, md5(text) AS h FROM documents) m) d,
       |     range(0, $FramesPerDoc) t(i)""".stripMargin

  // ---- REAL-codec ORACLED entries (round 8, r7 verdict item 7) ----
  //
  // The stub entries above keep the codec body oracle-replayable; the
  // real decoders (decodePng/decodeWav) were until now exercised only by
  // MultimodalSpec. These two stages close the gap: the media bytes are
  // REAL containers (a PNG raster / a PCM WAV), rendered in-engine from
  // the document's md5 seed with JDK encoders, then decoded back through
  // the REAL parser — and because the render parameters are pure md5
  // arithmetic, the DuckDB oracle predicts every decoded value without
  // running a codec. A decoder that mis-parsed dimensions, color
  // components, sample rate, frame count — or a raster that didn't
  // round-trip losslessly — hash-mismatches.

  /** Decoded REAL image: true raster dims + components + the sum of all
    * samples across bands (verifies PIXELS round-tripped, not just the
    * header).
    */
  case class ImageMetaReal(doc_id: Long, width: Int, height: Int,
      channels: Int, pixel_sum: Long)

  /** Deterministic PNG render from a 16-byte seed: w,h ∈ [1,16] from
    * bytes 0-1, solid RGB fill from bytes 2-4. Solid fill keeps the
    * decoded raster sum SQL-predictable (w·h·(r+g+b)) while the bytes on
    * the wire are a genuine compressed PNG container.
    */
  def renderPng(seed: Array[Byte]): Array[Byte] = {
    val w = (seed(0) & 0xFF) % 16 + 1
    val h = (seed(1) & 0xFF) % 16 + 1
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(seed(2) & 0xFF, seed(3) & 0xFF, seed(4) & 0xFF))
    g.fillRect(0, 0, w, h)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL decode + raster checksum: parse the container with ImageIO and
    * sum every sample of every band.
    */
  def decodeImageSum(b: Array[Byte]): (Int, Int, Int, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    require(img != null, s"undecodable image container (${b.length} bytes)")
    val raster = img.getRaster
    var sum = 0L
    var band = 0
    while (band < raster.getNumBands) {
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { sum += raster.getSample(x, y, band); x += 1 }
        y += 1
      }
      band += 1
    }
    (img.getWidth, img.getHeight, img.getColorModel.getNumComponents, sum)
  }

  /** The rendered REAL-container tables, SPLIT from their decode stages
    * (round 16, guide §1.2): the render is FIXTURE SYNTHESIS — a
    * production deployment's parquet holds real container bytes, and the
    * md5-seeded encoder exists only so the oracle can predict the decoded
    * values — so re-rendering per rep modeled re-ingesting the corpus on
    * every read, exactly the argument for memoizing [[graft.fixtures
    * .Fixtures.trades]]. Callers memoize the rendered table like any
    * other post-ingest table; the DECODE stages below stay per-rep: the
    * codec parse IS the operator under test.
    */
  def renderPngTable(seeds: Dataset[RawMedia]): Dataset[RawMedia] = {
    import seeds.sparkSession.implicits._
    seeds.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map(m => RawMedia(m.doc_id, renderPng(m.media)))
    }
  }

  /** REAL decode + raster checksum over stored container bytes — the
    * operator half of the former render→decode fusion.
    */
  def decodeImageSumStage(media: Dataset[RawMedia]): Dataset[ImageMetaReal] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val (w, h, c, s) = decodeImageSum(m.media)
        ImageMetaReal(m.doc_id, w, h, c, s)
      }
    }
  }

  /** Render→decode stage over the seed stream: same partition-wise seam
    * as [[decodeMeta]], but the codec is the REAL `javax.imageio` path.
    * (Composition of the split stages — the spec-driven seam.)
    */
  def imageMetaReal(seeds: Dataset[RawMedia]): Dataset[ImageMetaReal] =
    decodeImageSumStage(renderPngTable(seeds))

  /** DuckDB twin: predicts the REAL decoder's output from the md5 seed
    * arithmetic alone (PNG is lossless, the fill is solid).
    */
  val imageMetaRealSql: String = {
    val (w, h) = (s"(${hexByteAt("1")} % 16 + 1)", s"(${hexByteAt("2")} % 16 + 1)")
    val rgb = s"(${hexByteAt("3")} + ${hexByteAt("4")} + ${hexByteAt("5")})"
    s"""SELECT doc_id,
       |  CAST($w AS INT) AS width,
       |  CAST($h AS INT) AS height,
       |  CAST(3 AS INT) AS channels,
       |  CAST($w * $h * $rgb AS BIGINT) AS pixel_sum
       |FROM (SELECT doc_id, md5(text) AS h FROM documents) m""".stripMargin
  }

  /** Decoded REAL audio header: true format fields from the WAV parser. */
  case class AudioMetaReal(doc_id: Long, sample_rate: Int, channels: Int,
      frames: Long)

  /** Deterministic WAV render from the seed: sample rate 8000 +
    * byte5·100 Hz, 1-2 channels from byte6, frame count byte7·32 +
    * byte8%32 + 1 of 16-bit PCM silence — a genuine RIFF/WAVE container
    * whose header the real parser must get exactly right.
    */
  def renderWav(seed: Array[Byte]): Array[Byte] = {
    val rate = 8000 + (seed(5) & 0xFF) * 100
    val channels = (seed(6) & 1) + 1
    val frames = (seed(7) & 0xFF) * 32 + (seed(8) & 0xFF) % 32 + 1
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, channels, 2 * channels, rate.toFloat, false)
    val data = new Array[Byte](frames * 2 * channels)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** WAV twin of [[renderPngTable]]: the rendered RIFF/WAVE container
    * table (fixture synthesis — memoizable post-ingest bytes).
    */
  def renderWavTable(seeds: Dataset[RawMedia]): Dataset[RawMedia] = {
    import seeds.sparkSession.implicits._
    seeds.mapPartitions(_.map(m => RawMedia(m.doc_id, renderWav(m.media))))
  }

  /** REAL WAV header parse over stored container bytes — the operator
    * half of the former render→decode fusion.
    */
  def decodeWavMetaStage(media: Dataset[RawMedia]): Dataset[AudioMetaReal] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val a = decodeWav(m.media)
      AudioMetaReal(m.doc_id, a.sampleRate, a.channels, a.frames)
    })
  }

  /** Render→decode stage through the REAL `javax.sound.sampled` parser
    * ([[decodeWav]]) — partition-wise like everything else in this file.
    * (Composition of the split stages — the spec-driven seam.)
    */
  def audioMetaReal(seeds: Dataset[RawMedia]): Dataset[AudioMetaReal] =
    decodeWavMetaStage(renderWavTable(seeds))

  /** DuckDB twin of [[audioMetaReal]]. */
  val audioMetaRealSql: String =
    s"""SELECT doc_id,
       |  CAST(8000 + ${hexByteAt("6")} * 100 AS INT) AS sample_rate,
       |  CAST((${hexByteAt("7")} % 2) + 1 AS INT) AS channels,
       |  CAST(${hexByteAt("8")} * 32 + ${hexByteAt("9")} % 32 + 1 AS BIGINT) AS frames
       |FROM (SELECT doc_id, md5(text) AS h FROM documents) m""".stripMargin
}

package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fingerprint
import graft.synth.Synth

/** Multimodal columns: opaque binary media payloads + typed metadata,
  * decoded in partition-sized batches.
  *
  * The decode is REAL as of round 3 — the JDK ships PNG/JPEG codecs
  * (`javax.imageio`, java.desktop module; no external libs needed), so the
  * pipeline synthesizes deterministic PNGs (pixels from the mix64 formula —
  * the ground truth), and decode / resize / frame-sample run an actual
  * ImageIO decode whose outputs are checked against that ground truth:
  *  - `mm_decode`'s width/height/channels must equal the synthesis
  *    parameters (closed-form oracle on doc_id);
  *  - `mm_resize`'s thumbnail checksum must equal the value computed from
  *    the pixel formula (PNG is lossless, nearest-neighbor sampling is
  *    exact integer math — the oracle recomputes the checksum from mix64 in
  *    SQL);
  *  - `mm_frames` parses a length-prefixed multi-frame container and
  *    decodes every frame's dimensions.
  * A wrong decoder fails the oracle, not just a plumbing test.
  *
  * Batching shape: mapPartitions with per-partition decoder reuse — the
  * same shape a Pandas-UDF/Arrow batch decoder has on a Python stack.
  */
object Multimodal {

  final case class MediaPayload(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, width: Long, height: Long, channels: Long)

  /** Ground-truth synthesis parameters (the closed forms the oracles use). */
  def imgW(docId: Long, frame: Long = 0L): Int = ((docId + frame) % 24 + 8).toInt
  def imgH(docId: Long, frame: Long = 0L): Int = ((docId + frame) % 16 + 8).toInt
  def nFrames(docId: Long): Int = (docId % 5 + 1).toInt

  /** Deterministic RGB pixel: mix64 over (doc, frame, y, x), low 24 bits. */
  def pixel(docId: Long, frame: Long, x: Int, y: Int): Int =
    (Fingerprint.mix64(docId * 1000003L + frame * 16777259L + y * 4096L + x) & 0xffffff).toInt

  /** Per-partition PNG codec. `ImageIO.read`/`write` on raw byte streams
    * re-discover a codec per call AND default to a DISK-backed stream cache
    * (a temp file per image) — per-image overhead that dwarfs the decode of
    * a ≤32×24 tile. One reader/writer per partition with memory-cached
    * streams is the same per-partition-init discipline as a batched Arrow
    * decoder. NOT thread-safe — one instance per partition iterator. */
  private final class PngCodec {
    private val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    private val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    def decode(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis, true, true)
      val img = reader.read(0)
      iis.close()
      img
    }
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(img)
      ios.close()
      bos.toByteArray
    }
  }

  private def renderPng(docId: Long, frame: Long, codec: PngCodec): Array[Byte] = {
    val w = imgW(docId, frame); val h = imgH(docId, frame)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // bulk store into the INT_RGB backing buffer (setRGB pays a per-pixel
    // color-model conversion; the 24-bit pixel formula IS the packed layout)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { buf(y * w + x) = pixel(docId, frame, x, y); x += 1 }
      y += 1
    }
    codec.encode(img)
  }

  /** (doc_id, media) — one REAL PNG per doc (media is genuinely opaque
    * bytes; nothing downstream sees the synthesis parameters except through
    * a decode). */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val codec = new PngCodec
        it.map(id => MediaPayload(id, renderPng(id, 0L, codec)))
      }
  }

  /** Length-prefixed multi-frame container (4-byte big-endian length per
    * frame, frames are PNGs) — the deterministic "video" payload. */
  def syntheticVideo(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      val codec = new PngCodec
      it.map { id =>
        val bos = new java.io.ByteArrayOutputStream()
        val out = new java.io.DataOutputStream(bos)
        (0 until nFrames(id)).foreach { f =>
          val png = renderPng(id, f, codec)
          out.writeInt(png.length)
          out.write(png)
        }
        MediaPayload(id, bos.toByteArray)
      }
    }
  }

  /** REAL decode: ImageIO parses the PNG; output must match the synthesis
    * ground truth (oracle) — byte length is encoder-dependent and
    * deliberately NOT part of the contract. */
  def decodeMeta(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, docs).mapPartitions { it =>
      val codec = new PngCodec
      it.map { p =>
        val img = codec.decode(p.payload)
        MediaMeta(p.doc_id, img.getWidth.toLong, img.getHeight.toLong,
          img.getColorModel.getNumComponents.toLong)
      }
    }.toDF()
  }

  def decodeMetaSql: String =
    s"""SELECT doc_id,
       |       CAST(doc_id % 24 + 8 AS BIGINT) AS width,
       |       CAST(doc_id % 16 + 8 AS BIGINT) AS height,
       |       CAST(3 AS BIGINT) AS channels
       |FROM documents""".stripMargin

  final case class Thumb(doc_id: Long, w: Long, h: Long, checksum: Long)

  /** REAL resize: decode, nearest-neighbor 8×8 RGB downsample (exact
    * integer source indices sx = x·W/8), weighted checksum over the 192
    * thumbnail bytes: Σ (i+1)·b_i. PNG is lossless, so the checksum has a
    * closed form over the pixel formula — recomputed by the oracle in SQL
    * via the same mix64 arithmetic. */
  def resize(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, docs).mapPartitions { it =>
      val codec = new PngCodec
      it.map { p =>
        val img = codec.decode(p.payload)
        val w = img.getWidth; val h = img.getHeight
        var sum = 0L
        var i = 0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val rgb = img.getRGB(x * w / 8, y * h / 8)
            sum += (i + 1).toLong * ((rgb >> 16) & 0xff); i += 1
            sum += (i + 1).toLong * ((rgb >> 8) & 0xff); i += 1
            sum += (i + 1).toLong * (rgb & 0xff); i += 1
            x += 1
          }
          y += 1
        }
        Thumb(p.doc_id, 8L, 8L, sum)
      }
    }.toDF()
  }

  /** SQL mirror of [[resize]]: the 64 sampled pixels' mix64 values, split
    * into RGB bytes, position-weighted — pure integer arithmetic. */
  def resizeSql: String = {
    import graft.queries.SqlHash._
    s"""WITH pos AS (
       |  SELECT d.doc_id,
       |         CAST(d.doc_id % 24 + 8 AS BIGINT) AS w,
       |         CAST(d.doc_id % 16 + 8 AS BIGINT) AS h,
       |         g.g AS pi
       |  FROM documents d, (SELECT unnest(generate_series(0, 63)) AS g) g),
       |seed AS (
       |  SELECT doc_id, pi,
       |         CAST(doc_id * 1000003 + ((pi // 8) * h // 8) * 4096
       |              + ((pi % 8) * w // 8) AS HUGEINT) % $M64 AS z
       |  FROM pos),
       |${mix64Ctes("seed", "doc_id, pi", "pm")},
       |px AS (SELECT doc_id, pi, CAST(z % 16777216 AS BIGINT) AS rgb FROM pm),
       |parts AS (
       |  SELECT doc_id,
       |         (pi * 3 + 1) * (rgb // 65536) +
       |         (pi * 3 + 2) * ((rgb // 256) % 256) +
       |         (pi * 3 + 3) * (rgb % 256) AS contrib
       |  FROM px)
       |SELECT doc_id, CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
       |       CAST(sum(contrib) AS BIGINT) AS checksum
       |FROM parts GROUP BY doc_id""".stripMargin
  }

  final case class Frame(doc_id: Long, frame_idx: Long, frame_ts_ms: Long,
                         fwidth: Long, fheight: Long)

  /** REAL frame sampling: parse the length-prefixed container, decode each
    * frame (per-partition ImageIO reuse), emit (idx, ts, dimensions). */
  def frameSample(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticVideo(spark, docs).mapPartitions { it =>
      val codec = new PngCodec
      it.flatMap { p =>
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(p.payload))
        val out = scala.collection.mutable.ArrayBuffer.empty[Frame]
        var idx = 0L
        while (in.available() >= 4) {
          val len = in.readInt()
          val buf = new Array[Byte](len)
          in.readFully(buf)
          val img = codec.decode(buf)
          out += Frame(p.doc_id, idx, idx * 40L, img.getWidth.toLong, img.getHeight.toLong)
          idx += 1
        }
        out.iterator
      }
    }.toDF()
  }

  def frameSampleSql: String =
    s"""SELECT d.doc_id, g.i AS frame_idx, g.i * 40 AS frame_ts_ms,
       |       CAST((d.doc_id + g.i) % 24 + 8 AS BIGINT) AS fwidth,
       |       CAST((d.doc_id + g.i) % 16 + 8 AS BIGINT) AS fheight
       |FROM documents d,
       |LATERAL (SELECT unnest(generate_series(0, CAST(d.doc_id % 5 AS BIGINT))) AS i) g""".stripMargin

  // -----------------------------------------------------------------
  // JPEG (lossy) + animated GIF — the other two codecs the JDK ships.
  // JPEG is lossy, so the contract is dims/format (closed-form oracle),
  // NOT a pixel checksum; the GIF container is a REAL multi-frame format
  // (logical screen fixed per doc — GIF sub-images must fit the screen),
  // replacing the round-2 asterisk that the only "video" container was
  // bespoke length-prefixed PNGs.
  // -----------------------------------------------------------------

  private final class JpegCodec {
    private val reader = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    private val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    def decode(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis, true, true)
      val img = reader.read(0)
      iis.close()
      img
    }
    def formatName: String = reader.getFormatName
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(img)
      ios.close()
      bos.toByteArray
    }
  }

  /** (doc_id, media) — one REAL JPEG per doc (same pixel formula; the
    * encoder's DCT loss is irrelevant to the dims/format contract). */
  def syntheticJpeg(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      val codec = new JpegCodec
      it.map { id =>
        val w = imgW(id); val h = imgH(id)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val buf = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { buf(y * w + x) = pixel(id, 0L, x, y); x += 1 }
          y += 1
        }
        MediaPayload(id, codec.encode(img))
      }
    }
  }

  final case class JpegMeta(doc_id: Long, width: Long, height: Long,
                            channels: Long, fmt: String)

  /** REAL JPEG decode: ImageIO parses the JFIF stream; dims/channels/format
    * must match the synthesis ground truth (dims closed form; checksum is
    * deliberately NOT asserted — JPEG is lossy and encoder-dependent). */
  def decodeJpeg(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticJpeg(spark, docs).mapPartitions { it =>
      val codec = new JpegCodec
      it.map { p =>
        val img = codec.decode(p.payload)
        JpegMeta(p.doc_id, img.getWidth.toLong, img.getHeight.toLong,
          img.getColorModel.getNumComponents.toLong,
          codec.formatName.toLowerCase(java.util.Locale.ROOT))
      }
    }.toDF()
  }

  def decodeJpegSql: String =
    s"""SELECT doc_id,
       |       CAST(doc_id % 24 + 8 AS BIGINT) AS width,
       |       CAST(doc_id % 16 + 8 AS BIGINT) AS height,
       |       CAST(3 AS BIGINT) AS channels,
       |       'jpeg' AS fmt
       |FROM documents""".stripMargin

  /** Animated-GIF payload: a REAL multi-frame container (JDK GIF writer,
    * writeToSequence). Frames are grayscale renders of the pixel formula's
    * low byte; every frame uses frame-0's dimensions (the GIF logical
    * screen bounds all sub-images). */
  def syntheticGif(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val w = imgW(id); val h = imgH(id)
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        (0 until nFrames(id)).foreach { f =>
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val buf = img.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferByte].getData
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { buf(y * w + x) = (pixel(id, f.toLong, x, y) & 0xff).toByte; x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        }
        writer.endWriteSequence()
        ios.close()
        writer.dispose()
        MediaPayload(id, bos.toByteArray)
      }
    }
  }

  /** REAL animated-GIF frame sampling: the JDK GIF reader walks the
    * container's image sequence; frame count and per-frame dims must match
    * the synthesis ground truth. */
  def frameSampleGif(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticGif(spark, docs).mapPartitions { it =>
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      it.flatMap { p =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(p.payload))
        reader.setInput(iis, false, true)
        val n = reader.getNumImages(true)
        val out = (0 until n).map { f =>
          Frame(p.doc_id, f.toLong, f * 40L,
            reader.getWidth(f).toLong, reader.getHeight(f).toLong)
        }
        iis.close()
        out
      }
    }.toDF()
  }

  def frameSampleGifSql: String =
    s"""SELECT d.doc_id, g.i AS frame_idx, g.i * 40 AS frame_ts_ms,
       |       CAST(d.doc_id % 24 + 8 AS BIGINT) AS fwidth,
       |       CAST(d.doc_id % 16 + 8 AS BIGINT) AS fheight
       |FROM documents d,
       |LATERAL (SELECT unnest(generate_series(0, CAST(d.doc_id % 5 AS BIGINT))) AS i) g""".stripMargin

  // -----------------------------------------------------------------
  // Audio: REAL WAV decode via the JDK's javax.sound.sampled — the
  // synthesized payload is a genuine RIFF/WAVE container (16-bit signed PCM
  // LE, mono, 8 kHz) whose samples come from the mix64 formula; decode
  // parses it with AudioSystem and must recover format + samples exactly
  // (position-weighted checksum, closed-form oracle).
  // -----------------------------------------------------------------

  // =================================================================
  // Raster tile rendering (the map-tile export path): each z4 supertile's
  // 16×16 grid of z8 event counts renders to a REAL grayscale PNG
  // (clamped to 255) and is immediately decoded back; the emitted stats
  // come from the DECODED pixels, so the oracle — which computes the
  // same sums directly from the counts — fails on any lossy or
  // channel-mangling encode/decode, not just on plumbing. Per-partition
  // codec reuse as everywhere in this file; one map-combined cell
  // groupBy + one tile groupBy are the only exchanges.
  // =================================================================

  final case class TileCell(ix: Long, iy: Long, cnt: Long)
  final case class TileGrid(tile4: Long, cells: Seq[TileCell])
  final case class TileStats(tile4: Long, w: Long, h: Long, pix_sum: Long, n_lit: Long)

  /** `events` must carry (elon, elat) — Synth.eventPoints shape. */
  def tileRender(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.functions.F
    val counts = events
      .select(F.cellAt(lit(8), col("elon"), col("elat")).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
      .withColumn("tile4", F.parentCell(col("cell"), lit(4)))
      .withColumn("ix", Synth.cellX(col("cell")) % 16)
      .withColumn("iy", Synth.cellY(col("cell")) % 16)
    counts
      .select(col("tile4"), struct(col("ix"), col("iy"), col("cnt")).as("c"))
      .groupBy("tile4").agg(collect_list(col("c")).as("cells"))
      .as[TileGrid]
      .mapPartitions { it =>
        val codec = new PngCodec
        it.map { g =>
          val img = new java.awt.image.BufferedImage(
            16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          g.cells.foreach { c =>
            img.getRaster.setSample(c.ix.toInt, c.iy.toInt, 0, math.min(c.cnt, 255L).toInt)
          }
          val back = codec.decode(codec.encode(img))
          var sum = 0L; var nLit = 0L; var x = 0
          while (x < 16) {
            var y = 0
            while (y < 16) {
              val v = back.getRaster.getSample(x, y, 0)
              sum += v; if (v > 0) nLit += 1
              y += 1
            }
            x += 1
          }
          TileStats(g.tile4, back.getWidth.toLong, back.getHeight.toLong, sum, nLit)
        }
      }.toDF()
  }

  def tileRenderSql(eventPointsSql: String, cell8Sql: String): String =
    s"""WITH pts AS ($eventPointsSql),
       |c8 AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT $cell8Sql AS cell FROM pts)
       |  GROUP BY 1)
       |SELECT ${Synth.parentCellSql("cell", 8, "4")} AS tile4,
       |       CAST(16 AS BIGINT) AS w, CAST(16 AS BIGINT) AS h,
       |       CAST(sum(least(cnt, 255)) AS BIGINT) AS pix_sum,
       |       CAST(count(*) AS BIGINT) AS n_lit
       |FROM c8 GROUP BY 1""".stripMargin

  final case class AudioMeta(doc_id: Long, sample_rate: Long, channels: Long,
                             bits: Long, n_samples: Long, checksum: Long)

  def nSamples(docId: Long): Int = ((docId % 4 + 1) * 100).toInt

  /** Ground-truth sample i of doc's audio: floorMod(mix64, 2^16) − 2^15. */
  def audioSample(docId: Long, i: Int): Int =
    (java.lang.Math.floorMod(Fingerprint.mix64(docId * 2000003L + i), 65536L) - 32768L).toInt

  private def renderWav(docId: Long): Array[Byte] = {
    val n = nSamples(docId)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSample(docId, i)
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    // RIFF/WAVE header (PCM, mono, 8 kHz, 16-bit LE) — written by hand so
    // the DECODE side (AudioSystem) does the real parsing work
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def le32(v: Int): Unit = out.writeInt(Integer.reverseBytes(v))
    def le16(v: Int): Unit = out.writeShort(java.lang.Short.reverseBytes(v.toShort))
    out.writeBytes("RIFF"); le32(36 + data.length); out.writeBytes("WAVE")
    out.writeBytes("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(16000)
    le16(2); le16(16)
    out.writeBytes("data"); le32(data.length); out.write(data)
    bos.toByteArray
  }

  def syntheticAudio(spark: SparkSession, docs: DataFrame): Dataset[MediaPayload] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaPayload(id, renderWav(id))))
  }

  def decodeAudio(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    syntheticAudio(spark, docs).mapPartitions { it =>
      it.map { p =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p.payload))
        val fmt = ais.getFormat
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L
        var i = 0
        while (i < n) {
          // 16-bit signed little-endian
          val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
          sum += (i + 1).toLong * s
          i += 1
        }
        AudioMeta(p.doc_id, fmt.getSampleRate.toLong, fmt.getChannels.toLong,
          fmt.getSampleSizeInBits.toLong, n.toLong, sum)
      }
    }.toDF()
  }

  /** Closed-form mirror: format from the synthesis contract, checksum from
    * the mix64 sample formula (floorMod == unsigned % here). */
  def decodeAudioSql: String = {
    import graft.queries.SqlHash._
    s"""WITH pos AS (
       |  SELECT d.doc_id, g.i,
       |         CAST((d.doc_id % 4 + 1) * 100 AS BIGINT) AS n
       |  FROM documents d,
       |  LATERAL (SELECT unnest(generate_series(0,
       |    CAST((d.doc_id % 4 + 1) * 100 - 1 AS BIGINT))) AS i) g),
       |seed AS (SELECT doc_id, i, n,
       |                CAST(doc_id * 2000003 + i AS HUGEINT) % $M64 AS z FROM pos),
       |${mix64Ctes("seed", "doc_id, i, n", "am")},
       |samp AS (SELECT doc_id, i, n,
       |                CAST(z % 65536 AS BIGINT) - 32768 AS s FROM am)
       |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
       |       CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
       |       CAST(max(n) AS BIGINT) AS n_samples,
       |       CAST(sum((i + 1) * s) AS BIGINT) AS checksum
       |FROM samp GROUP BY doc_id""".stripMargin
  }

  final case class FeatureVec(doc_id: Long, f0: Long, f1: Long, f2: Long, f3: Long,
                              f4: Long, f5: Long, f6: Long, f7: Long)

  /** Feature extraction over an opaque TEXT payload: an 8-bin byte
    * histogram (bin = byte >> 5) per partition batch — real math on real
    * bytes, exactly mirrorable in SQL for ASCII payloads. */
  def featureStub(p: MediaPayload): FeatureVec = {
    val bins = new Array[Long](8)
    var i = 0
    while (i < p.payload.length) {
      bins((p.payload(i) & 0xff) >> 5) += 1
      i += 1
    }
    FeatureVec(p.doc_id, bins(0), bins(1), bins(2), bins(3),
      bins(4), bins(5), bins(6), bins(7))
  }

  def features(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaPayload]
      .mapPartitions(_.map(featureStub))
      .toDF()
  }

  def featuresSql: String = {
    val cols = (0 until 8).map(b =>
      s"CAST(len(list_filter(string_split(text, ''), c -> ascii(c) // 32 = $b)) AS BIGINT) AS f$b")
      .mkString(",\n       ")
    s"""SELECT doc_id,
       |       $cols
       |FROM documents""".stripMargin
  }
}

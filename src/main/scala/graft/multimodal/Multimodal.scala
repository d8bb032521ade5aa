package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (north star): image/audio/video as opaque
  * `binary` payloads with typed metadata, processed by batched
  * per-partition kernels.
  *
  * All three paths are REAL end to end: payloads are genuine PNG
  * (javax.imageio), WAV (javax.sound.sampled), and uncompressed
  * RIFF/AVI files (no JDK video codec exists, so writer AND parser
  * are hand-rolled from the public RIFF/BMP layout — [[Codec.avi]] /
  * [[Codec.decodeAvi]]), and the feature kernel decodes them back to
  * pixels/samples/channel bytes before summing. Because the generated
  * values are closed-form in (media_id, position), a SQL oracle can
  * recompute the decoded-feature sums without a decoder of its own,
  * so each decode round-trip itself is oracle-checked.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),     // image|audio|video
    StructField("payload", BinaryType, nullable = true),   // encoded bytes (PNG/WAV/raw)
    StructField("meta", StructType(Seq(                    // typed metadata
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("sample_rate", IntegerType), StructField("n_frames", IntegerType))))))

  /** Deterministic real-format payload codecs. Pixel/sample values
    * are closed-form in (media_id, position) so the m2 oracle can
    * recompute decoded sums in plain SQL; PNG and WAV are lossless,
    * so decode recovers them exactly. */
  object Codec {
    javax.imageio.ImageIO.setUseCache(false) // no disk-backed stream cache in executors

    def imgW(id: Long): Int = (id % 13 + 4).toInt
    def imgH(id: Long): Int = (id % 11 + 4).toInt
    def gray(id: Long, x: Int, y: Int): Int = ((id * 31 + x * 7 + y * 13) % 256).toInt

    /** 8-bit grayscale PNG, w×h from the id, pixel (x,y) = gray(). */
    def png(id: Long): Array[Byte] = {
      val w = imgW(id); val h = imgH(id)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, gray(id, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    def nSamples(id: Long): Int = (id % 50 + 20).toInt
    def sample(id: Long, i: Int): Short =
      ((id * 131 + i * 17) % 65536 - 32768).toShort

    def vidW(id: Long): Int = (id % 9 + 4).toInt
    def vidH(id: Long): Int = (id % 7 + 4).toInt
    def vidFrames(id: Long): Int = (id % 5 + 2).toInt
    /** Channel byte of frame f, pixel (x,y), channel c (0=B,1=G,2=R). */
    def vidByte(id: Long, f: Int, x: Int, y: Int, c: Int): Int =
      ((id * 31 + f * 97 + x * 7 + y * 13 + c * 29) % 256).toInt

    private def le32(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
      b.write((v >> 16) & 0xff); b.write((v >> 24) & 0xff)
    }
    private def le16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
      b.write(v & 0xff); b.write((v >> 8) & 0xff)
    }
    private def fcc(b: java.io.ByteArrayOutputStream, s: String): Unit =
      b.write(s.getBytes("US-ASCII"))

    /** Uncompressed 24-bit BGR RIFF/AVI ('DIB ' vids stream), written
      * to the real spec: RIFF/AVI → LIST hdrl (avih + LIST strl with
      * strh/strf BITMAPINFOHEADER) → LIST movi with one '00db' chunk
      * per frame. DIB frames are BOTTOM-UP with 4-byte-aligned row
      * stride — the format quirks a decoder must honor, which is what
      * makes the round-trip a real test. No JDK codec exists for
      * video; writer AND parser are hand-rolled from the public
      * RIFF/BMP layout. */
    def avi(id: Long): Array[Byte] = {
      val w = vidW(id); val h = vidH(id); val nf = vidFrames(id)
      val stride = (w * 3 + 3) & ~3
      val frameBytes = stride * h
      def frame(f: Int): Array[Byte] = {
        val a = new Array[Byte](frameBytes)
        var y = 0
        while (y < h) {
          val rowOff = (h - 1 - y) * stride // bottom-up
          var x = 0
          while (x < w) {
            var c = 0
            while (c < 3) {
              a(rowOff + x * 3 + c) = vidByte(id, f, x, y, c).toByte
              c += 1
            }
            x += 1
          }
          y += 1
        }
        a
      }
      val b = new java.io.ByteArrayOutputStream()
      // sizes: avih 56, strh 56, strf 40
      val strlSize = 4 + (8 + 56) + (8 + 40)
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
      val moviSize = 4 + nf * (8 + frameBytes)
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
      fcc(b, "RIFF"); le32(b, riffSize); fcc(b, "AVI ")
      fcc(b, "LIST"); le32(b, hdrlSize); fcc(b, "hdrl")
      fcc(b, "avih"); le32(b, 56)
      le32(b, 33333); le32(b, frameBytes * 30); le32(b, 0); le32(b, 0) // usec/frame, bytes/sec, pad, flags
      le32(b, nf); le32(b, 0); le32(b, 1); le32(b, frameBytes)         // frames, initial, streams, bufsize
      le32(b, w); le32(b, h); le32(b, 0); le32(b, 0); le32(b, 0); le32(b, 0)
      fcc(b, "LIST"); le32(b, strlSize); fcc(b, "strl")
      fcc(b, "strh"); le32(b, 56)
      fcc(b, "vids"); fcc(b, "DIB ")
      le32(b, 0); le16(b, 0); le16(b, 0); le32(b, 0)                   // flags, prio, lang, initFrames
      le32(b, 1); le32(b, 30); le32(b, 0); le32(b, nf)                 // scale, rate, start, length
      le32(b, frameBytes); le32(b, -1); le32(b, 0)                     // bufsize, quality, sampleSize
      le16(b, 0); le16(b, 0); le16(b, w); le16(b, h)                   // rcFrame
      fcc(b, "strf"); le32(b, 40)
      le32(b, 40); le32(b, w); le32(b, h); le16(b, 1); le16(b, 24)     // biSize, w, h, planes, bitcount
      le32(b, 0); le32(b, frameBytes); le32(b, 0); le32(b, 0); le32(b, 0); le32(b, 0)
      fcc(b, "LIST"); le32(b, moviSize); fcc(b, "movi")
      var f = 0
      while (f < nf) { fcc(b, "00db"); le32(b, frameBytes); b.write(frame(f)); f += 1 }
      b.toByteArray
    }

    /** Parse an uncompressed 24-bit RIFF/AVI: walks the chunk tree for
      * the strf BITMAPINFOHEADER (dimensions, bit depth), then streams
      * every movi '..db'/'..dc' frame chunk, undoing bottom-up row
      * order and stride padding. Returns (w, h, frames as canonical
      * top-down BGR byte arrays). Throws on non-RIFF/AVI or
      * compressed payloads — honest failure, not a byte-stats
      * fallback. */
    def decodeAvi(payload: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      require(fourcc() == "RIFF", "not a RIFF file")
      bb.getInt // riff size
      require(fourcc() == "AVI ", "not an AVI")
      var w = -1; var h = -1; var bpp = -1
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(end: Int): Unit = {
        while (bb.position() + 8 <= end) {
          val id = fourcc(); val size = bb.getInt
          val next = bb.position() + size + (size & 1) // RIFF even padding
          id match {
            case "LIST" =>
              fourcc() // list type (hdrl/strl/movi); walk contents
              walk(next)
            case "strf" =>
              val p0 = bb.position()
              bb.getInt // biSize
              w = bb.getInt; h = bb.getInt
              bb.getShort // planes
              bpp = bb.getShort.toInt
              val comp = bb.getInt
              require(comp == 0, s"compressed AVI (biCompression=$comp) unsupported")
              bb.position(p0)
            case _ if id.endsWith("db") || id.endsWith("dc") =>
              require(w > 0 && bpp == 24, s"frame before strf or bpp=$bpp != 24")
              val stride = (w * 3 + 3) & ~3
              val raw = new Array[Byte](size); bb.get(raw)
              val out = new Array[Byte](w * h * 3)
              var y = 0
              while (y < h) {
                val src = (h - 1 - y) * stride
                System.arraycopy(raw, src, out, y * w * 3, w * 3)
                y += 1
              }
              frames += out
            case _ => () // avih/strh/idx1/...: skip
          }
          bb.position(next)
        }
      }
      walk(payload.length)
      require(w > 0 && frames.nonEmpty, "no video stream found")
      (w, h, frames.toArray)
    }

    /** 16-bit little-endian mono PCM WAV at 16 kHz, nSamples() long. */
    def wav(id: Long): Array[Byte] = {
      val n = nSamples(id)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(id, i)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** Build a media table from documents: image-kind rows carry a real
    * PNG, audio-kind rows a real WAV, video-kind rows a real
    * uncompressed RIFF/AVI (all generated by [[Codec]] in a
    * partition-local batched kernel). Metadata is typed with the real
    * decode dimensions. */
  def fromDocuments(docs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    docs.select(col("doc_id"), col("n_chars")).mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val id = r.getLong(0)
          val kind = (id % 3) match {
            case 0 => "image"; case 1 => "audio"; case _ => "video"
          }
          val payload = kind match {
            case "image" => Codec.png(id)
            case "audio" => Codec.wav(id)
            case _ => Codec.avi(id)
          }
          val meta = kind match {
            case "image" => Row(Codec.imgW(id), Codec.imgH(id), 16000, 1)
            case "audio" => Row(0, 0, 16000, Codec.nSamples(id))
            case _ => Row(Codec.vidW(id), Codec.vidH(id), 0, Codec.vidFrames(id))
          }
          Row(id, kind, payload, meta)
        }
      }
    }(enc)
  }

  /** REAL decode + integer feature sums. Images decode via ImageIO
    * (raw raster samples — no color conversion), audio via
    * AudioSystem (16-bit LE PCM frames), video via the hand-rolled
    * RIFF/AVI parser ([[Codec.decodeAvi]] — no JDK video codec
    * exists); unit u (pixel in row-major order / sample index /
    * canonical top-down BGR channel byte) accumulates into residue
    * class u % dim as an exact long. Returns (n_units, sums) where
    * n_units is the DECODED count (pixels / samples / channel
    * bytes) — deliberately not the encoded payload length, which no
    * SQL oracle could recompute for a container format. */
  def decodeSums(kind: String, payload: Array[Byte], dim: Int): (Int, Array[Long]) = {
    val out = new Array[Long](dim)
    if (payload == null) return (0, out)
    kind match {
      case "image" =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        val r = img.getRaster
        val w = img.getWidth; val h = img.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { out((y * w + x) % dim) += r.getSample(x, y, 0).toLong; x += 1 }
          y += 1
        }
        (w * h, out)
      case "audio" =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var i = 0
        while (i < n) {
          out(i % dim) += ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
          i += 1
        }
        (n, out)
      case _ =>
        val (w, h, frames) = Codec.decodeAvi(payload)
        var u = 0
        var f = 0
        while (f < frames.length) {
          val fr = frames(f)
          var i = 0
          while (i < fr.length) { out(u % dim) += (fr(i) & 0xff).toLong; u += 1; i += 1 }
          f += 1
        }
        (u, out)
    }
  }

  /** Batched decoded-feature extraction: one partition-local pass,
    * kernel invoked per 64-row batch (mapPartitions = JVM
    * `mapInPandas`), exact long sums per residue class over DECODED
    * units (see [[decodeSums]]). */
  def extractSums(media: DataFrame, dim: Int = 8): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("kind", StringType),
      StructField("n_units", IntegerType),
      StructField("features", ArrayType(LongType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.select("media_id", "kind", "payload").mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (n, sums) = decodeSums(r.getAs[String]("kind"), payload, dim)
          Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"), n, sums.toSeq)
        }
      }
    }(enc)
  }

  /** Average-pool REAL-decoded PNG images into `pool`×`pool` blocks
    * (ragged right/bottom edges pool fewer pixels) — the image-resize
    * step of a multimodal ingest pipeline, the image analog of
    * [[pooledFrames]]. Per block: exact integer gray sum + pixel
    * count, plus the mean as ONE double division so a SQL oracle
    * recomputes it bit-for-bit from the closed-form pixel values.
    * Row-local batched kernel: decode + pool never shuffle. */
  /** Whole-image decode stats for FILE-ingested PNGs (the s10
    * binaryFile path): (media_id, w, h, sum_gray) per image, decoded
    * with the same batched partition-local kernel as [[pooledImages]].
    * Input needs (media_id, payload) columns. */
  def imageStats(files: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("w", IntegerType),
      StructField("h", IntegerType),
      StructField("sum_gray", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    files.select("media_id", "payload").mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val ras = img.getRaster
          val w = img.getWidth; val h = img.getHeight
          var s = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { s += ras.getSample(x, y, 0).toLong; x += 1 }
            y += 1
          }
          Row(r.getLong(0), w, h, s)
        }
      }
    }(enc)
  }

  def pooledImages(media: DataFrame, pool: Int = 2): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("bx", IntegerType),
      StructField("by", IntegerType),
      StructField("n_px", IntegerType),
      StructField("sum_gray", LongType),
      StructField("mean_gray", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.filter(col("kind") === "image").select("media_id", "payload")
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          batch.flatMap { r =>
            val id = r.getLong(0)
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
            val ras = img.getRaster
            val w = img.getWidth; val h = img.getHeight
            val nbx = (w + pool - 1) / pool
            val nby = (h + pool - 1) / pool
            val sums = new Array[Long](nby * nbx)
            val cnt = new Array[Int](nby * nbx)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val b = (y / pool) * nbx + (x / pool)
                sums(b) += ras.getSample(x, y, 0).toLong
                cnt(b) += 1
                x += 1
              }
              y += 1
            }
            for (by <- 0 until nby; bx <- 0 until nbx) yield {
              val b = by * nbx + bx
              Row(id, bx, by, cnt(b), sums(b), sums(b).toDouble / cnt(b))
            }
          }
        }
      }(enc)
  }

  /** Windowed audio features over REAL-decoded WAV samples — the
    * audio-side framing transform of a multimodal ingest pipeline
    * (the step before any spectral featurization): fixed `win`-sample
    * frames at `hop`-sample stride, ragged final frame kept (like
    * m3's ragged pool edges). Per frame: sample count, energy
    * (exact Σ s² as long), zero-crossing count (strict sign-bit
    * change between adjacent samples — integer comparison, no
    * epsilon), peak |s|, and mean power as ONE double division of
    * exact integers so a SQL oracle reproduces it bit-for-bit.
    * Row-local batched kernel: decode + framing never shuffle. */
  def windowedAudio(media: DataFrame, win: Int = 16, hop: Int = 8): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("win_idx", IntegerType),
      StructField("start_i", IntegerType),
      StructField("n_s", IntegerType),
      StructField("energy", LongType),
      StructField("zc", IntegerType),
      StructField("peak", IntegerType),
      StructField("pow_mean", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.filter(col("kind") === "audio").select("media_id", "payload")
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          batch.flatMap { r =>
            val id = r.getLong(0)
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            def s(i: Int): Int =
              ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
            val nw = (n + hop - 1) / hop // frames start at 0, hop, ... < n
            (0 until nw).map { w =>
              val start = w * hop
              val end = math.min(start + win, n)
              var energy = 0L; var zc = 0; var peak = 0
              var i = start
              while (i < end) {
                val v = s(i)
                energy += v.toLong * v
                if (i > start && ((s(i - 1) < 0) != (v < 0))) zc += 1
                if (math.abs(v) > peak) peak = math.abs(v)
                i += 1
              }
              Row(id, w, start, end - start, energy, zc, peak,
                energy.toDouble / (end - start))
            }
          }
        }
      }(enc)
  }

  /** Frame-sample + resize: decode video payloads (real AVI parse),
    * keep every `every`-th frame, and average-pool each kept frame
    * into `pool`×`pool` blocks (ragged right/bottom edges pool fewer
    * pixels) — the downsample step of a multimodal ingest pipeline.
    * Per block: exact integer per-channel sums + pixel count, plus
    * the gray mean as ONE double division of exact integers (so a
    * SQL oracle recomputes it bit-identically). Partition-local
    * batched kernel like [[extractSums]]; output is one row per
    * (video, sampled frame, block). */
  def pooledFrames(media: DataFrame, every: Int = 2, pool: Int = 2): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("bx", IntegerType),
      StructField("by", IntegerType),
      StructField("n_px", IntegerType),
      StructField("sum_b", LongType),
      StructField("sum_g", LongType),
      StructField("sum_r", LongType),
      StructField("mean_gray", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.filter(col("kind") === "video").select("media_id", "payload")
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          batch.flatMap { r =>
            val id = r.getLong(0)
            val (w, h, frames) = Codec.decodeAvi(r.getAs[Array[Byte]](1))
            val nbx = (w + pool - 1) / pool
            val nby = (h + pool - 1) / pool
            (0 until frames.length by every).flatMap { f =>
              val fr = frames(f)
              val sums = new Array[Long](nby * nbx * 3)
              val cnt = new Array[Int](nby * nbx)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val b = (y / pool) * nbx + (x / pool)
                  cnt(b) += 1
                  var c = 0
                  while (c < 3) {
                    sums(b * 3 + c) += (fr((y * w + x) * 3 + c) & 0xff).toLong
                    c += 1
                  }
                  x += 1
                }
                y += 1
              }
              for (by <- 0 until nby; bx <- 0 until nbx) yield {
                val b = by * nbx + bx
                Row(id, f, bx, by, cnt(b),
                  sums(b * 3), sums(b * 3 + 1), sums(b * 3 + 2),
                  (sums(b * 3) + sums(b * 3 + 1) + sums(b * 3 + 2)).toDouble
                    / (3 * cnt(b)))
              }
            }
          }
        }
      }(enc)
  }
  /** m6's 4×4-cell aHash over the REAL PNG decode (see the m6 query
    * doc for the full derivation): per-pixel stream from pooledImages
    * at pool=1, cell-vs-image mean as an exact integer cross-multiply
    * (no division), 16-bit hash via the shared pow2 ladder. Input: a
    * media frame (image rows); output (media_id, ahash). */
  def aHashes(media: DataFrame): DataFrame = {
    import graft.text.TextOps
    val px = pooledImages(media, pool = 1)
      .select(col("media_id"), col("bx").as("x"), col("by").as("y"),
        col("sum_gray").as("g"))
    val dims = px.groupBy("media_id").agg(
      (max(col("x")) + 1).as("w"), (max(col("y")) + 1).as("h"),
      sum(col("g")).cast("long").as("tot"),
      count(lit(1)).cast("long").as("npx"))
    val cells = px.join(dims, "media_id")
      .withColumn("cx", expr("(x * 4) div w"))
      .withColumn("cy", expr("(y * 4) div h"))
      .groupBy("media_id", "cx", "cy")
      .agg(sum(col("g")).cast("long").as("cs"),
        count(lit(1)).cast("long").as("cn"),
        max(col("tot")).as("tot"), max(col("npx")).as("npx"))
    cells
      .withColumn("bit",
        (col("cs") * col("npx") > col("tot") * col("cn")).cast("long"))
      .groupBy("media_id")
      .agg(sum(col("bit") * expr(TextOps.pow2("cy * 4 + cx")))
        .cast("long").as("ahash"))
  }

  /** m6's pair machinery, shared with the recall/density audits
    * (M6RecallSpec, M6Density): 3-band pigeonhole over the 16-bit
    * aHash (6/5/5 bits — any hamming≤2 pair keeps ≥1 band intact) with
    * the d31 bucket-population sub-cell salt: a (band, value) bucket of
    * population bc splits into ceil(bc/128) md5-keyed sub-cells, so
    * candidate pairs are ≤ ~381·n at ANY saturation of the 64+32+32-key
    * band space — the O(n) bound that keeps image dedup linear at
    * corpus scale. The trade (documented in the m6 query contract): a
    * true ≤2-hamming pair whose every intact band lands in different
    * sub-cells is missed once the salt activates (bc > 128);
    * M6RecallSpec quantifies that loss against all-pairs truth.
    * Input: (media_id: long, ahash: long in [0, 65536)). */
  def phashCandidates(hashes: DataFrame): DataFrame = {
    import graft.text.TextOps
    val bands = hashes.select(col("media_id"), col("ahash"),
      explode(array(
        struct(lit(0).as("bi"), expr("ahash % 64").as("bv")),
        struct(lit(1).as("bi"), expr("(ahash div 64) % 32").as("bv")),
        struct(lit(2).as("bi"), expr("ahash div 2048").as("bv")))).as("b"))
      .select(col("media_id"), col("ahash"), col("b.bi").as("bi"),
        col("b.bv").as("bv"))
    // bucket-population sub-cell salt (d31): bcnt has ≤128 rows
    val bcnt = bands.groupBy("bi", "bv").agg(count(lit(1)).as("bc"))
    val bandsS = bands.join(broadcast(bcnt), Seq("bi", "bv"))
      .withColumn("nsub", expr("(bc + 127) div 128"))
      .withColumn("sub",
        expr(TextOps.md5Hash32Fast("CAST(media_id AS STRING)")) % col("nsub"))
    val lhs = bandsS.select(col("bi"), col("bv"), col("sub"),
      col("media_id").as("a_id"), col("ahash").as("ha"))
    val rhs = bandsS.select(col("bi"), col("bv"), col("sub"),
      col("media_id").as("b_id"), col("ahash").as("hb"))
    lhs.join(rhs, Seq("bi", "bv", "sub")).filter(col("a_id") < col("b_id"))
  }

  /** Per-image BEST hamming≤2 near-duplicate over [[phashCandidates]]
    * (rank by (hamm, match_id)) — the m6 declared output shape:
    * ≤1 row per image. */
  def phashBestMatch(hashes: DataFrame): DataFrame = {
    val pairs = phashCandidates(hashes)
      .select("a_id", "b_id", "ha", "hb").distinct()
      .withColumn("hamm", expr("bit_count(ha ^ hb)"))
      .filter(col("hamm") <= 2)
    val sym = pairs.select(col("a_id").as("media_id"),
        col("b_id").as("match_id"), col("hamm"), col("ha").as("ahash"))
      .unionByName(pairs.select(col("b_id").as("media_id"),
        col("a_id").as("match_id"), col("hamm"), col("hb").as("ahash")))
    val wbest = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy(asc("hamm"), asc("match_id"))
    sym.withColumn("rn", row_number().over(wbest)).filter(col("rn") === 1)
      .select("media_id", "match_id", "hamm", "ahash")
  }
}

package graft.llm

import graft.{Tables, Util}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video payloads as opaque `binary` columns
  * with typed metadata, plus batched decode / feature-extraction plumbing.
  *
  * The image path is REAL: [[realMediaTable]] generates genuine PNG/JPEG
  * bytes per document (`BufferedImage` → `ImageIO.write`, zero new
  * dependencies — javax.imageio ships with every JVM), and [[decodeBatch]] /
  * [[decodeLuma]] decode them back with `ImageIO.read` inside a
  * partition-wise `mapPartitions` stage (the JVM analog of a `mapInPandas`
  * batch UDF: per-partition codec init, rows streamed through it). Because
  * the fixture images are generated from a closed-form pixel function of
  * `doc_id`, the DuckDB oracle predicts every decoded property — width,
  * height, band count, each luma sample — arithmetically, so the decode is
  * verified end-to-end against its generative spec (`mm_decode_real`,
  * `mm_phash_real`, `mm_resize_real`). The audio path is real the same
  * way: [[realAudioTable]] writes genuine RIFF/WAVE files via the JDK's
  * `AudioSystem` codec, [[decodePcm]] parses container + format chunk back
  * and decodes every 16-bit frame (`mm_audio_real`, sample-exact). Video
  * is real too at the container level: [[videoBytes]] synthesizes genuine
  * multi-frame animated GIFs and [[frameSampleReal]] seek-decodes only the
  * sampled frame indices (`mm_video_real`); the only remaining seam is an
  * inter-frame codec (H.264-class) — no such codec ships in the JDK, and
  * `mm_frame_sample` pins the planning geometry that a native decoder
  * would slot into at the same mapPartitions boundary.
  *
  * Scale notes (100 TB): media blobs dominate row size, so a decode stage
  * repartitions by byte budget, never by row count; the metadata queries
  * project (doc_id, n_bytes, format) only — column pruning keeps the scan
  * from reading blob bytes when only metadata is needed (verify via
  * ReadSchema in explain).
  */
object Multimodal {

  /** Build a media table from documents: payload = utf-8 bytes of the text
    * (a stand-in for real image/audio bytes), format cycled per doc_id —
    * the DECLARATIVE twin family ([[mm_decode_meta|decodedMeta]] etc.)
    * computes its metadata from these payload bytes so DuckDB can
    * reproduce it; the real-codec family below works on genuine images. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "utf-8").as("payload"),
      element_at(
        array(lit("png"), lit("jpeg"), lit("wav")),
        (col("doc_id") % 3).cast("int") + 1).as("format"))

  // ------------------------------------------------- real image codec
  // (AWT never needs a display for raster + ImageIO work; set headless
  // before any AWT class initializes, defensively)
  System.setProperty("java.awt.headless", "true")
  // ImageIO defaults to DISK-backed stream caching: every ImageIO.read /
  // createImageInputStream spills the (already in-memory!) payload to a
  // temp file. With 32 executor threads decoding concurrently that is 32
  // threads contending on temp-file create/delete — measured as 4×
  // run-to-run variance on the mm_* bench rows. Payloads here are small
  // byte arrays; memory-backed caching is strictly better.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic image geometry/pixels for doc `d` — the generative spec
    * the oracle replays arithmetically. Sizes 16..32 × 16..28 keep every
    * image ≥ 256 px (the 8×8 aHash grid is total) while the fixture stays
    * small. */
  def imageWidth(d: Long): Int = (16 + d % 17).toInt
  def imageHeight(d: Long): Int = (16 + (d * 7) % 13).toInt
  def imageLuma(d: Long, x: Int, y: Int): Int = ((d * 31 + x * 7 + y * 13) % 256).toInt

  /** Encode doc `d`'s image: lossless 8-bit grayscale PNG (1 band) for even
    * ids, baseline JPEG (3-band, gray-valued) for odd ids. Pixel-exact
    * queries (phash, resize) use the PNG half only — JPEG is lossy by
    * design, so only its geometry is oracle-checked. */
  def imageBytes(d: Long): (Array[Byte], String) = {
    val (w, h) = (imageWidth(d), imageHeight(d))
    val fmt = if (d % 2 == 0) "png" else "jpeg"
    val imgType =
      if (fmt == "png") java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    val raster = img.getRaster
    val bands = raster.getNumBands
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = imageLuma(d, x, y)
        var b = 0
        while (b < bands) { raster.setSample(x, y, b, v); b += 1 }
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, fmt, bos)
    require(ok, s"no ImageIO writer for format $fmt")
    (bos.toByteArray, fmt)
  }

  private val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType),
    StructField("format", StringType)))

  /** A (doc_id, payload, format) media table: `payload(d)` per document,
    * encoded partition-wise (no driver loop, no bundled binaries) — the
    * one builder under every `real*Table`. */
  private def payloadTable(docs: DataFrame)(payload: Long => (Array[Byte], String)): DataFrame =
    docs.select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(0)
        val (bytes, fmt) = payload(d)
        Row(d, bytes, fmt)
      }
    }(RowEncoder.encoderFor(mediaSchema))

  /** Real media table: one genuine PNG/JPEG payload per document. */
  def realMediaTable(docs: DataFrame): DataFrame = payloadTable(docs)(imageBytes(_))

  /** Partition-wise batched REAL decode: [[decodeBatchSafe]] plus the
    * strict check — a payload the codec rejects fails the task with
    * "undecodable image payload for doc N". The check is a FILTER, so a
    * consumer that projects only the geometry (or just counts) cannot
    * prune it away. Swap in a GPU codec at the shared seam and nothing
    * upstream or downstream changes. */
  def decodeBatch(media: DataFrame): DataFrame =
    decodeBatchSafe(media)
      .filter(col("decode_ok") || raise_error(concat(
        lit("undecodable image payload for doc "), col("doc_id").cast("string")))
        .cast(BooleanType))
      .drop("decode_ok")

  // ------------------------------------------------- real audio codec

  /** Deterministic PCM signal for doc `d` — the generative spec the oracle
    * replays: n(d) = 64 + d % 101 samples, s(d,t) = (d·37 + t·17 + 29) %
    * 2001 − 1000 (16-bit-safe). */
  def audioSamples(d: Long): Int = (64 + d % 101).toInt
  def audioSample(d: Long, t: Int): Int = ((d * 37 + t * 17 + 29) % 2001 - 1000).toInt

  /** Encode doc `d`'s signal as a genuine RIFF/WAVE file: mono, 8 kHz,
    * 16-bit signed little-endian PCM, written by the JDK's own audio
    * codec (`AudioSystem.write`) — the same zero-dependency realness
    * contract as [[imageBytes]]. */
  def audioBytes(d: Long): Array[Byte] = {
    val n = audioSamples(d)
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = audioSample(d, t)
      pcm(2 * t) = (s & 0xff).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  val safeDecodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_bytes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("decode_ok", BooleanType)))

  /** The one image decode: `ImageIO.read` per payload inside a
    * partition-wise `mapPartitions` stage — width/height from the decoded
    * image, channels from the raster's band count. A payload the codec
    * rejects (truncated file, wrong magic, codec exception, NULL) becomes a
    * row with `decode_ok = false` and null geometry instead of an
    * exception. At 100 TB a corrupt payload is ROUTINE — one bad object
    * must not kill the job, so production pipelines route failures to a
    * quarantine (see `graft.streaming.MediaIngest`, a spec-side sink under
    * `src/test`) and keep going; [[decodeBatch]] is this decode plus the
    * fixture-oracle assertion that OUR generated payloads all decode. */
  def decodeBatchSafe(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(safeDecodedSchema)
    media.select(col("doc_id"), col("payload"), col("format"))
      .mapPartitions { rows =>
        rows.map { r =>
          // positional getters: rows arriving across a prior mapPartitions
          // boundary are schema-less GenericRows (name lookup throws). A
          // NULL payload is a reject row like any other corrupt object.
          val payload = r.getAs[Array[Byte]](1)
          val img =
            if (payload == null) null
            else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
            catch { case _: java.io.IOException | _: RuntimeException => null }
          val nBytes = if (payload == null) 0 else payload.length
          if (img == null)
            Row(r.getLong(0), r.getString(2), nBytes, null, null, null, false)
          else
            Row(r.getLong(0), r.getString(2), nBytes,
              img.getWidth, img.getHeight, img.getRaster.getNumBands, true)
        }
      }(enc)
  }

  /** Mixed-modality real table: a genuine image / WAV / GIF payload per
    * document by doc_id % 3 — the input shape a real media lake has (one
    * binary column, a format column, three codecs). */
  def realMixedMediaTable(docs: DataFrame): DataFrame =
    payloadTable(docs)(d => d % 3 match {
      case 0 => imageBytes(d)
      case 1 => (audioBytes(d), "wav")
      case _ => (videoBytes(d), "gif")
    })

  val probeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("n_bytes", IntegerType),
    StructField("n_units", LongType),
    StructField("decode_ok", BooleanType)))

  /** Modality-dispatched poison-tolerant PROBE — the uniform validation
    * gate `graft.streaming.MediaIngest` routes on: each payload is
    * opened by the codec its `format` column names ('wav' → AudioSystem
    * container parse, 'gif' → frame-directory scan, 'zip' → [[ShardZip]]
    * central-directory read, anything else → ImageIO decode), and reduces
    * to one modality-comparable size metric `n_units` (audio: PCM frames;
    * video/shard: stored frames; image: pixels).
    * Any codec reject — truncation, wrong magic, reader exception —
    * becomes `decode_ok = false` with null units, never an exception:
    * the whole-family guarantee that one corrupt object cannot kill a
    * 100 TB validation pass, not just the image-path one. The strict
    * per-modality decoders remain the oracle-pinned full decodes. */
  def probeMediaSafe(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(probeSchema)
    media.select(col("doc_id"), col("payload"), col("format"))
      .mapPartitions { rows =>
        // one reusable GIF reader per partition (frameSampleReal convention)
        lazy val gifReader =
          javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        rows.map { r =>
          val d = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val fmt = r.getString(2)
          val units: java.lang.Long =
            if (payload == null) null // null payload = reject row, never NPE
            else try {
              fmt match {
                case "wav" =>
                  val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
                    new java.io.ByteArrayInputStream(payload))
                  java.lang.Long.valueOf(ais.getFrameLength)
                case "gif" =>
                  val iis = javax.imageio.ImageIO.createImageInputStream(
                    new java.io.ByteArrayInputStream(payload))
                  gifReader.setInput(iis, false, true)
                  val n = gifReader.getNumImages(true)
                  iis.close()
                  // an empty frame directory is a reject, not a 0-frame file
                  if (n < 1) null else java.lang.Long.valueOf(n.toLong)
                case "zip" =>
                  // shard container: n_units = stored entries, read from the
                  // central directory alone (no entry is ever inflated —
                  // the probe touches directory bytes only, same ranged-read
                  // contract as frameSampleShard)
                  val n = ShardZip.entries(payload).length
                  if (n < 1) null else java.lang.Long.valueOf(n.toLong)
                case _ =>
                  val img = javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(payload))
                  if (img == null) null
                  else java.lang.Long.valueOf(img.getWidth.toLong * img.getHeight)
              }
            } catch {
              case _: java.io.IOException | _: RuntimeException |
                  _: javax.sound.sampled.UnsupportedAudioFileException => null
            }
          Row(d, fmt, if (payload == null) 0 else payload.length,
            units, units != null)
        }
      }(enc)
  }

  // ------------------------------------------------- real video codec

  /** Deterministic multi-frame spec for doc `d` — the generative contract
    * the oracle replays: nFrames(d) = 2 + d % 7 frames, each
    * vw(d)×vh(d) grayscale, luma(d,f,x,y) = (d·31 + f·59 + x·7 + y·13) % 256. */
  def videoNFrames(d: Long): Int = (2 + d % 7).toInt
  def videoWidth(d: Long): Int = (12 + d % 9).toInt
  def videoHeight(d: Long): Int = (10 + (d * 5) % 7).toInt
  def videoLuma(d: Long, f: Int, x: Int, y: Int): Int =
    ((d * 31 + f * 59 + x * 7 + y * 13) % 256).toInt

  /** Render frame `f` of doc `d` from the generative spec — the SINGLE
    * source both containers ([[videoBytes]]' GIF sequence, [[shardBytes]]'
    * ZIP shard) encode; a spec change here changes both in lockstep (and
    * the shared `videoSampleOracle` is the third copy to keep in sync). */
  private def frameImage(d: Long, f: Int): java.awt.image.BufferedImage = {
    val (w, h) = (videoWidth(d), videoHeight(d))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, videoLuma(d, f, x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** The even-spacing sample plan every container reader shares —
    * (sample_i, frame_idx = i·(n div k)) for k = min(n, maxFrames); an
    * empty frame directory samples nothing (no divide-by-zero). One copy
    * of the planner arithmetic, mirrored only by the oracle SQL. */
  private def sampleIndices(n: Int, maxFrames: Int): IndexedSeq[(Int, Int)] = {
    val k = math.min(n, maxFrames)
    val stride = if (k < 1) 1 else n / k
    (0 until k).map(i => (i, i * stride))
  }

  /** Encode doc `d`'s frames as a genuine animated GIF — a real multi-frame
    * container written by the JDK's own codec (`ImageWriter.writeToSequence`),
    * lossless for grayscale (the 256-entry gray palette covers every
    * sample value exactly). Same zero-dependency realness contract as
    * [[imageBytes]] / [[audioBytes]]. */
  def videoBytes(d: Long): Array[Byte] = {
    val nf = videoNFrames(d)
    val bos = new java.io.ByteArrayOutputStream()
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    wr.setOutput(ios)
    wr.prepareWriteSequence(null)
    var f = 0
    while (f < nf) {
      wr.writeToSequence(new javax.imageio.IIOImage(frameImage(d, f), null, null), null)
      f += 1
    }
    wr.endWriteSequence()
    ios.close()
    wr.dispose()
    bos.toByteArray
  }

  /** Real video table: one genuine animated-GIF payload per document. */
  def realVideoTable(docs: DataFrame): DataFrame =
    payloadTable(docs)(d => (videoBytes(d), "gif"))

  private val frameSampleSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_frames", IntegerType),
    StructField("sample_i", IntegerType),
    StructField("frame_idx", IntegerType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("luma_sum", LongType)))

  /** Partition-wise REAL frame sampling — [[mediaTable]]'s planned
    * `mm_frame_sample` made actual: open the container, read the frame
    * count from the stream directory, seek-decode ONLY the ≤ `maxFrames`
    * sampled frames (index i·(n div k), the planner's even-spacing
    * arithmetic), and reduce each decoded frame to its luma sum. One
    * reusable GIF reader per partition; unsampled frames are never
    * pixel-decoded, so at scale the codec cost tracks SAMPLED frames, not
    * stored footage — the entire point of frame sampling. This is the
    * ffmpeg seam: swap the reader for a real demuxer (any container whose
    * frame directory supports indexed seek) and nothing upstream or
    * downstream changes. */
  def frameSampleReal(media: DataFrame, maxFrames: Int): DataFrame = {
    require(maxFrames >= 1, s"frameSampleReal: maxFrames must be >= 1, got $maxFrames")
    val enc = RowEncoder.encoderFor(frameSampleSchema)
    media.select(col("doc_id"), col("payload")).mapPartitions { rows =>
      val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      rows.flatMap { r =>
        val d = r.getLong(0)
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        rd.setInput(iis, false, true)
        val n = rd.getNumImages(true)
        // strict: every sampled frame decodes before the reader re-targets
        val out = sampleIndices(n, maxFrames).map { case (i, fidx) =>
          val img = rd.read(fidx)
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
            y += 1
          }
          Row(d, n, i, fidx, w, h, sum)
        }
        iis.close()
        out
      }
    }(enc)
  }

  // ------------------------------------------- indexed-shard container

  /** Encode doc `d`'s frames (the SAME generative spec as [[videoBytes]])
    * as a ZIP shard — one PNG entry per frame, the WebDataset-style shard
    * layout training pipelines actually store media in. Unlike GIF, ZIP
    * carries a real index (the central directory at EOF), so a reader can
    * seek straight to a sampled entry without parsing the others — the
    * container property [[frameSampleReal]]'s scaling analysis in SCALE.md
    * says the k/n̄ sampling model needs. */
  def shardBytes(d: Long): Array[Byte] = {
    val nf = videoNFrames(d)
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    var f = 0
    while (f < nf) {
      zos.putNextEntry(new java.util.zip.ZipEntry(f"f$f%05d.png"))
      javax.imageio.ImageIO.write(frameImage(d, f), "png", zos)
      zos.closeEntry()
      f += 1
    }
    zos.close()
    bos.toByteArray
  }

  /** Real shard table: one genuine ZIP-of-PNG-frames payload per doc. */
  def realShardTable(docs: DataFrame): DataFrame =
    payloadTable(docs)(d => (shardBytes(d), "zip"))

  /** Indexed frame sampling over ZIP shards — [[frameSampleReal]]'s
    * demonstration that the k/n̄ cost model HOLDS once the container has
    * an index: `ZipFile` reads the central directory (an O(entries)
    * directory record at EOF, not an O(bytes) block parse), and ONLY the
    * ≤ `maxFrames` sampled entries are ever inflated and pixel-decoded —
    * unsampled frames cost one directory row each. Same sampling
    * arithmetic and output schema as the GIF path. The reader is
    * [[ShardZip]], an in-memory central-directory parser: bytes touched
    * are the EOCD record, the directory, and the sampled entries' spans —
    * the exact three ranged reads an object store serves (tail GET +
    * one range per sampled entry), with no scratch file and no
    * O(container) scan, so the byte cost tracks k BY CONSTRUCTION. */
  def frameSampleShard(media: DataFrame, maxFrames: Int): DataFrame = {
    require(maxFrames >= 1, s"frameSampleShard: maxFrames must be >= 1, got $maxFrames")
    val enc = RowEncoder.encoderFor(frameSampleSchema)
    media.select(col("doc_id"), col("payload")).mapPartitions { rows =>
      rows.flatMap { r =>
        val d = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val entries = ShardZip.entries(bytes).sortBy(_.name)
        val n = entries.length
        sampleIndices(n, maxFrames).map { case (i, fidx) =>
          val in = ShardZip.entryStream(bytes, entries(fidx))
          val img = try javax.imageio.ImageIO.read(in) finally in.close()
          require(img != null, s"undecodable shard entry $fidx for doc $d")
          val (w, h) = (img.getWidth, img.getHeight)
          // raw band-0 samples (the decodeLuma convention): getRGB
          // would push the gray PNG through a linear→sRGB gamma
          // conversion and inflate every luma (spec-caught)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          Row(d, n, i, fidx, w, h, sum)
        }
      }
    }(enc)
  }

  /** Real audio table: one genuine WAV payload per document. */
  def realAudioTable(docs: DataFrame): DataFrame =
    payloadTable(docs)(d => (audioBytes(d), "wav"))

  private val pcmSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("samples", ArrayType(IntegerType, containsNull = false))))

  /** Partition-wise REAL PCM decode: `AudioSystem.getAudioInputStream`
    * parses the RIFF container and format chunk (rate/channels/width come
    * from the FILE, not from us), the frames decode to signed ints. The
    * ffmpeg-shaped seam of the audio family — everything downstream
    * (framing, energy) is declarative over the decoded array. */
  def decodePcm(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(pcmSchema)
    media.select(col("doc_id"), col("payload")).mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && !f.isBigEndian &&
          f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"doc ${r.getLong(0)}: unexpected PCM layout $f")
        val bytes = ais.readAllBytes()
        // de-interleave to CHANNEL 0: `samples` is one per-channel signal so
        // downstream framing/energy stays per-time-step on multi-channel
        // input (n_channels is still reported; mono is the identity path)
        val ch = f.getChannels
        val stride = 2 * ch
        val n = bytes.length / stride
        val samples = new Array[Int](n)
        var t = 0
        while (t < n) {
          samples(t) =
            (bytes(stride * t + 1).toInt << 8) | (bytes(stride * t) & 0xff)
          t += 1
        }
        Row(r.getLong(0), f.getSampleRate.toInt, f.getChannels, samples.toIndexedSeq)
      }
    }(enc)
  }

  /** [[audioFrames]]' REAL twin: identical framing/energy aggregation, fed
    * by genuinely decoded PCM instead of the ascii stand-in stream. */
  def audioFramesReal(media: DataFrame, frameSize: Int): DataFrame =
    decodePcm(media)
      .select(col("doc_id"), posexplode(col("samples")).as(Seq("t", "s")))
      .select(col("doc_id"), expr(s"t div $frameSize").as("frame"), col("s"))
      .groupBy("doc_id", "frame")
      .agg(count(lit(1)).as("n_samples"),
        sum(expr("CAST(s AS BIGINT) * s")).as("energy"))

  private val lumaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("w", IntegerType),
    StructField("h", IntegerType),
    StructField("lumas", ArrayType(IntegerType, containsNull = false))))

  /** Decode band-0 samples (luma for grayscale sources) row-major — the
    * pixel feed for [[phashRealBands]] and [[resizeNearest]]. Imperative
    * work stops at the decoded array; every pixel computation downstream is
    * declarative (codegen'd array/aggregate expressions), so the plan keeps
    * pruning/pushdown around the decode stage. */
  def decodeLuma(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(lumaSchema)
    media.select(col("doc_id"), col("payload")).mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        require(img != null, s"undecodable image payload for doc ${r.getLong(0)}")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val lum = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { lum(y * w + x) = raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
        Row(r.getLong(0), w, h, lum.toIndexedSeq)
      }
    }(enc)
  }

  // ------------------------------------------------------------- registry

  // The stand-in metadata family computes its columns *declaratively*
  // from the utf-8 payload (so DuckDB can reproduce them byte-for-byte);
  // the real-codec family (mm_*_real) is decoded by ImageIO/AudioSystem
  // and checked against its generative arithmetic spec instead.
  /** Decoded-metadata projection shared by the feature queries. */
  private def decodedMeta(m: DataFrame): DataFrame =
    m.select(
      col("doc_id"), col("format"),
      octet_length(col("payload")).as("n_bytes"),
      (octet_length(col("payload")) % 640 + 16).as("width"),
      ((octet_length(col("payload")) * 7) % 480 + 16).as("height"),
      expr("CASE format WHEN 'png' THEN 4 WHEN 'jpeg' THEN 3 ELSE 1 END").as("channels"))

  /** Audio framing: the signal (here payload bytes == utf-8 codes of the
    * ASCII fixture text, the same stand-in [[mediaTable]] uses; s = code −
    * 96 centers the lowercase band) framed into non-overlapping
    * `frameSize`-sample windows with per-frame integer energy Σs² — the
    * DECLARATIVE twin of [[audioFramesReal]], which runs the identical
    * framing over genuinely decoded WAV/PCM; the framing, the ragged last
    * frame, and the per-frame aggregation — the part a feature extractor
    * actually consumes — are identical in both and oracle-checked. One narrow shuffle on (doc, frame),
    * partial-aggregated map-side. */
  def audioFrames(docs: DataFrame, frameSize: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), "")).as(Seq("pos", "ch")))
      .filter(col("ch") =!= "") // Java split keeps a trailing empty token
      .select(col("doc_id"), expr(s"pos div $frameSize").as("frame"),
        (ascii(col("ch")) - 96).as("s"))
      .groupBy("doc_id", "frame")
      .agg(count(lit(1)).as("n_samples"),
        sum(expr("CAST(s AS BIGINT) * s")).as("energy"))

  /** Average-hash (aHash) perceptual fingerprint bands: the image near-dup
    * primitive. The canonical recipe — downscale to an 8×8 grid, threshold
    * each cell against the global mean, read the 64 bits — computed here
    * over the payload's sample stream (ascii codes, the same stand-in the
    * audio framing uses; [[phashRealBands]] is the real-pixel twin running
    * the identical tail over decoded luma): cell c of a length-n payload aggregates
    * positions with `(pos·64) div n == c` (every cell non-empty for
    * n ≥ 64; shorter payloads are excluded — an 8×8 grid of a sub-64-px
    * source is undefined), bit c = cell sum · 64 > total (exact integer
    * compare, no FP mean). The 64 bits ship as FOUR 16-bit band values —
    * the [[graft.llm.Dedup.simhashPairsOf]] banding shape — so candidate
    * mining is an equi-join on (band, bval), never all-pairs, and no
    * signed-overflow bit ever exists (a single packed i64 would put cell
    * 63 in the sign bit and break `div`-based band extraction).
    *
    * Scale shape: per-doc work is linear in payload size and collapses
    * map-side (cells, then bands, both partial-aggregated); the pair join
    * touches band collisions only; the Hamming verify is codegen'd
    * xor+bit_count over 4 small ints per pair. Pigeonhole: 4 equal-band
    * blocking has full recall for Hamming ≤ 3 — same bound, same refusal,
    * as the simhash family. */
  def phashBands(docs: DataFrame): DataFrame = {
    val px = docs.filter(length(col("text")) >= 64)
      .select(col("doc_id"), length(col("text")).as("n"),
        posexplode(split(col("text"), "")).as(Seq("pos", "ch")))
      .filter(col("ch") =!= "") // Java split keeps a trailing empty token
      // pos is Int: the multiply must go long FIRST or a >= 2^25-char
      // payload overflows (ANSI error / wrapped negative cells) while the
      // oracle's BIGINT arithmetic sails on (review-caught)
      .select(col("doc_id"), expr("(CAST(pos AS BIGINT) * 64) div n").as("cell"),
        ascii(col("ch")).cast("long").as("v"))
    ahashBandsFrom(px)
  }

  /** The shared aHash tail — cell sums, exact-integer global-mean threshold,
    * 4×16-bit band packing — over any (doc_id, cell, v) sample frame; fed by
    * [[phashBands]] (ascii stand-in stream) and [[phashRealBands]] (decoded
    * pixel luma). */
  private def ahashBandsFrom(px: DataFrame): DataFrame =
    // ONE aggregation tree, not a cells⋈total self-join: the sample frame
    // is consumed exactly once (the join form re-planned the whole
    // upstream — including the real-codec decode — into BOTH branches,
    // plan-audit-caught), the payload-sized stream collapses map-side at
    // the (doc, cell) aggregate, and the ≤64-cell gather computes the
    // exact-integer mean threshold and all 4 band packings in-row.
    px.groupBy("doc_id", "cell").agg(sum(col("v")).as("cv"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("cell"), col("cv"))).as("cs"))
      .withColumn("t", expr("aggregate(cs, 0L, (a, c) -> a + c.cv)"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3), b -> named_struct(
          |  'band', CAST(b AS BIGINT),
          |  'bval', aggregate(filter(cs, c -> c.cell div 16 = b), 0L,
          |    (acc, c) -> acc + IF(c.cv * 64 > t,
          |      shiftleft(1L, CAST(c.cell % 16 AS INT)), 0L))))""".stripMargin))
        .as("q"))
      .select(col("doc_id"), col("q.band").as("band"), col("q.bval").as("bval"))

  /** aHash bands from REAL decoded pixels: decode luma, fan each sample to
    * its 8×8 cell (row-major pos → cell = pos·64 div (w·h)), and run the
    * identical band tail as the text stand-in. The decode is the only
    * imperative step; the oracle replays the generative pixel function and
    * must reproduce every band value bit-for-bit — the "is the operator"
    * upgrade over the modeled stand-in. PNG half only (lossless). */
  def phashRealBands(media: DataFrame): DataFrame = {
    val px = decodeLuma(media)
      .select(col("doc_id"), (col("w") * col("h")).cast("long").as("n"),
        posexplode(col("lumas")).as(Seq("pos", "v")))
      .filter(col("n") >= 64)
      .select(col("doc_id"), expr("(CAST(pos AS BIGINT) * 64) div n").as("cell"),
        col("v").cast("long").as("v"))
    ahashBandsFrom(px)
  }

  /** Nearest-neighbor resize of decoded luma to `outW`×`outH`, exact
    * integer sampling (src = (out·in) div out dims) — the pixel half of the
    * resize operator whose geometry half is `mm_resize`. The sample gather
    * is an in-row `transform` over the decoded array (no shuffle, no
    * per-pixel array duplication); output is long-form (doc_id, i, j, v)
    * so the oracle can check every sample. */
  def resizeNearest(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1, s"resizeNearest: bad target ${outW}x$outH")
    decodeLuma(media)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${outW * outH - 1}), p -> named_struct(
           |  'i', p % $outW, 'j', p div $outW,
           |  'v', element_at(lumas, CAST(
           |         ((p div $outW) * h div $outH) * w
           |         + ((p % $outW) * w div $outW) AS INT) + 1)))""".stripMargin)).as("q"))
      .select(col("doc_id"), col("q.i").as("i"), col("q.j").as("j"),
        col("q.v").cast("long").as("v"))
  }

  /** Image near-dup pairs by aHash Hamming distance ≤ `maxHamming`:
    * banded candidates ([[phashBands]]) verified by the exact 64-bit
    * Hamming distance (Σ over bands of bit_count(xor)). */
  def phashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"phashPairs: 4-band blocking guarantees recall only for maxHamming <= 3, got $maxHamming")
    val bands = phashBands(docs).localCheckpoint(eager = true)
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bval").as("ba"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bval").as("bb"))
    // bval equality is an explicit JOIN KEY, not a post-join filter: keying
    // on the 4-value band column alone would hinge on the optimizer pushing
    // the filter into the join condition — if that pushdown were ever
    // inhibited the join degenerates to ~|docs|²/4 (advisor-caught)
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bval"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bval")),
        Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "band"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(expr("bit_count(ba ^ bb)")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_decode_meta" -> ((s, dir) =>
      Util.orderAll(decodedMeta(mediaTable(Tables.documents(s, dir))))),

    // the 'wav' cycle slot of mediaTable; see [[audioFrames]]
    "mm_audio_frames" -> ((s, dir) =>
      Util.orderAll(audioFrames(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(3)) === 2), 32))),

    // frame sampling: pseudo-duration from the payload, ≤5 evenly spaced
    // byte offsets per clip — integer arithmetic only; mm_video_real is
    // the real twin (indexed seek-decode over genuine GIF containers)
    "mm_frame_sample" -> ((s, dir) => {
      val m = decodedMeta(mediaTable(Tables.documents(s, dir)))
      // frame_offsets is emitted as a canonical comma-joined string — the
      // driver's hash compare can't sort/hash an array<bigint> column
      Util.orderAll(m
        .withColumn("duration_s", col("n_bytes") % 30 + 1)
        .withColumn("n_frames", least(col("duration_s"), lit(5)))
        .withColumn("frame_offsets", expr(
          "array_join(transform(sequence(0, n_frames - 1), i -> CAST(i * (n_bytes div n_frames) AS STRING)), ',')"))
        .select(col("doc_id"), col("n_bytes"), col("duration_s"),
          col("n_frames"), col("frame_offsets")))
    }),

    // end-to-end multimodal → feature-embedding → ANN: a deterministic
    // arithmetic stub stands in for the image/audio encoder (same seam as
    // StubCodec — swap in the real model, the plan is unchanged), then
    // exact cosine top-5 of 3 query docs against the corpus through the
    // codegen'd DotProduct kernel. The capability story: media columns
    // flow into the same vector operators as the embeddings table.
    "mm_embed_topk" -> ((s, dir) => {
      val m = decodedMeta(mediaTable(Tables.documents(s, dir)))
      val emb = m.withColumn("v", expr(
        "transform(sequence(0, 7), j -> CAST((n_bytes * (j+1) * 2654435761 + width * 7919 * j + height * 40503 + channels * 97 + j) % 1000 AS DOUBLE) / 500.0 - 1.0)"))
        .withColumn("nrm", graft.functions.VectorFunctions.vecNorm(col("v")))
      val q = emb.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("v").as("va"), col("nrm").as("na"))
      val c = emb.filter(col("doc_id") >= 3)
        .select(col("doc_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nb"))
      // the one ranking contract, shared with ann_* (Similarity.cosineTopK)
      Util.orderAll(Similarity.cosineTopK(q, c, 5))
    }),

    // ViT-style patch grid: resize geometry → 16×16 patch coordinates,
    // long-form (doc_id, patch_id, x0, y0) — the exact fan-out shape a
    // vision-encoder stage consumes (pixel crops slot in at the seam).
    // In-row sequence+explode: no shuffle, patches never leave their doc's
    // partition. Sampled to every 10th doc to keep the oracle dump lean.
    "mm_patch_grid" -> ((s, dir) => {
      val m = decodedMeta(mediaTable(Tables.documents(s, dir)))
        .filter(col("doc_id") % 10 === 0)
        .withColumn("out_w", lit(224))
        .withColumn("out_h", expr("(height * 224) div width"))
        .withColumn("npx", expr("out_w div 16"))
        .withColumn("npy", expr("out_h div 16"))
        .filter(col("npx") >= 1 && col("npy") >= 1)
      Util.orderAll(m
        .select(col("doc_id"), col("npx"), col("npy"),
          explode(expr("sequence(0, npx * npy - 1)")).as("patch_id"))
        .select(col("doc_id"), col("patch_id"),
          expr("(patch_id % npx) * 16").as("x0"),
          expr("(patch_id div npx) * 16").as("y0")))
    }),

    // image near-dup: aHash bands + Hamming verify (see phashPairs)
    "mm_phash_pairs" -> ((s, dir) =>
      Util.orderAll(phashPairs(Tables.documents(s, dir), 3))),

    // REAL audio: genuine WAV payloads decoded by the JDK's PCM codec,
    // framed into 32-sample energy windows — mm_audio_frames' real twin
    "mm_audio_real" -> ((s, dir) =>
      Util.orderAll(audioFramesReal(realAudioTable(Tables.documents(s, dir)), 32))),

    // REAL video: genuine multi-frame GIF containers, ≤5 evenly spaced
    // frames seek-decoded by INDEX — mm_frame_sample's real twin
    "mm_video_real" -> ((s, dir) =>
      Util.orderAll(frameSampleReal(realVideoTable(Tables.documents(s, dir)), 5))),

    // REAL indexed shards: ZIP-of-PNG-frames containers (the WebDataset
    // shard layout), central-directory seek to the sampled entries only —
    // same generative spec and sampling arithmetic as mm_video_real, so
    // the two containers must produce the identical answer
    "mm_shard_real" -> ((s, dir) =>
      Util.orderAll(frameSampleShard(realShardTable(Tables.documents(s, dir)), 5))),

    // cross-modality poison gate: one mixed binary column routed to the
    // codec its format names (image→pixels, wav→PCM frames, gif→stored
    // frames as the uniform n_units), every 37th payload truncated — no
    // corrupt object of ANY modality raises
    "mm_probe_safe" -> ((s, dir) =>
      Util.orderAll(probeMediaSafe(
        realMixedMediaTable(Tables.documents(s, dir)).withColumn("payload",
          expr("CASE WHEN doc_id % 37 = 0 THEN substring(payload, 1, 7)" +
            " ELSE payload END")))
        .select(col("doc_id"), col("format"),
          when(!col("decode_ok"), col("n_bytes")).as("n_bytes_corrupt"),
          col("n_units"), col("decode_ok")))),

    // image poison tolerance: every 37th payload truncated to 7 bytes
    // (kills the PNG signature and the JPEG SOI scan alike) — the safe
    // decode must flag exactly those and decode the rest, no exception
    // anywhere. (Good rows' n_bytes is encoder-output-sized — not
    // closed-form — so the oracle checks byte count on corrupt rows only.)
    "mm_decode_safe" -> ((s, dir) =>
      Util.orderAll(decodeBatchSafe(
        realMediaTable(Tables.documents(s, dir)).withColumn("payload",
          expr("CASE WHEN doc_id % 37 = 0 THEN substring(payload, 1, 7)" +
            " ELSE payload END")))
        .select(col("doc_id"), col("format"),
          when(!col("decode_ok"), col("n_bytes")).as("n_bytes_corrupt"),
          col("width"), col("height"), col("channels"), col("decode_ok")))),

    // REAL codec round-trip: generate genuine PNG/JPEG bytes per doc,
    // decode with ImageIO, verify the decoded geometry/bands against the
    // generative arithmetic spec the oracle replays
    "mm_decode_real" -> ((s, dir) =>
      Util.orderAll(decodeBatch(realMediaTable(Tables.documents(s, dir)))
        .select("doc_id", "format", "width", "height", "channels"))),

    // aHash bands from REAL decoded pixels (PNG half — lossless):
    // bit-for-bit against the oracle's arithmetic pixel replay
    "mm_phash_real" -> ((s, dir) =>
      Util.orderAll(phashRealBands(realMediaTable(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0))))),

    // nearest-neighbor resize of REAL decoded pixels to 8x6, every output
    // sample oracle-checked
    "mm_resize_real" -> ((s, dir) =>
      Util.orderAll(resizeNearest(realMediaTable(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0)), 8, 6))),

    // resize planning: scale to width 224 preserving aspect (integer
    // division both engines) — the geometry half of a real resize UDF
    "mm_resize" -> ((s, dir) => {
      val m = decodedMeta(mediaTable(Tables.documents(s, dir)))
      Util.orderAll(m
        .withColumn("out_w", lit(224))
        .withColumn("out_h", expr("(height * 224) div width"))
        .select(col("doc_id"), col("width"), col("height"),
          col("out_w"), col("out_h"), col("channels")))
    }),
  )

  private val metaCte =
    """WITH meta AS (
      |  SELECT doc_id,
      |    (['png', 'jpeg', 'wav'])[CAST(doc_id % 3 AS INT) + 1] AS format,
      |    octet_length(encode(text)) AS n_bytes,
      |    octet_length(encode(text)) % 640 + 16 AS width,
      |    (octet_length(encode(text)) * 7) % 480 + 16 AS height,
      |    CASE (['png', 'jpeg', 'wav'])[CAST(doc_id % 3 AS INT) + 1]
      |      WHEN 'png' THEN 4 WHEN 'jpeg' THEN 3 ELSE 1 END AS channels
      |  FROM documents
      |)
      |""".stripMargin

  private val videoSampleOracle = Util.wrap(
    """WITH v AS (
      |  SELECT doc_id, CAST(2 + doc_id % 7 AS INT) AS n_frames,
      |    CAST(12 + doc_id % 9 AS INT) AS w,
      |    CAST(10 + (doc_id * 5) % 7 AS INT) AS h
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, n_frames, w, h, CAST(i AS INT) AS sample_i,
      |    CAST(i * (n_frames // least(n_frames, 5)) AS INT) AS frame_idx
      |  FROM v, LATERAL (SELECT unnest(range(0, least(n_frames, 5))) AS i) ii
      |)
      |SELECT doc_id, n_frames, sample_i, frame_idx, w, h,
      |  CAST(sum((doc_id * 31 + frame_idx * 59 + (p % w) * 7
      |            + (p // w) * 13) % 256) AS BIGINT) AS luma_sum
      |FROM s, LATERAL (SELECT unnest(range(0, w * h)) AS p) pp
      |GROUP BY doc_id, n_frames, sample_i, frame_idx, w, h""".stripMargin,
    Seq("doc_id", "n_frames", "sample_i", "frame_idx", "w", "h", "luma_sum"))

  def oracle: Map[String, String] = Map(
    // 1-based string indexing; DuckDB's char split has no trailing empty,
    // so the two engines see identical sample sequences on ASCII text
    "mm_audio_frames" -> Util.wrap(
      """SELECT doc_id, (i - 1) // 32 AS frame, count(*) AS n_samples,
        |  CAST(sum(CAST((ascii(text[i]) - 96) AS BIGINT) * (ascii(text[i]) - 96)) AS BIGINT) AS energy
        |FROM documents, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) ii
        |WHERE doc_id % 3 = 2
        |GROUP BY doc_id, (i - 1) // 32""".stripMargin,
      Seq("doc_id", "frame", "n_samples", "energy")),

    // aHash: 1-based positions ((i-1) matches Spark's 0-based pos), exact
    // integer threshold (cv*64 > t), identical band packing via <<
    "mm_phash_pairs" -> Util.wrap(
      """WITH px AS (
        |  SELECT doc_id, ((i - 1) * 64) // len(text) AS cell, ascii(text[i]) AS v
        |  FROM documents, LATERAL (SELECT unnest(range(1, len(text) + 1)) AS i) ii
        |  WHERE len(text) >= 64
        |), cells AS (
        |  SELECT doc_id, cell, CAST(sum(v) AS BIGINT) AS cv FROM px GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(sum(cv) AS BIGINT) AS t FROM cells GROUP BY 1
        |), bands AS (
        |  SELECT cells.doc_id, cell // 16 AS band,
        |    CAST(sum((CASE WHEN cv * 64 > t THEN 1 ELSE 0 END) << (cell % 16)) AS BIGINT) AS bval
        |  FROM cells JOIN tot USING (doc_id) GROUP BY 1, 2
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(sum(bit_count(xor(fa.bval, fb.bval))) AS BIGINT) AS hamming
        |  FROM cand
        |  JOIN bands fa ON fa.doc_id = doc_a
        |  JOIN bands fb ON fb.doc_id = doc_b AND fb.band = fa.band
        |  GROUP BY doc_a, doc_b
        |) h WHERE hamming <= 3""".stripMargin,
      Seq("doc_a", "doc_b", "hamming")),

    "mm_decode_meta" -> (metaCte + Util.wrap(
      "SELECT doc_id, format, n_bytes, width, height, channels FROM meta",
      Seq("doc_id", "format", "n_bytes", "width", "height", "channels"))),

    // the generative spec of audioBytes — what the Spark side must decode
    // back out of the real WAV payloads, framed like mm_audio_frames
    "mm_audio_real" -> Util.wrap(
      """SELECT doc_id, t // 32 AS frame, count(*) AS n_samples,
        |  CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy
        |FROM (
        |  SELECT doc_id, t, (doc_id * 37 + t * 17 + 29) % 2001 - 1000 AS s
        |  FROM (SELECT doc_id, 64 + doc_id % 101 AS n FROM documents) g,
        |       LATERAL (SELECT unnest(range(0, n)) AS t) tt
        |) px GROUP BY doc_id, t // 32""".stripMargin,
      Seq("doc_id", "frame", "n_samples", "energy")),

    // the generative spec of videoBytes/shardBytes — frame directory +
    // sampled-frame luma sums; GIF and ZIP-shard containers carry the
    // SAME frames, so one oracle pins both queries
    "mm_video_real" -> videoSampleOracle,
    "mm_shard_real" -> videoSampleOracle,

    // the cross-modality contract: per-modality generative unit counts
    // (pixels / PCM frames / stored frames), corrupt rows flagged
    "mm_probe_safe" -> Util.wrap(
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN (CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END)
        |    WHEN 1 THEN 'wav' ELSE 'gif' END AS format,
        |  CASE WHEN doc_id % 37 = 0 THEN 7 ELSE NULL END AS n_bytes_corrupt,
        |  CASE WHEN doc_id % 37 = 0 THEN NULL
        |    WHEN doc_id % 3 = 0
        |      THEN CAST((16 + doc_id % 17) * (16 + (doc_id * 7) % 13) AS BIGINT)
        |    WHEN doc_id % 3 = 1 THEN CAST(64 + doc_id % 101 AS BIGINT)
        |    ELSE CAST(2 + doc_id % 7 AS BIGINT) END AS n_units,
        |  doc_id % 37 <> 0 AS decode_ok
        |FROM documents""".stripMargin,
      Seq("doc_id", "format", "n_bytes_corrupt", "n_units", "decode_ok")),

    // the corrupt-row contract: doc_id % 37 = 0 rows flagged with null
    // geometry (their 7 surviving bytes counted), everything else decodes
    // to the generative spec
    "mm_decode_safe" -> Util.wrap(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CASE WHEN doc_id % 37 = 0 THEN 7 ELSE NULL END AS n_bytes_corrupt,
        |  CASE WHEN doc_id % 37 = 0 THEN NULL
        |    ELSE CAST(16 + doc_id % 17 AS INT) END AS width,
        |  CASE WHEN doc_id % 37 = 0 THEN NULL
        |    ELSE CAST(16 + (doc_id * 7) % 13 AS INT) END AS height,
        |  CASE WHEN doc_id % 37 = 0 THEN NULL
        |    ELSE CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END END AS channels,
        |  doc_id % 37 <> 0 AS decode_ok
        |FROM documents""".stripMargin,
      Seq("doc_id", "format", "n_bytes_corrupt", "width", "height",
        "channels", "decode_ok")),

    // the generative spec of imageBytes/imageWidth/imageHeight — what the
    // Spark side must DECODE back out of the real PNG/JPEG payloads
    "mm_decode_real" -> Util.wrap(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(16 + doc_id % 17 AS INT) AS width,
        |  CAST(16 + (doc_id * 7) % 13 AS INT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS channels
        |FROM documents""".stripMargin,
      Seq("doc_id", "format", "width", "height", "channels")),

    // arithmetic replay of the pixel function luma(d,x,y) =
    // (d*31 + x*7 + y*13) % 256 through the identical aHash tail —
    // row-major p: x = p % w, y = p // w
    "mm_phash_real" -> Util.wrap(
      """WITH g AS (
        |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 7) % 13 AS h
        |  FROM documents WHERE doc_id % 2 = 0
        |), px AS (
        |  SELECT doc_id, (p * 64) // (w * h) AS cell,
        |    (doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256 AS v
        |  FROM g, LATERAL (SELECT unnest(range(0, w * h)) AS p) pp
        |), cells AS (
        |  SELECT doc_id, cell, CAST(sum(v) AS BIGINT) AS cv FROM px GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(sum(cv) AS BIGINT) AS t FROM cells GROUP BY 1
        |)
        |SELECT cells.doc_id, cell // 16 AS band,
        |  CAST(sum((CASE WHEN cv * 64 > t THEN 1 ELSE 0 END) << (cell % 16)) AS BIGINT) AS bval
        |FROM cells JOIN tot USING (doc_id) GROUP BY 1, 2""".stripMargin,
      Seq("doc_id", "band", "bval")),

    // nearest-neighbor sampling: out (i,j) reads src ((i*w) // 8, (j*h) // 6)
    "mm_resize_real" -> Util.wrap(
      """SELECT doc_id, CAST(p % 8 AS INT) AS i, CAST(p // 8 AS INT) AS j,
        |  CAST((doc_id * 31 + ((p % 8) * w // 8) * 7 + ((p // 8) * h // 6) * 13) % 256 AS BIGINT) AS v
        |FROM (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + (doc_id * 7) % 13 AS h
        |      FROM documents WHERE doc_id % 2 = 0) g,
        |     LATERAL (SELECT unnest(range(0, 48)) AS p) pp""".stripMargin,
      Seq("doc_id", "i", "j", "v")),

    "mm_frame_sample" -> (metaCte + Util.wrap(
      """SELECT doc_id, n_bytes,
        |  n_bytes % 30 + 1 AS duration_s,
        |  least(n_bytes % 30 + 1, 5) AS n_frames,
        |  array_to_string(list_transform(range(0, least(n_bytes % 30 + 1, 5)),
        |    i -> i * (n_bytes // least(n_bytes % 30 + 1, 5))), ',') AS frame_offsets
        |FROM meta""".stripMargin,
      Seq("doc_id", "n_bytes", "duration_s", "n_frames", "frame_offsets"))),

    "mm_embed_topk" -> (metaCte +
      """, emb AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), j ->
        |      CAST((n_bytes * (j+1) * 2654435761 + width * 7919 * j + height * 40503 + channels * 97 + j) % 1000 AS DOUBLE) / 500.0 - 1.0) AS v
        |  FROM meta
        |), n AS (
        |  SELECT doc_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM emb
        |)
        |""".stripMargin + Util.wrap(
        """SELECT query_id, neighbor_id, cosine, rk FROM (
          |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
          |    round(list_sum(list_transform(range(1, 9), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) AS cosine,
          |    row_number() OVER (PARTITION BY q.doc_id
          |      ORDER BY round(list_sum(list_transform(range(1, 9), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 6) DESC,
          |               c.doc_id ASC) AS rk
          |  FROM n q JOIN n c ON q.doc_id < 3 AND c.doc_id >= 3
          |) t WHERE rk <= 5""".stripMargin,
        Seq("query_id", "neighbor_id", "cosine", "rk"))),

    "mm_patch_grid" -> (metaCte + Util.wrap(
      """SELECT doc_id, patch_id, (patch_id % npx) * 16 AS x0,
        |  (patch_id // npx) * 16 AS y0
        |FROM (
        |  SELECT doc_id, 224 // 16 AS npx, ((height * 224) // width) // 16 AS npy
        |  FROM meta WHERE doc_id % 10 = 0
        |) g, LATERAL (SELECT unnest(range(0, npx * npy)) AS patch_id) p
        |WHERE npx >= 1 AND npy >= 1""".stripMargin,
      Seq("doc_id", "patch_id", "x0", "y0"))),

    "mm_resize" -> (metaCte + Util.wrap(
      """SELECT doc_id, width, height, 224 AS out_w,
        |  (height * 224) // width AS out_h, channels
        |FROM meta""".stripMargin,
      Seq("doc_id", "width", "height", "out_w", "out_h", "channels"))),
  )
}

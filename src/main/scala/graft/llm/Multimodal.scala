package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.imageio.stream.{ImageInputStream, ImageOutputStream,
  MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed per-partition in batches.
  *
  * North-star extension surface (SURVEY.md §2.4). Seven decode paths, six
  * of them REAL decoders (lossless PNG/BMP/GIF pixels, lossy JPEG
  * round-trip, WAV/PCM samples, animated-GIF frames, gzip inflate, ZIP
  * container walk); only payload classes with NO JDK codec keep a
  * stand-in:
  *
  *  - '''Real image decode''' ([[decodeImageStats]]): PNG/JPEG/BMP/GIF
  *    payloads are decoded to actual pixels with the JDK's built-in
  *    `javax.imageio.ImageIO` (no native dependencies), inside
  *    `mapPartitions` so a production codec/model context amortizes across
  *    a batch. Emitted stats (width/height/per-channel integer pixel sums)
  *    are exact, so a synthesized test pattern is replayable in SQL from
  *    its generating formula — the `multimodal_decode` oracle does exactly
  *    that.
  *  - '''Real audio decode''' ([[decodeAudioStats]]): WAV/PCM payloads are
  *    decoded to actual samples with the JDK's built-in
  *    `javax.sound.sampled.AudioSystem` (again dependency-free), same
  *    `mapPartitions` batch shape. Exact integer stats (sample count,
  *    sample sums, zero-crossing count) make the `multimodal_audio` oracle
  *    replayable from the generating formula.
  *  - '''Real multi-frame video decode''' ([[decodeVideoStats]]): animated
  *    GIF payloads — a genuine moving-picture container the JDK decodes
  *    frame-by-frame — are frame-SAMPLED and each sampled frame decoded to
  *    actual pixels; with an explicit 256-gray palette the encoding is
  *    lossless, so the `multimodal_video` oracle replays exactly.
  *  - '''Real compressed/container decode''' ([[decodeGzipStats]],
  *    [[decodeZipStats]]): gzip members inflate through the JDK's real
  *    DEFLATE (the WARC/WET codec), and ZIP archives are walked
  *    member-by-member (the multi-file container shape) — both with
  *    integer-exact oracles.
  *  - '''Opaque payload featurization''' ([[extractFeatures]]): the ONLY
  *    remaining stand-in, scoped to payload classes with no JDK decoder —
  *    per format: H.264/VP9 (patent-encumbered video codecs, never shipped
  *    in the JDK), MP3/AAC/Opus (`AudioSystem` stock providers read
  *    PCM-family WAV/AU/AIFF only), and learned embedding models (weights,
  *    not a codec). A deterministic byte-hash feature stands in; the
  *    Spark-side dataflow — schema, binary packing, partition-batched
  *    processing shape — is the real thing either way.
  */
object Multimodal {

  /** The bytes `write` puts on a MEMORY-backed image output stream (closed,
    * so flushed, before they are read). Every codec call here builds its
    * streams in memory: ImageIO's own factories default to DISK-backed
    * caches, a temp FILE per read/write, and with every core running a
    * codec task the tasks serialize on temp-directory churn (measured r19:
    * 2-4× slower than the hand-rolled codecs, WORSE with more cores). The
    * JVM-wide `ImageIO.setUseCache` switch is left as it is. */
  private def encoded(write: ImageOutputStream => Unit): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(baos)
    try write(out) finally out.close()
    baos.toByteArray
  }

  /** `img` encoded as `format` by the JDK's ImageIO writer. */
  private def encodedImage(img: BufferedImage, format: String): Array[Byte] =
    encoded(out => require(ImageIO.write(img, format, out),
      s"JDK $format ImageWriter unavailable"))

  /** A memory-backed image input stream over `bytes`. */
  private def decoding(bytes: Array[Byte]): ImageInputStream =
    new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))

  /** Typed metadata carried next to the opaque payload. */
  case class MediaMeta(kind: String, width: Int, height: Int, sampleRateHz: Int)

  case class MediaRecord(media_id: Long, meta: MediaMeta, content: Array[Byte])

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      // None/null = MISSING BLOB (a NULL payload column — dead object-store
      // keys are routine at corpus scale): the row survives with its id and
      // declared kind so the gap is auditable, the content-derived stats
      // are NULL (same convention as SQL's octet_length(NULL))
      n_bytes: Option[Long],
      checksum: Option[Long],
      // byte-hash stand-in features; a real model head would emit e.g. CLIP
      // embeddings here (see decodeImageStats for the real-decode path)
      feature: Array[Float])

  /** An image payload and its id. */
  case class ImageRecord(media_id: Long, content: Array[Byte])

  /** Exact per-image statistics from REAL pixel decode: dimensions plus
    * per-channel integer pixel-value sums (integers so the stats are
    * bit-exact across engines — no floating-point means in the contract). */
  case class ImageStats(
      media_id: Long,
      width: Long,
      height: Long,
      r_sum: Long,
      g_sum: Long,
      b_sum: Long)

  /** Pack any DataFrame with an id and a binary-castable payload column into
    * the canonical media schema. */
  def pack(df: DataFrame, idCol: String, payloadCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      struct(
        lit(kind).as("kind"),
        lit(0).as("width"),
        lit(0).as("height"),
        lit(0).as("sampleRateHz")).as("meta"),
      col(payloadCol).cast("binary").as("content"))

  // ---------------------------------------------------------------- images

  /** Deterministic RGB test pattern for `id`, encoded as a real PNG.
    *
    * `width = 8 + id%8`, `height = 8 + id%5`, and channel c of pixel (x,y)
    * is `(id·31 + x·7 + y·13 + c·101) mod 256` — chosen so every statistic
    * of the decoded image is an integer-arithmetic formula any SQL engine
    * can replay (the multimodal_decode oracle regenerates the sums with a
    * lateral `range` join in DuckDB). PNG is lossless, so decode returns
    * these exact values. */
  def synthesizePng(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizePng needs a non-negative id, got $id")
    val w = 8 + (id % 8).toInt
    val h = 8 + (id % 5).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = id * 31 + x * 7 + y * 13
        val r = (base % 256).toInt
        val g = ((base + 101) % 256).toInt
        val b = ((base + 202) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    encodedImage(img, "png")
  }

  /** REAL pixel decode: each payload is parsed by `ImageIO` (PNG/JPEG/BMP/
    * GIF — the JDK's built-in, dependency-free decoders) and the decoded
    * raster is reduced to exact integer channel sums. Undecodable bytes
    * fail loudly rather than emitting garbage stats.
    *
    * `mapPartitions`, not a per-row UDF: this is the batch boundary where a
    * production pipeline holds its codec context / model session open
    * across rows (the same shape a `mapInPandas` image pipeline has), and
    * the decode stays a narrow map — no shuffle, scales with input
    * partitioning. */
  def decodeImageStats(records: Dataset[ImageRecord]): Dataset[ImageStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // a real model pipeline would open its session here, once per batch
      it.map { rec =>
        val img = ImageIO.read(decoding(rec.content))
        require(img != null,
          s"media_id=${rec.media_id}: payload is not a decodable image")
        val w = img.getWidth
        val h = img.getHeight
        var rs = 0L; var gs = 0L; var bs = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            rs += (rgb >> 16) & 0xFF
            gs += (rgb >> 8) & 0xFF
            bs += rgb & 0xFF
            x += 1
          }
          y += 1
        }
        ImageStats(rec.media_id, w.toLong, h.toLong, rs, gs, bs)
      }
    }
  }

  /** The head of every `document*` pipeline: spread the documents' ids
    * (`doc_id` as `media_id`), then synthesize one payload record per id in
    * a narrow `mapPartitions` stage. */
  private def synthesized[R: Encoder](docs: DataFrame)(make: Long => R): Dataset[R] = {
    import docs.sparkSession.implicits._
    graft.sources.Spread.spread(
      docs.select(col("doc_id").cast("long").as("media_id")).as[Long])
      .mapPartitions(_.map(make))
  }

  /** End-to-end real-decode pipeline over the documents table: synthesize a
    * deterministic PNG per doc_id (standing in for an image payload column,
    * which the synthetic testdata lacks), then decode REAL pixels back out
    * and reduce to exact stats. Encode and decode both live in narrow
    * `mapPartitions` stages — the whole query is shuffle-free. */
  def documentImageStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => ImageRecord(id, synthesizePng(id)))
    decodeImageStats(records).toDF()
  }

  /** Deterministic RGB test pattern for `id`, encoded as a real baseline
    * TIFF by the JDK's built-in TIFF plugin (in `javax.imageio` since
    * JDK 9 — dependency-free like PNG). A DIFFERENT generating formula
    * than [[synthesizePng]] (`width = 8 + id%7`, `height = 8 + id%6`,
    * channel base `id·37 + x·11 + y·17`, offsets 0/97/193) so the TIFF
    * query is its own oracle surface, not an alias of the PNG one.
    * Baseline RGB TIFF is lossless, so decode returns exact values. */
  /** Deterministic 24-bit BMP: width 8+id%5, height 8+id%9, channel base
    * id·41 + x·13 + y·19 with offsets 0/89/181 — its own generating
    * formula so a cross-wired decode path can't pass by accident. BMP is
    * uncompressed RGB, so the REAL JDK decode must reproduce the exact
    * integer channel sums (same contract as [[synthesizeTiff]]). */
  def synthesizeBmp(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeBmp needs a non-negative id, got $id")
    val w = 8 + (id % 5).toInt
    val h = 8 + (id % 9).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = id * 41 + x * 13 + y * 19
        val r = (base % 256).toInt
        val g = ((base + 89) % 256).toInt
        val b = ((base + 181) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    encodedImage(img, "bmp")
  }

  /** End-to-end real-BMP pipeline over the documents table — the
    * uncompressed-DIB sibling of [[documentTiffStats]], decoded through
    * the same format-agnostic [[decodeImageStats]] path (ImageIO
    * dispatches on magic bytes). Narrow `mapPartitions`, shuffle-free. */
  def documentBmpStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => ImageRecord(id, synthesizeBmp(id)))
    decodeImageStats(records).toDF()
  }

  /** Netpbm P2 (ASCII PGM) synth — the ZERO-CODEC image format: pure text,
    * parsed by [[decodePgmStats]]' own hand-rolled reader rather than any
    * ImageIO plugin, which makes it the one image path whose entire decode
    * stack is in this repo (the others trust the JDK's readers). A comment
    * line is embedded on purpose so the parser's comment handling is
    * exercised by every record. `width = 8 + id%6`, `height = 8 + id%7`,
    * pixel (x, y) = `(id·43 + x·7 + y·23) mod 256`, maxval 255. */
  def synthesizePgm(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizePgm needs a non-negative id, got $id")
    val w = 8 + (id % 6).toInt
    val h = 8 + (id % 7).toInt
    val sb = new StringBuilder
    sb.append("P2\n# graft pattern ").append(id).append('\n')
    sb.append(w).append(' ').append(h).append("\n255\n")
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        sb.append((id * 43 + x * 7 + y * 23) % 256)
        sb.append(if (x == w - 1) '\n' else ' ')
        x += 1
      }
      y += 1
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  /** Exact per-image stats from the hand-rolled P2 parser:
    * `(media_id, width, height, gray_sum, gray_max)`. */
  case class PgmStats(
      media_id: Long, width: Long, height: Long,
      gray_sum: Long, gray_max: Long)

  /** REAL ASCII-PGM decode with NO codec dependency: '#' comments stripped
    * to end-of-line, whitespace tokenization, magic/shape/maxval header,
    * exactly width·height sample values — a malformed payload fails
    * loudly. Narrow `mapPartitions`, shuffle-free, like every decode here. */
  def decodePgmStats(records: Dataset[ImageRecord]): Dataset[PgmStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { rec =>
        val text = new String(rec.content, java.nio.charset.StandardCharsets.US_ASCII)
        val toks = text.linesIterator
          .map { l => val i = l.indexOf('#'); if (i >= 0) l.substring(0, i) else l }
          .flatMap(_.split("\\s+"))
          .filter(_.nonEmpty)
          .toArray
        require(toks.nonEmpty && toks(0) == "P2",
          s"media_id=${rec.media_id}: not an ASCII PGM (P2) payload")
        require(toks.length >= 4, s"media_id=${rec.media_id}: truncated header")
        val w = toks(1).toInt; val h = toks(2).toInt; val maxVal = toks(3).toInt
        require(w > 0 && h > 0 && maxVal > 0 && maxVal <= 65535,
          s"media_id=${rec.media_id}: bad PGM shape ${w}x$h max $maxVal")
        require(toks.length == 4 + w * h,
          s"media_id=${rec.media_id}: expected ${w * h} samples, " +
            s"got ${toks.length - 4}")
        var s = 0L; var mx = 0L; var i = 4
        while (i < toks.length) {
          val v = toks(i).toLong
          require(v >= 0 && v <= maxVal,
            s"media_id=${rec.media_id}: sample $v out of [0, $maxVal]")
          s += v; if (v > mx) mx = v; i += 1
        }
        PgmStats(rec.media_id, w.toLong, h.toLong, s, mx)
      }
    }
  }

  /** End-to-end zero-codec pipeline over the documents table — synthesize
    * an ASCII PGM per doc_id, decode it back through the repo's own
    * parser. */
  def documentPgmStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    decodePgmStats(
      synthesized(docs)(id => ImageRecord(id, synthesizePgm(id)))).toDF()
  }

  def synthesizeTiff(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeTiff needs a non-negative id, got $id")
    val w = 8 + (id % 7).toInt
    val h = 8 + (id % 6).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = id * 37 + x * 11 + y * 17
        val r = (base % 256).toInt
        val g = ((base + 97) % 256).toInt
        val b = ((base + 193) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    encodedImage(img, "tiff")
  }

  /** End-to-end real-TIFF pipeline over the documents table: synthesize a
    * deterministic baseline TIFF per doc_id, decode REAL pixels back out
    * through the same [[decodeImageStats]] path (ImageIO dispatches on the
    * container's magic bytes — nothing image-stats-side is format-aware).
    * Narrow `mapPartitions` stages end to end, shuffle-free. */
  def documentTiffStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => ImageRecord(id, synthesizeTiff(id)))
    decodeImageStats(records).toDF()
  }

  /** Perceptual difference-hash of a decoded image: gray = r+g+b at a
    * fixed 9×8 nearest-neighbor sample grid (`xs(i) = i·(w−1) div 8`,
    * `ys(j) = j·(h−1) div 7` — integer-exact, no empty pooling boxes at
    * any size), bit `j·8+i` set when the right sample outgrows the left.
    * The standard near-dup fingerprint for image corpora: 64 bits per
    * image, robust to re-encode/resize, exact integer arithmetic end to
    * end (and for the lossless test pattern, SQL-replayable from the
    * generating formula). */
  case class ImageHash(media_id: Long, dhash: Long)

  def imageDHash(records: Dataset[ImageRecord]): Dataset[ImageHash] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { rec =>
        val img = ImageIO.read(decoding(rec.content))
        require(img != null,
          s"media_id=${rec.media_id}: payload is not a decodable image")
        val w = img.getWidth
        val h = img.getHeight
        def gray(x: Int, y: Int): Int = {
          val rgb = img.getRGB(x, y)
          ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        }
        val xs = Array.tabulate(9)(i => i * (w - 1) / 8)
        val ys = Array.tabulate(8)(j => j * (h - 1) / 7)
        var hash = 0L
        var j = 0
        while (j < 8) {
          var i = 0
          while (i < 8) {
            if (gray(xs(i + 1), ys(j)) > gray(xs(i), ys(j)))
              hash |= 1L << (j * 8 + i)
            i += 1
          }
          j += 1
        }
        ImageHash(rec.media_id, hash)
      }
    }
  }

  /** Image near-dup pairs over the document corpus: REAL PNG decode →
    * [[imageDHash]] → SimHash-style 4×16-bit banded self-join (k bit
    * flips can break at most k of the 4 bands, so any pair with hamming
    * ≤ 3 shares at least one exact band — the pigeonhole guarantee) →
    * exact `bit_count(xor)` verify. Never an
    * all-pairs comparison: candidates are band-bucket colocated, the
    * classic LSH shape at image-corpus scale.
    *
    * Output `(media_a, media_b, hamming)`, each unordered pair once. */
  def imageNearDupPairs(
      spark: SparkSession, docs: DataFrame, maxHamming: Int): DataFrame = {
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0,3] (4 bands tolerate at most 3 flips " +
        s"by pigeonhole): got $maxHamming")
    val records = synthesized(docs)(id => ImageRecord(id, synthesizePng(id)))
    val hashes = imageDHash(records).toDF()
    val banded = hashes.select(col("media_id"), col("dhash"),
      explode(expr(
        "array(0, 1, 2, 3)")).as("band"))
      .withColumn("band_val",
        expr("shiftright(dhash, cast(band * 16 as int)) & 65535"))
    val a = banded.select(col("media_id").as("media_a"),
      col("dhash").as("__ha"), col("band"), col("band_val"))
    val b = banded.select(col("media_id").as("media_b"),
      col("dhash").as("__hb"), col("band"), col("band_val"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("media_a") < col("media_b"))
      .select("media_a", "media_b", "__ha", "__hb").distinct()
      .withColumn("hamming", expr("bit_count(__ha ^ __hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("media_a", "media_b", "hamming")
  }

  // ------------------------------------------------------------ jpeg (lossy)

  /** Outcome of a REAL lossy JPEG round-trip: exact dimensions plus an
    * integer-pinned tolerance assertion against the generating pattern.
    * `max_abs_dev` is the real measured per-channel deviation of the
    * DCT-decoded pixels from the source pattern (spec-pinned to be > 0 —
    * proof the lossy codec actually ran — and ≤ the tolerance); only the
    * exactly-replayable fields enter the SQL oracle. */
  case class JpegStats(
      media_id: Long,
      width: Long,
      height: Long,
      n_pixels: Long,
      within_tol: Boolean,
      max_abs_dev: Long)

  /** Per-channel source-pattern value at (x, y) for `id`: a smooth linear
    * ramp (no wrap, no hard edges — the pattern class JPEG's 8×8 DCT
    * compresses with small bounded error). Channel offsets depend on id. */
  private[graft] def jpegPattern(id: Long, x: Int, y: Int, c: Int): Int =
    (64 + ((id * 7 + c * 37) % 32) + x * 2 + y).toInt

  /** MCU-aligned dimensions (multiples of 8, so no partial-block edge
    * effects inflate the codec error bound): 16..32 × 16..24. */
  private[graft] def jpegDims(id: Long): (Int, Int) =
    (8 * (2 + (id % 3).toInt), 8 * (2 + (id % 2).toInt))

  /** Deterministic smooth RGB pattern for `id`, encoded as a REAL JPEG by
    * the JDK's `ImageIO` JPEG writer (default quality, 4:2:0 chroma
    * subsampling) — a genuinely lossy DCT codec, unlike the PNG path. */
  def synthesizeJpeg(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeJpeg needs a non-negative id, got $id")
    val (w, h) = jpegDims(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (jpegPattern(id, x, y, 0) << 16) |
            (jpegPattern(id, x, y, 1) << 8) |
            jpegPattern(id, x, y, 2))
        x += 1
      }
      y += 1
    }
    encodedImage(img, "jpg")
  }

  /** REAL DCT decode of JPEG payloads (JDK `ImageIO` Huffman+IDCT), with
    * the decoded raster compared pixel-by-pixel against the generating
    * pattern. Lossy codecs can't have exact pixel oracles, so the contract
    * is integer-pinned instead: dimensions and pixel count are exact, and
    * `within_tol` asserts the measured deviation stays under `tol` — a
    * garbage decode (or a codec swap) flips it false and fails the oracle
    * hash-compare loudly. Same narrow `mapPartitions` batch shape as the
    * other decoders. */
  def decodeJpegStats(
      records: Dataset[ImageRecord], tol: Long = 16L): Dataset[JpegStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { rec =>
        val img = ImageIO.read(decoding(rec.content))
        require(img != null,
          s"media_id=${rec.media_id}: payload is not a decodable image")
        val w = img.getWidth
        val h = img.getHeight
        var maxDev = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            var c = 0
            while (c < 3) {
              val dec = (rgb >> (16 - 8 * c)) & 0xFF
              val dev = math.abs(dec - jpegPattern(rec.media_id, x, y, c)).toLong
              if (dev > maxDev) maxDev = dev
              c += 1
            }
            x += 1
          }
          y += 1
        }
        JpegStats(rec.media_id, w.toLong, h.toLong, w.toLong * h,
          maxDev <= tol, maxDev)
      }
    }
  }

  /** End-to-end lossy round-trip over the documents table: synthesize a
    * JPEG per doc_id, decode REAL DCT pixels back, emit the integer-pinned
    * stats. Encode and decode are narrow `mapPartitions` stages — the whole
    * query is shuffle-free. */
  def documentJpegStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => ImageRecord(id, synthesizeJpeg(id)))
    decodeJpegStats(records).toDF()
  }

  // ----------------------------------------------------------------- audio

  /** An audio payload (a complete WAV file) and its id. */
  case class AudioRecord(media_id: Long, content: Array[Byte])

  /** Exact per-clip statistics from REAL PCM decode: sample count and rate
    * plus integer sample sums and the zero-crossing count — all integers so
    * the contract is bit-exact across engines. */
  case class AudioStats(
      media_id: Long,
      n_samples: Long,
      sample_rate: Long,
      s_sum: Long,
      abs_sum: Long,
      zero_crossings: Long)

  /** Sample `i` of clip `id`: a signed 16-bit value from an integer formula,
    * so every statistic of the decoded clip is replayable in plain SQL. */
  private[llm] def audioSample(id: Long, i: Int): Int =
    ((id * 37 + i * 17) % 4001 - 2000).toInt

  private[llm] def audioNumSamples(id: Long): Int = 64 + (id % 32).toInt

  private val AudioRateHz = 8000

  /** Deterministic mono 16-bit PCM clip for `id`, encoded as a real WAV file
    * by the JDK's `javax.sound.sampled` writer (no native dependencies).
    *
    * `n_samples = 64 + id%32` and sample `i` is
    * `(id·37 + i·17) mod 4001 − 2000` — integer arithmetic only, so the
    * multimodal_audio oracle regenerates every decoded statistic with a
    * lateral `range` join in DuckDB. PCM is lossless, so decode returns
    * these exact values. */
  def synthesizeWav(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeWav needs a non-negative id, got $id")
    val n = audioNumSamples(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSample(id, i)
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new AudioFormat(AudioRateHz.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new ByteArrayOutputStream()
    val written = AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    require(written > 0, "JDK WAV AudioFileWriter unavailable")
    baos.toByteArray
  }

  /** REAL audio decode: each payload is parsed by `AudioSystem` (WAV/PCM —
    * the JDK's built-in, dependency-free decoder) and the decoded sample
    * stream is reduced to exact integer stats. Undecodable bytes fail
    * loudly rather than emitting garbage.
    *
    * Same batch shape as [[decodeImageStats]]: `mapPartitions`, a narrow
    * map with no shuffle — the boundary where a production pipeline would
    * hold a codec context open across rows. */
  def decodeAudioStats(records: Dataset[AudioRecord]): Dataset[AudioStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { rec =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(rec.content))
        val fmt = ais.getFormat
        require(
          fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
          s"media_id=${rec.media_id}: expected mono 16-bit LE PCM, got $fmt")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L; var absSum = 0L; var crossings = 0L
        var prevNeg = false
        var i = 0
        while (i < n) {
          val s = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toInt
          sum += s
          absSum += math.abs(s)
          val neg = s < 0
          if (i > 0 && neg != prevNeg) crossings += 1
          prevNeg = neg
          i += 1
        }
        AudioStats(rec.media_id, n.toLong, fmt.getSampleRate.toLong, sum, absSum, crossings)
      }
    }
  }

  /** End-to-end real-decode audio pipeline over the documents table:
    * synthesize a deterministic WAV per doc_id (standing in for an audio
    * payload column, which the synthetic testdata lacks), then decode REAL
    * PCM samples back out and reduce to exact stats. Shuffle-free narrow
    * maps end to end. */
  def documentAudioStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => AudioRecord(id, synthesizeWav(id)))
    decodeAudioStats(records).toDF()
  }

  // ----------------------------------------------------------------- video

  /** A video payload (a complete animated-GIF file) and its id. */
  case class VideoRecord(media_id: Long, content: Array[Byte])

  /** Exact per-clip statistics from REAL multi-frame decode: frame count,
    * dimensions, and the integer gray-value sum over the SAMPLED frames
    * (every `frameStride`-th) — the frame-sampling shape a video feature
    * pipeline has, with integer stats so the contract is bit-exact. */
  case class VideoStats(
      media_id: Long,
      n_frames: Long,
      width: Long,
      height: Long,
      sampled_gray_sum: Long)

  private def grayPalette = {
    val ramp = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Deterministic multi-frame grayscale animation for `id`, encoded as a
    * real animated GIF by the JDK's `ImageIO` sequence writer (no native
    * dependencies). `n_frames = 2 + id%3`, `width = 8 + id%4`,
    * `height = 8 + id%3`, and pixel (x,y) of frame f is gray value
    * `(id·13 + f·29 + x·7 + y·3) mod 256` — the frames use an explicit
    * 256-gray palette, so GIF encoding is lossless by construction and the
    * multimodal_video oracle can replay every decoded statistic from the
    * formula. */
  def synthesizeGif(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeGif needs a non-negative id, got $id")
    val nF = 2 + (id % 3).toInt
    val w = 8 + (id % 4).toInt
    val h = 8 + (id % 3).toInt
    val writers = ImageIO.getImageWritersByFormatName("gif")
    require(writers.hasNext, "JDK GIF ImageWriter unavailable")
    val writer = writers.next()
    encoded { ios =>
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nF) {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((id * 13 + f * 29 + x * 7 + y * 3) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
      writer.dispose()
    }
  }

  /** REAL multi-frame decode with frame sampling: each payload is parsed by
    * the JDK's GIF `ImageReader`, every `frameStride`-th frame is decoded
    * to actual pixels, and the clip reduces to exact integer stats. The
    * frame-sample-then-featurize shape of a production video pipeline, with
    * a real container and a real decoder. Same `mapPartitions` batch
    * boundary as the image/audio paths. */
  def decodeVideoStats(
      records: Dataset[VideoRecord], frameStride: Int = 2): Dataset[VideoStats] = {
    require(frameStride >= 1, "frameStride must be at least 1")
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { rec =>
        val readers = ImageIO.getImageReadersByFormatName("gif")
        require(readers.hasNext, "JDK GIF ImageReader unavailable")
        val reader = readers.next()
        reader.setInput(decoding(rec.content))
        val n = reader.getNumImages(true)
        require(n > 0, s"media_id=${rec.media_id}: payload is not a decodable GIF")
        var graySum = 0L
        var w = 0L; var h = 0L
        var f = 0
        while (f < n) {
          if (f % frameStride == 0) {
            val img = reader.read(f)
            w = img.getWidth.toLong; h = img.getHeight.toLong
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                graySum += img.getRGB(x, y) & 0xFF
                x += 1
              }
              y += 1
            }
          }
          f += 1
        }
        reader.dispose()
        VideoStats(rec.media_id, n.toLong, w, h, graySum)
      }
    }
  }

  /** End-to-end real-decode video pipeline over the documents table:
    * synthesize a deterministic animated GIF per doc_id, decode REAL frames
    * back out with frame sampling, reduce to exact stats. Shuffle-free
    * narrow maps end to end. */
  def documentVideoStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => VideoRecord(id, synthesizeGif(id)))
    decodeVideoStats(records).toDF()
  }

  // ------------------------------------------- compressed (gzip) payloads

  /** A gzip-compressed text payload (a complete gzip member, the WARC/WET
    * web-archive unit) and its id. */
  case class GzipRecord(media_id: Long, content: Array[Byte])

  /** Exact per-payload statistics from REAL DEFLATE decode: decompressed
    * byte count, byte-value sum, and token count — all integers so the
    * contract is bit-exact across engines. */
  case class GzipStats(
      media_id: Long,
      n_bytes: Long,
      byte_sum: Long,
      n_tokens: Long)

  /** Deterministic ASCII text for `id`: `20 + id%17` tokens, token `j` is
    * `"w" + (id·7 + j) mod 23` — integer arithmetic only, so every decoded
    * statistic replays in plain SQL. */
  private[llm] def archiveText(id: Long): String = {
    val n = 20 + (id % 17).toInt
    (0 until n).map(j => "w" + ((id * 7 + j) % 23)).mkString(" ")
  }

  /** [[archiveText]] compressed as a real gzip member by the JDK's
    * `java.util.zip.GZIPOutputStream` (RFC 1952 over RFC 1951 DEFLATE — no
    * native dependencies). Lossless, so decode returns the exact text. */
  def synthesizeGzip(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeGzip needs a non-negative id, got $id")
    val baos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(baos)
    gz.write(archiveText(id).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    gz.close()
    baos.toByteArray
  }

  /** REAL DEFLATE decode: each payload is inflated by the JDK's
    * `GZIPInputStream` — the codec path of every web-archive ingest
    * (CommonCrawl WARC/WET members are gzip) — and the decompressed bytes
    * reduce to exact integer stats. Undecodable bytes fail loudly.
    *
    * Same batch shape as [[decodeImageStats]]: `mapPartitions`, a narrow
    * shuffle-free map. NB the COMPRESSED size is deliberately NOT in the
    * output contract — DEFLATE encoder output is implementation-defined
    * (level, zlib build), only the decompressed stream is canonical. */
  def decodeGzipStats(records: Dataset[GzipRecord]): Dataset[GzipStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { rec =>
        val in = new java.util.zip.GZIPInputStream(
          new ByteArrayInputStream(rec.content))
        val bytes = in.readAllBytes()
        in.close()
        var sum = 0L
        var tokens = if (bytes.isEmpty) 0L else 1L
        var i = 0
        while (i < bytes.length) {
          sum += bytes(i) & 0xFF
          if (bytes(i) == ' '.toByte) tokens += 1
          i += 1
        }
        GzipStats(rec.media_id, bytes.length.toLong, sum, tokens)
      }
    }
  }

  /** End-to-end real-codec archive pipeline over the documents table:
    * gzip a deterministic text per doc_id (standing in for a WET member
    * column), inflate the REAL bytes back out, reduce to exact stats.
    * Shuffle-free narrow maps end to end. */
  def documentGzipStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => GzipRecord(id, synthesizeGzip(id)))
    decodeGzipStats(records).toDF()
  }

  // --------------------------------------------- ZIP container (multi-member)

  /** A complete ZIP archive payload and its id — the multi-member container
    * shape (one blob → many files) that a crawl-dump or dataset-shard
    * ingest walks. */
  case class ZipRecord(media_id: Long, content: Array[Byte])

  /** One row per archive MEMBER from a real container walk: entry name plus
    * exact integer stats of the inflated member bytes. */
  case class ZipMemberStats(
      media_id: Long,
      member_name: String,
      n_bytes: Long,
      byte_sum: Long)

  /** Number of members in clip `id`'s archive: 2 + id%3. */
  private[llm] def zipNumMembers(id: Long): Int = 2 + (id % 3).toInt

  /** [[archiveText]] members wrapped in a REAL ZIP container by the JDK's
    * `java.util.zip.ZipOutputStream` (central directory, per-entry DEFLATE —
    * no native dependencies). Member `m` is named `m<m>.txt` and holds
    * `archiveText(id·5 + m)`; entry timestamps are pinned so the archive
    * bytes are deterministic (they don't affect decode either way). */
  def synthesizeZip(id: Long): Array[Byte] = {
    require(id >= 0, s"synthesizeZip needs a non-negative id, got $id")
    val baos = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(baos)
    var m = 0
    while (m < zipNumMembers(id)) {
      val e = new java.util.zip.ZipEntry(s"m$m.txt")
      e.setTime(0L)
      z.putNextEntry(e)
      z.write(archiveText(id * 5 + m)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      z.closeEntry()
      m += 1
    }
    z.close()
    baos.toByteArray
  }

  /** REAL container walk: each payload is opened by the JDK's
    * `ZipInputStream`, every member inflated (DEFLATE) and reduced to exact
    * integer stats — a flatMap (one archive row → one row per member), the
    * container half of the web-archive ingest path [[decodeGzipStats]]'s
    * single-member gzip covers. Undecodable bytes fail loudly. As with
    * gzip, the COMPRESSED member sizes are deliberately not in the output
    * contract — encoder output is implementation-defined; member names and
    * inflated streams are canonical. */
  def decodeZipStats(records: Dataset[ZipRecord]): Dataset[ZipMemberStats] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { rec =>
        val in = new java.util.zip.ZipInputStream(
          new ByteArrayInputStream(rec.content))
        val out = scala.collection.mutable.ArrayBuffer.empty[ZipMemberStats]
        var e = in.getNextEntry
        while (e != null) {
          val bytes = in.readAllBytes()
          var sum = 0L
          var i = 0
          while (i < bytes.length) { sum += bytes(i) & 0xFF; i += 1 }
          out += ZipMemberStats(rec.media_id, e.getName, bytes.length.toLong, sum)
          e = in.getNextEntry
        }
        in.close()
        out
      }
    }
  }

  /** End-to-end real-container pipeline over the documents table: zip
    * deterministic members per doc_id, walk the REAL central directory and
    * inflate every member back out. Shuffle-free narrow flatMap. */
  def documentZipStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val records = synthesized(docs)(id => ZipRecord(id, synthesizeZip(id)))
    decodeZipStats(records).toDF()
  }

  // ------------------------------------------------------- opaque payloads

  /** Deterministic byte-hash feature for payloads with no decoder in this
    * environment (a real pipeline would run its codec/model here; the
    * image path above shows the same dataflow with a real decoder). */
  private def byteHashFeature(content: Array[Byte], dims: Int): Array[Float] = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < content.length) { h = (h ^ content(i)) * 0x100000001B3L; i += 1 }
    val out = new Array[Float](dims)
    var d = 0
    var z = h
    while (d < dims) {
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      out(d) = ((z >>> 40).toInt & 0xFFFF) / 65535.0f
      d += 1
    }
    out
  }

  private def checksum(content: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < content.length) { h = (h ^ content(i)) * 0x100000001B3L; i += 1 }
    h
  }

  /** Per-partition batched feature extraction for opaque payloads. The
    * mapPartitions boundary is where codec/model setup amortizes per batch
    * (same shape a Pandas-UDF `mapInPandas` pipeline has in PySpark). */
  def extractFeatures(records: Dataset[MediaRecord], dims: Int = 8): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        if (r.content == null)
          MediaFeatures(r.media_id, r.meta.kind, None, None, null)
        else
          MediaFeatures(
            media_id = r.media_id,
            kind = r.meta.kind,
            n_bytes = Some(r.content.length.toLong),
            checksum = Some(checksum(r.content)),
            feature = byteHashFeature(r.content, dims))
      }
    }
  }

  /** End-to-end demo pipeline over the documents table: text bytes stand in
    * for an opaque payload; outputs are deterministic and partially
    * SQL-checkable (n_bytes). */
  def documentMediaFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val packed = pack(docs, "doc_id", "text", "text/plain")
    val records = graft.sources.Spread.spread(packed.as[MediaRecord])
    extractFeatures(records).toDF()
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A raw media payload: opaque bytes + typed metadata (SURVEY §2.K
  * `multimodal_cols`). In a real pipeline `data` is an image/audio/video
  * blob column read from parquet. */
case class MediaBlob(doc_id: Long, data: Array[Byte])

/** Decoded media features (schema of the decode stage's output batches).
  * `n_bytes` is the DECODED sample count (width × height × channels). */
case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
                     channels: Int, checksum: Long)

/** SURVEY.md §2.K — multimodal columns: opaque binary payloads with typed
  * metadata carried through relational ops, plus a REAL decode /
  * frame-sample stage as partition-wise typed transforms.
  *
  * The codec is `javax.imageio` (pure JVM, in-container): each document's
  * bytes deterministically synthesize a real PNG (and, for the video
  * path, a length-prefixed multi-PNG container) in one `mapPartitions`
  * stage, and a SECOND `mapPartitions` stage — the codec seam a
  * Pandas-UDF / JNI decoder would occupy — parses those bytes back with
  * `ImageIO.read`, emitting width/height/channels and a pixel checksum.
  * Because the pixel matrix is a pure function of the doc bytes, the
  * DuckDB oracle reproduces dimensions AND checksums exactly — the
  * decode is real and still hash-checked.
  */
object Multimodal extends graft.QueryModule {

  import java.awt.image.BufferedImage
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
    DataInputStream, DataOutputStream}
  import javax.imageio.ImageIO

  // never spill ImageInputStream caches to executor-local tmp files
  ImageIO.setUseCache(false)

  /** Deterministic pixel value: byte `(i + shift) mod len` of the doc
    * (0 for an empty payload) — the construction the oracle mirrors. */
  private def pixelValue(data: Array[Byte], i: Int, shift: Int): Int =
    if (data.isEmpty) 0 else data((i + shift) % data.length) & 0xff

  /** Synthesize one REAL PNG of the given dimensions whose pixels derive
    * from the payload bytes: channel sample j of pixel p = byte
    * (3p+j+shift) mod len. */
  private[ext] def synthesizePng(data: Array[Byte], shift: Int,
                                 w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var p = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = pixelValue(data, 3 * p, shift)
        val g = pixelValue(data, 3 * p + 1, shift)
        val b = pixelValue(data, 3 * p + 2, shift)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        p += 1; x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private val labelDim = Seq(
    (0, "photo"), (1, "chart"), (2, "scan"), (3, "render"), (4, "frame"),
    (5, "crop"), (6, "thumb"), (7, "tile"), (8, "mask"), (9, "page"))

  /** Arrays (list<float>) surviving filter → broadcast join → projection —
    * the multimodal-metadata path (oracle via DuckDB list functions). */
  private def mmMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = broadcast(labelDim.toDF("label_id", "label_name"))
    Tables.embeddings(s, d)
      .filter(col("label").isin(1, 2, 3))
      .join(labels, col("label") === col("label_id"))
      .select(col("vec_id"), col("label_name"),
        size(col("embedding")).as("n_dims"),
        array_join(
          transform(slice(col("embedding"), 1, 4),
            x => floor(x.cast("double") * 1e6).cast("long").cast("string")),
          ",").as("head"),
        sqrt(SimSearch.dot(col("embedding"), col("embedding"))).as("l2_norm"))
      .orderBy("vec_id")
  }

  /** Opaque binary column ops: byte length, content hash, base64 framing
    * (`BinaryType` end-to-end; text bytes stand in for media bytes). */
  private def mmBinary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text").cast("binary")).as("n_bytes"),
      sha2(col("text").cast("binary"), 256).as("sha"),
      base64(substring(col("text"), 1, 12).cast("binary")).as("head_b64"))
      .orderBy("doc_id")

  /** ENCODE stage: one real PNG per document (w = len%16+1,
    * h = len%12+1, pixels from doc bytes). A separate mapPartitions
    * stage from the decoder — the decoder only ever sees opaque bytes. */
  def encodeImages(blobs: Iterator[MediaBlob]): Iterator[MediaBlob] =
    blobs.map(b => MediaBlob(b.doc_id,
      synthesizePng(b.data, 0, b.data.length % 16 + 1, b.data.length % 12 + 1)))

  /** REAL media decoder at the codec seam: `ImageIO.read` over the
    * payload bytes, emitting the raster's true width/height/band-count
    * and the sum of every RGB sample. The per-partition batch shape is
    * what a Pandas-UDF / JNI decoder would use. */
  def decodeImages(blobs: Iterator[MediaBlob]): Iterator[MediaMeta] =
    blobs.map { b =>
      val img = ImageIO.read(new ByteArrayInputStream(b.data))
      val (w, h) = (img.getWidth, img.getHeight)
      val channels = img.getRaster.getNumBands
      var checksum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          checksum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      MediaMeta(b.doc_id, w * h * channels, w, h, channels, checksum)
    }

  /** Decode/feature-extract as two partition-wise typed transforms over
    * a binary column: synthesize real PNGs, then decode them with
    * javax.imageio. Oracle-checked: dims and pixel checksum are pure
    * functions of the doc bytes. */
  private def mmDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .mapPartitions(decodeImages)
      .toDF()
      .orderBy("doc_id")
  }

  /** ENCODE stage for the video path: a length-prefixed multi-PNG
    * container — int32 frame count, int32 per-frame byte lengths, then
    * the concatenated PNG streams. Frame f's image is w=(len+f)%8+1 ×
    * h=(len+f)%6+1 with pixels read at byte offset shifted by f. */
  def encodeContainers(blobs: Iterator[MediaBlob]): Iterator[MediaBlob] =
    blobs.map { b =>
      val nFrames = b.data.length % 5 + 1
      val frames = (0 until nFrames).map { f =>
        synthesizePng(b.data, f,
          (b.data.length + f) % 8 + 1, (b.data.length + f) % 6 + 1)
      }
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      out.writeInt(nFrames)
      frames.foreach(fr => out.writeInt(fr.length))
      frames.foreach(out.write(_))
      out.flush()
      MediaBlob(b.doc_id, bytes.toByteArray)
    }

  /** REAL demuxer + frame sampler: parse the container header, decode
    * every 2nd frame with `ImageIO.read`, emit one row per sampled frame
    * with its true dims' sample count and pixel checksum. */
  def demuxFrames(blobs: Iterator[MediaBlob]): Iterator[(Long, Int, Int, Long)] =
    blobs.flatMap { b =>
      val in = new DataInputStream(new ByteArrayInputStream(b.data))
      val nFrames = in.readInt()
      val lengths = (0 until nFrames).map(_ => in.readInt())
      lengths.zipWithIndex.flatMap { case (len, idx) =>
        val frame = new Array[Byte](len)
        in.readFully(frame)
        if (idx % 2 != 0) None
        else {
          val img = ImageIO.read(new ByteArrayInputStream(frame))
          var checksum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              checksum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
                (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          Some((b.doc_id, idx,
            img.getWidth * img.getHeight * img.getRaster.getNumBands,
            checksum))
        }
      }
    }

  /** Frame sampling over binary payloads: real container demux + PNG
    * decode, oracle-checked per frame. */
  private def mmFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeContainers)
      .mapPartitions(demuxFrames)
      .toDF("doc_id", "frame_idx", "n_bytes", "checksum")
      .orderBy("doc_id", "frame_idx")
  }

  /** RESIZE stage: nearest-neighbor downscale to `tw`×`th` and
    * re-encode. Sampling is pure integer arithmetic — src pixel of
    * output (x, y) is (x·w div tw, y·h div th) via `getRGB`, never
    * Graphics2D (whose scaling/antialiasing is renderer-dependent) —
    * so the resized raster is bit-deterministic and the oracle can
    * restate every resized pixel from the construction. */
  def resizeImages(tw: Int, th: Int)(
      blobs: Iterator[MediaBlob]): Iterator[MediaBlob] =
    blobs.map { b =>
      val img = ImageIO.read(new ByteArrayInputStream(b.data))
      val (w, h) = (img.getWidth, img.getHeight)
      val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          out.setRGB(x, y, img.getRGB(x * w / tw, y * h / th))
          x += 1
        }
        y += 1
      }
      val bytes = new ByteArrayOutputStream()
      ImageIO.write(out, "png", bytes)
      MediaBlob(b.doc_id, bytes.toByteArray)
    }

  /** Resize pipeline [N]: encode → nearest-neighbor resize to 8×6 →
    * decode (the SAME decode stage mm_decode uses — the resized bytes
    * are a real PNG). Three partition-wise stages, no shuffle until the
    * output sort. */
  private def mmResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .mapPartitions(resizeImages(8, 6))
      .mapPartitions(decodeImages)
      .toDF()
      .orderBy("doc_id")
  }

  /** AVERAGE-HASH stage: decode, nearest-neighbor sample to 8×8,
    * integer grayscale (r + 2g + b) div 4, threshold each cell against
    * the exact mean via the cross-multiplied compare g·64 ≥ Σg (no
    * division, no floats), emit the 64 bits as a string. The standard
    * perceptual-dedup fingerprint, end-to-end integer-deterministic. */
  def ahashImages(blobs: Iterator[MediaBlob]): Iterator[(Long, String)] =
    blobs.map { b =>
      val img = ImageIO.read(new ByteArrayInputStream(b.data))
      val (w, h) = (img.getWidth, img.getHeight)
      val gray = new Array[Int](64)
      var sum = 0L
      var q = 0
      while (q < 64) {
        val rgb = img.getRGB((q % 8) * w / 8, (q / 8) * h / 8)
        gray(q) = (((rgb >> 16) & 0xff) + 2 * ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / 4
        sum += gray(q)
        q += 1
      }
      val bits = new StringBuilder(64)
      q = 0
      while (q < 64) {
        bits.append(if (gray(q) * 64L >= sum) '1' else '0')
        q += 1
      }
      (b.doc_id, bits.toString)
    }

  /** DCT-II coefficient table for the pHash, pinned to a 1e-6 integer
    * grid: C(u)(x) = round(cos(π·(2x+1)·u/16)·1e6) — shared verbatim
    * between the JVM kernel and the generated oracle (the same
    * rounded-grid discipline as the audio spectrogram's DFT tables), so
    * every DCT cell is exact BIGINT arithmetic in both engines
    * (|gray| ≤ 255, coef² ≤ 1e12, 64 terms → ≤ 1.7e16). */
  private[ext] val PhashCos: Array[Array[Long]] =
    Array.tabulate(4, 8)((u, x) =>
      math.round(math.cos(math.Pi * (2 * x + 1) * u / 16.0) * 1000000L))

  /** DCT PERCEPTUAL HASH stage (r10): decode, the same 8×8 integer
    * grayscale as [[ahashImages]], then the 2D DCT-II's low-frequency
    * 4×4 block on the pinned coefficient grid. The 15 AC cells are
    * thresholded against their exact median (8th of the 15 sorted exact
    * integers — no averaging, no floats) into a 15-bit hash; the scaled
    * DC cell rides along. The standard pHash construction (as in the
    * pHash library / imagehash's phash), end-to-end integer-exact —
    * robust to the uniform-brightness shifts that flip aHash bits,
    * because the comparison is within the doc's own frequency domain. */
  def phashImages(blobs: Iterator[MediaBlob]): Iterator[(Long, String, Long)] =
    blobs.map { b =>
      val img = ImageIO.read(new ByteArrayInputStream(b.data))
      val (w, h) = (img.getWidth, img.getHeight)
      val gray = new Array[Long](64)
      var q = 0
      while (q < 64) {
        val rgb = img.getRGB((q % 8) * w / 8, (q / 8) * h / 8)
        gray(q) = (((rgb >> 16) & 0xff) + 2 * ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / 4
        q += 1
      }
      val cells = new Array[Long](16)
      var u = 0
      while (u < 4) {
        var v = 0
        while (v < 4) {
          var s = 0L
          q = 0
          while (q < 64) {
            s += gray(q) * PhashCos(u)(q % 8) * PhashCos(v)(q / 8)
            q += 1
          }
          cells(u * 4 + v) = s
          v += 1
        }
        u += 1
      }
      val acs = cells.drop(1)
      val m = acs.sorted.apply(7)
      val bits = acs.map(x => if (x > m) '1' else '0').mkString
      (b.doc_id, bits, cells(0))
    }

  /** Demux variant for [[mmSceneCuts]]: the same even-frame sampling as
    * [[demuxFrames]], but emitting each kept frame's aHash instead of
    * its checksum — the (doc, frame, perceptual-hash) relation a
    * scene-cut detector consumes. */
  def demuxFrameAhashes(blobs: Iterator[MediaBlob]): Iterator[(Long, Int, String)] =
    blobs.flatMap { b =>
      val in = new DataInputStream(new ByteArrayInputStream(b.data))
      val nFrames = in.readInt()
      val lengths = (0 until nFrames).map(_ => in.readInt())
      lengths.zipWithIndex.flatMap { case (len, idx) =>
        val frame = new Array[Byte](len)
        in.readFully(frame)
        if (idx % 2 != 0) None
        else {
          val img = ImageIO.read(new ByteArrayInputStream(frame))
          val (w, h) = (img.getWidth, img.getHeight)
          val gray = new Array[Int](64)
          var sum = 0L
          var q = 0
          while (q < 64) {
            val rgb = img.getRGB((q % 8) * w / 8, (q / 8) * h / 8)
            gray(q) = (((rgb >> 16) & 0xff) + 2 * ((rgb >> 8) & 0xff) +
              (rgb & 0xff)) / 4
            sum += gray(q)
            q += 1
          }
          val bits = new StringBuilder(64)
          q = 0
          while (q < 64) {
            bits.append(if (gray(q) * 64L >= sum) '1' else '0')
            q += 1
          }
          Some((b.doc_id, idx, bits.toString))
        }
      }
    }

  /** Scene-cut detection [N] — the video-pipeline segmentation staple:
    * per-frame perceptual hashes (the [[mmAhash]] aHash applied to
    * every sampled frame of the container), then a cut is flagged
    * where the Hamming distance between consecutive kept frames
    * exceeds 16 of 64 bits. The codec work is the same two
    * partition-wise stages as `mm_frames` (encode container → demux +
    * per-frame aHash); the detection itself is ONE doc-partitioned
    * window lag plus a codegen HOF fold for the bit distance — no
    * shuffle beyond the per-doc window. The frame pixels are a pure
    * function of the doc bytes, so the oracle reproduces every frame
    * hash AND every distance exactly. */
  private def mmSceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeContainers)
      .mapPartitions(demuxFrameAhashes)
      .toDF("doc_id", "frame_idx", "ahash")
      .withColumn("prev", lag(col("ahash"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("hamming",
        expr("aggregate(sequence(1, 64), 0, (acc, i) -> acc + " +
          "CASE WHEN substring(ahash, i, 1) = substring(prev, i, 1) " +
          "THEN 0 ELSE 1 END)"))
      .select(col("doc_id"), col("frame_idx"), col("hamming"),
        (col("hamming") > 16).as("is_cut"))
      .orderBy("doc_id", "frame_idx")
  }

  /** The per-frame aHash CTE chain (→ `hx (doc_id, frame_idx, ahash)`
    * and `lagged (+ prev)`) shared by the scene-cut oracle and the
    * scene-dedup composition oracle. */
  private val sceneHashCtesSql =
    """d AS (SELECT doc_id, text, length(text) AS len FROM documents),
      |frames AS (
      |  SELECT doc_id, text, len, f,
      |         (len + f) % 8 + 1 AS w, (len + f) % 6 + 1 AS h
      |  FROM d, unnest(range(0, len % 5 + 1, 2)) t(f)),
      |g AS (
      |  SELECT doc_id, f,
      |         list_transform(
      |           list_transform(range(0, 64), q ->
      |             3 * ((q // 8) * h // 8 * w + (q % 8) * w // 8)),
      |           bp -> CASE WHEN len = 0 THEN 0 ELSE
      |             (ord(substr(text, ((bp + f) % len) + 1, 1))
      |              + 2 * ord(substr(text, ((bp + 1 + f) % len) + 1, 1))
      |              + ord(substr(text, ((bp + 2 + f) % len) + 1, 1))) // 4
      |           END) AS gs
      |  FROM frames),
      |hx AS (
      |  SELECT doc_id, f AS frame_idx,
      |         array_to_string(list_transform(gs, x ->
      |           CASE WHEN x * 64 >= list_sum(gs) THEN '1'
      |                ELSE '0' END), '') AS ahash
      |  FROM g),
      |lagged AS (
      |  SELECT doc_id, frame_idx, ahash,
      |         lag(ahash) OVER (PARTITION BY doc_id ORDER BY frame_idx)
      |           AS prev
      |  FROM hx)""".stripMargin

  private val mmSceneCutsOracle =
    s"""WITH $sceneHashCtesSql,
      |dist AS (
      |  SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           CASE WHEN substr(ahash, i, 1) = substr(prev, i, 1)
      |                THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
      |  FROM lagged WHERE prev IS NOT NULL)
      |SELECT doc_id, frame_idx, hamming, hamming > 16 AS is_cut
      |FROM dist ORDER BY doc_id, frame_idx""".stripMargin

  /** Image near-dup fingerprinting [N] — the dedup family extended to
    * the multimodal column: every document's synthesized image gets an
    * aHash, and `n_same` counts the corpus images sharing it (the
    * perceptual-duplicate cluster size). One window count over the
    * 64-bit hash — the grouping scales like any hash-agg. */
  private def mmAhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .mapPartitions(ahashImages)
      .toDF("doc_id", "ahash")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("ahash"))
    hashed
      .withColumn("n_same", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** Media-file INGEST via Spark's `binaryFile` source [N] — the front
    * door of every multimodal pipeline: a directory of opaque media
    * files becomes (path, length, content) rows, the entity key is
    * recovered from the file name, and the bytes flow into the same
    * codec seam as [[mmDecode]]. The fixture stage materializes the
    * per-doc PNGs as REAL files (written partition-wise by executors —
    * no driver collect), so the source exercises the actual
    * list/open/read path; `pathGlobFilter` pushes the extension filter
    * into the file listing itself. Output (and oracle) are identical
    * to `mm_decode`: what hash-matches is that a file round-trip
    * through the source loses nothing. */
  private def srcBinaryFiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = graft.Scratch.dir("png_files")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true) // no stale files across SF runs
    fs.mkdirs(p)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .foreachPartition { (it: Iterator[MediaBlob]) =>
        val exFs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(new org.apache.hadoop.conf.Configuration())
        it.foreach { b =>
          val f = new org.apache.hadoop.fs.Path(dir, f"${b.doc_id}%010d.png")
          val out = exFs.create(f, true)
          out.write(b.data)
          out.close()
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.png$", 1).cast("long")
          .as("doc_id"),
        col("content").as("data"))
      .as[MediaBlob]
      .mapPartitions(decodeImages)
      .toDF()
      .orderBy("doc_id")
  }

  /** DCT perceptual hash over binary payloads [N] (r10): real PNG
    * round-trip, one 15-bit frequency-domain hash + scaled DC per doc,
    * oracle-checked bit-for-bit. Narrow until the output sort. */
  private def mmPhashDct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .mapPartitions(phashImages)
      .toDF("doc_id", "phash", "dc_scaled")
      .orderBy("doc_id")
  }

  /** Generated oracle for [[mmPhashDct]] — the grayscale construction of
    * `mm_ahash`'s oracle, then the 4×4 DCT block on [[PhashCos]]'s grid
    * literals (generated, so they cannot drift), the exact 8th-of-15
    * median, and the bit string in (u, v) order. */
  private def phashDctOracle: String =
    s"""WITH $phashCtesSql
       |SELECT doc_id,
       |       array_to_string(list_transform(acs, x ->
       |         CASE WHEN x > m THEN '1' ELSE '0' END), '') AS phash,
       |       dc AS dc_scaled
       |FROM med ORDER BY doc_id""".stripMargin

  /** The pHash CTE chain (→ `med (doc_id, dc, acs, m)`) as a reusable
    * fragment — [[phashDctOracle]] selects the hash string from it; the
    * banded-pairs oracle builds its candidate join on top. */
  private def phashCtesSql: String = phashCtesSqlOver("documents")

  /** [[phashCtesSql]] over an arbitrary `(doc_id, text)` relation — the
    * cross-modality pipeline hashes only the text-gated docs. */
  private def phashCtesSqlOver(rel: String): String = {
    val ctab = PhashCos.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""d AS (SELECT doc_id, text, length(text) AS len,
       |                  length(text) % 16 + 1 AS w,
       |                  length(text) % 12 + 1 AS h
       |           FROM $rel),
       |b AS (SELECT doc_id, text, len,
       |             list_transform(range(0, 64), q ->
       |               3 * ((q // 8) * h // 8 * w + (q % 8) * w // 8))
       |               AS base
       |      FROM d),
       |g AS (SELECT doc_id,
       |             list_transform(base, bp ->
       |               CASE WHEN len = 0 THEN 0 ELSE
       |                 (ord(substr(text, (bp % len) + 1, 1))
       |                  + 2 * ord(substr(text, ((bp + 1) % len) + 1, 1))
       |                  + ord(substr(text, ((bp + 2) % len) + 1, 1))) // 4
       |               END) AS gs
       |      FROM b),
       |cells AS (SELECT doc_id, q, gs[q + 1] AS gv
       |          FROM g, unnest(range(0, 64)) t(q)),
       |dct AS (SELECT doc_id, u, v,
       |               CAST(sum(CAST(gv AS BIGINT)
       |                 * ($ctab)[u + 1][(q % 8) + 1]
       |                 * ($ctab)[v + 1][(q // 8) + 1]) AS BIGINT) AS c
       |        FROM cells, unnest(range(0, 4)) tu(u), unnest(range(0, 4)) tv(v)
       |        GROUP BY doc_id, u, v),
       |agg AS (SELECT doc_id, list(c ORDER BY u * 4 + v) AS cs
       |        FROM dct GROUP BY doc_id),
       |med AS (SELECT doc_id, cs[1] AS dc, cs[2:16] AS acs,
       |               list_sort(cs[2:16])[8] AS m
       |        FROM agg)""".stripMargin
  }

  /** Perceptual near-dup image PAIRS [N] (r10): band each 15-bit pHash
    * into three 5-bit chunks and bucket-join — by pigeonhole, any pair
    * within Hamming distance 2 of each other agrees EXACTLY on at least
    * one of the three bands, so banding is recall-LOSSLESS at the ≤ 2
    * threshold (spec-pinned vs brute force) while candidates stay
    * O(bucket collisions), never O(n²) — the image-modality analogue of
    * the minhash/simhash band joins. Exact Hamming re-check on
    * candidates. */
  private def mmPhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .mapPartitions(phashImages)
      .toDF("doc_id", "phash", "dc")
      .select(col("doc_id"), col("phash"))
      .localCheckpoint()
    val bands = hashed.select(col("doc_id"), col("phash"),
      explode(array((0 until 3).map(b =>
        struct(lit(b).as("band"),
          substring(col("phash"), 1 + 5 * b, 5).as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("phash"),
        col("bh.band").as("band"), col("bh.h").as("h"))
    val ham = expr(
      "aggregate(sequence(1, 15), 0, (acc, i) -> acc + " +
        "CASE WHEN substring(pa, i, 1) = substring(pb, i, 1) THEN 0 ELSE 1 END)")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
      .select(col("i"), col("j"), ham.as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy("i", "j")
  }

  /** Oracle for [[mmPhashPairs]]: the shared pHash CTE chain, the same
    * three 5-char bands, bucket-pair candidates, exact Hamming. */
  private def phashPairsOracle: String =
    s"""WITH $phashCtesSql,
       |ph AS (SELECT doc_id,
       |              array_to_string(list_transform(acs, x ->
       |                CASE WHEN x > m THEN '1' ELSE '0' END), '') AS phash
       |       FROM med),
       |bands AS (
       |  SELECT doc_id, phash, b AS band, substr(phash, 1 + 5 * b, 5) AS h
       |  FROM ph, unnest(range(0, 3)) t(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j,
       |         x.phash AS pa, y.phash AS pb
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id)
       |SELECT i, j,
       |       CAST(list_sum(list_transform(range(1, 16), p ->
       |         CASE WHEN substr(pa, p, 1) = substr(pb, p, 1)
       |              THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE list_sum(list_transform(range(1, 16), p ->
       |        CASE WHEN substr(pa, p, 1) = substr(pb, p, 1)
       |             THEN 0 ELSE 1 END)) <= 2
       |ORDER BY i, j""".stripMargin

  /** Scene-level video DEDUP [N] (r11, VERDICT #5) — the multimodal
    * family composing like the text family does (`corpus_clean_pipeline`
    * for videos), in ONE declarative plan: [[mmSceneCuts]]'s frame-hash
    * + cut detection chain → scene segmentation (scene id = running cut
    * count per video) → one representative frame per scene (its first
    * frame — deterministic, no decode re-run) → COLLAPSE identical
    * hashes into clusters (the `dedup_exact` discipline — identical
    * content is the quadratic mass: at sf0.1 the top identical-hash
    * cluster alone holds 373 scenes, and pairing its members would emit
    * 69k rows saying the same thing; the collapse cut raw candidates
    * 3.9M → 0.5M and made the output linear in distinct content) →
    * cross-CLUSTER near-dup pairs by banding each distinct 64-bit aHash
    * into 4×16-bit bands, bucket-joining, exact-Hamming re-check at
    * 1..8/64 (the `dedup_simhash` banding discipline on the image
    * modality; recall statistical, not the pigeonhole-lossless
    * `mm_phash_pairs` case — 8 differing bits can touch all 4 bands).
    * Each pair row carries both clusters' min-(doc, scene)
    * representative and size, so exact duplicates surface as cluster
    * sizes ≥ 2 rather than quadratic hamming-0 rows. Codec work stays
    * in the two partition-wise demux stages; everything after is
    * windows + hash aggs + one band equi-join over DISTINCT hashes. */
  private def mmSceneDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val ham64 = (a: String, b: String) => expr(
      s"aggregate(sequence(1, 64), 0, (acc, i) -> acc + " +
        s"CASE WHEN substring($a, i, 1) = substring($b, i, 1) THEN 0 ELSE 1 END)")
    val scenes = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeContainers)
      .mapPartitions(demuxFrameAhashes)
      .toDF("doc_id", "frame_idx", "ahash")
      .withColumn("prev", lag(col("ahash"), 1).over(wOrd))
      .withColumn("iscut",
        when(col("prev").isNull, 0)
          .otherwise(when(ham64("ahash", "prev") > 16, 1).otherwise(0)))
      .withColumn("scene", sum(col("iscut")).over(wOrd))
    val wScene = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("scene")).orderBy(col("frame_idx"))
    val wCl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ahash")).orderBy(col("doc_id"), col("scene"))
    val clusters = scenes
      .withColumn("rn", row_number().over(wScene))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("scene"), col("ahash"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("ahash"))))
      .withColumn("crn", row_number().over(wCl))
      .filter(col("crn") === 1)
      // the hash as two 32-bit halves so the pair check is a native
      // codegen'd bit_count(xor) — Catalyst pushes the hamming filter
      // into the band join condition, where an interpreted 64-step
      // string HOF ran once per RAW collision (~30 s at sf0.1; popcount
      // is nanoseconds)
      .select(col("doc_id"), col("scene"), col("ahash"), col("n"),
        expr("cast(conv(substring(ahash, 1, 32), 2, 10) as bigint)").as("hi"),
        expr("cast(conv(substring(ahash, 33, 32), 2, 10) as bigint)").as("lo"))
      .localCheckpoint() // the band self-join reads it twice
    val bands = clusters.select(col("doc_id"), col("scene"), col("n"),
      col("hi"), col("lo"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          substring(col("ahash"), 1 + 16 * b, 16).as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("scene"), col("n"), col("hi"), col("lo"),
        col("bh.band").as("band"), col("bh.h").as("h"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          (col("x.doc_id") < col("y.doc_id") ||
            (col("x.doc_id") === col("y.doc_id") &&
              col("x.scene") < col("y.scene"))))
      .select(col("x.doc_id").as("i"), col("x.scene").as("scene_i"),
        col("y.doc_id").as("j"), col("y.scene").as("scene_j"),
        col("x.n").as("n_i"), col("y.n").as("n_j"),
        (expr("bit_count(x.hi ^ y.hi)") + expr("bit_count(x.lo ^ y.lo)"))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("i", "scene_i", "j", "scene_j")
  }

  /** Oracle for [[mmSceneDedup]]: the shared frame-hash chain, the same
    * running-cut-count segmentation, first-frame representatives, the
    * identical-hash collapse, 4×16 bands over distinct hashes, exact
    * Hamming. */
  private def sceneDedupOracle: String = {
    val ham = "(bit_count(xor(x.hi, y.hi)) + bit_count(xor(x.lo, y.lo)))"
    def half(off: Int) =
      s"""CAST(list_sum(list_transform(range(0, 32), k ->
         |           CASE WHEN substr(ahash, $off + k, 1) = '1'
         |                THEN CAST(1 AS BIGINT) << (31 - k)
         |                ELSE 0 END)) AS BIGINT)""".stripMargin
    s"""WITH $sceneHashCtesSql,
       |cutf AS (
       |  SELECT doc_id, frame_idx, ahash,
       |         CASE WHEN prev IS NULL THEN 0
       |              WHEN list_sum(list_transform(range(1, 65), i ->
       |                CASE WHEN substr(ahash, i, 1) = substr(prev, i, 1)
       |                     THEN 0 ELSE 1 END)) > 16 THEN 1
       |              ELSE 0 END AS iscut
       |  FROM lagged),
       |scn AS (
       |  SELECT doc_id, frame_idx, ahash,
       |         CAST(sum(iscut) OVER (PARTITION BY doc_id
       |           ORDER BY frame_idx) AS BIGINT) AS scene
       |  FROM cutf),
       |reps AS (
       |  SELECT doc_id, scene, ahash FROM (
       |    SELECT doc_id, scene, ahash,
       |           row_number() OVER (PARTITION BY doc_id, scene
       |             ORDER BY frame_idx) AS rn
       |    FROM scn) WHERE rn = 1),
       |cl AS (
       |  SELECT doc_id, scene, ahash, n,
       |         ${half(1)} AS hi,
       |         ${half(33)} AS lo
       |  FROM (
       |    SELECT doc_id, scene, ahash,
       |           CAST(count(*) OVER (PARTITION BY ahash) AS BIGINT) AS n,
       |           row_number() OVER (PARTITION BY ahash
       |             ORDER BY doc_id, scene) AS crn
       |    FROM reps) WHERE crn = 1),
       |bands AS (
       |  SELECT doc_id, scene, n, hi, lo, b AS band,
       |         substr(ahash, 1 + 16 * b, 16) AS h
       |  FROM cl, unnest(range(0, 4)) t(b))
       |SELECT DISTINCT x.doc_id AS i, x.scene AS scene_i,
       |       y.doc_id AS j, y.scene AS scene_j,
       |       x.n AS n_i, y.n AS n_j,
       |       CAST($ham AS INTEGER) AS hamming
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.h = y.h
       | AND (x.doc_id < y.doc_id
       |      OR (x.doc_id = y.doc_id AND x.scene < y.scene))
       |WHERE $ham <= 8
       |ORDER BY i, scene_i, j, scene_j""".stripMargin
  }

  /** CROSS-modality training-set assembly [N] (r12, VERDICT #7 stretch)
    * — `corpus_clean_pipeline` proved the TEXT stages compose in one
    * declarative plan; this proves the families compose ACROSS
    * modalities, the shape a multimodal LLM pipeline runs over paired
    * (doc, image) rows:
    *
    *  1. TEXT gate — the gopher-style quality rules (length floor, word
    *     floor, language allowlist);
    *  2. TEXT near-dup collapse — the linear md5-minhash cluster
    *     pipeline ([[graft.ext.Dedup.md5ClusterAssign]]), min-id rep
    *     per cluster survives;
    *  3. IMAGE near-dup collapse over the SAME gated docs — the paired
    *     image (the real PNG round-trip of `mm_phash_dct`) hashes to a
    *     15-bit DCT pHash, pairs band-join at Hamming ≤ 2 (pigeonhole-
    *     lossless, `mm_phash_pairs`' machinery), components via
    *     [[graft.ext.Dedup.connectedComponents]], min-id rep per IMAGE
    *     cluster survives;
    *  4. SURVIVORS = docs that pass the gate AND rep BOTH their text
    *     and image clusters — a reworded copy dies on leg 2, a re-
    *     encoded/near-identical image dies on leg 3.
    *
    * Codec work stays in the two partition-wise seams (encode + pHash);
    * everything else is band equi-joins, hash aggs, and the two CC
    * fixpoints. Gating text-FIRST means the codec only touches docs
    * that can still survive — stage order is a pushdown decision. (The
    * learned `text_quality_classifier` gate composes the same way but
    * would nest its unrolled-GD oracle here; the rule gate keeps the
    * mirror tractable — recorded in PERF.md r12.) Note the fixture's
    * 15-bit pHash space makes image components COARSE at small SF
    * (Hamming ≤ 2 chains percolate, few minima survive) — with a
    * production 64-bit hash the clusters are the sparse near-dup sets
    * of `mm_scene_dedup`; the composition shape is what's under test. */
  /** The multimodal pipeline's text gate — stateless per-doc, shared by
    * the batch key and the streaming delta form. */
  private def mmGate(docs: DataFrame): DataFrame =
    docs.filter(col("n_chars") >= 100 &&
        size(split(col("text"), " ")) >= 20 &&
        col("lang").isin("en", "fr", "de"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))

  /** Paired-image pHash of gated docs — the two codec seams (encode +
    * DCT pHash), the ONLY non-relational work in the pipeline and the
    * expensive part the incremental form pays once per doc. */
  private def mmPhash(gated: DataFrame): DataFrame = {
    val s = gated.sparkSession
    import s.implicits._
    gated
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaBlob]
      .mapPartitions(encodeImages)
      .mapPartitions(phashImages)
      .toDF("doc_id", "phash", "dc")
      .select(col("doc_id"), col("phash"))
  }

  /** 3-band split of a `(doc_id, phash)` relation (pigeonhole over the
    * 15-bit hash: Hamming <= 2 pairs share >= 1 intact 5-bit band). */
  private def mmPhashBands(ph: DataFrame): DataFrame =
    ph.select(col("doc_id"), col("phash"),
      explode(array((0 until 3).map(b =>
        struct(lit(b).as("band"),
          substring(col("phash"), 1 + 5 * b, 5).as("h"))): _*)).as("bh"))
      .select(col("doc_id"), col("phash"),
        col("bh.band").as("band"), col("bh.h").as("h"))

  private val mmHam = expr(
    "aggregate(sequence(1, 15), 0, (acc, i) -> acc + " +
      "CASE WHEN substring(pa, i, 1) = substring(pb, i, 1) THEN 0 ELSE 1 END)")

  private def corpusCleanMultimodal(s: SparkSession, d: String): DataFrame = {
    import graft.Ckpt.CutOps
    val gated = mmGate(Tables.documents(s, d))
    val textReps = Dedup.md5ClusterAssign(
        gated.select(col("doc_id"), col("text")))
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    val hashed = mmPhash(gated)
      .cut() // the band join + CC read it repeatedly (conf-gated Ckpt)
    val bands = mmPhashBands(hashed)
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      .distinct()
      .filter(mmHam <= 2)
      .select(col("i"), col("j"))
      .cut() // the CC rounds join the edge list every round
    val imgReps = Dedup.connectedComponents(
        hashed.select(col("doc_id").as("id")), pairs)
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"))
    gated.join(textReps, Seq("doc_id"), "left_semi")
      .join(imgReps, Seq("doc_id"), "left_semi")
      .join(hashed, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("phash"))
      .orderBy("doc_id")
  }

  /** One micro-batch of the INCREMENTAL multimodal cleaning pipeline
    * [N] (r13, VERDICT r12 #7 stretch) — the training-set assembly
    * shape run CONTINUOUSLY: per-epoch delta docs flow through gate →
    * text banding → image pHash against persisted stores, and the sink
    * receives the full updated survivor set. Every component reuses its
    * existing delta discipline:
    *
    *  - GATE: stateless per-doc — applied to the delta alone;
    *  - cross-epoch re-delivery: docs already in a PRIOR epoch anti-join
    *    away (the audio-store rule), so nothing re-hashes or re-bands;
    *  - TEXT leg: the delta's corpus-independent md5 band rows land in
    *    `bands/epoch=N`; candidates recompute ONLY for the buckets the
    *    epoch touched (a bucket's star/chain set depends on just its own
    *    membership, which only grows — so the LATEST recomputation of a
    *    bucket is the batch-equal truth, and `bmark/epoch=N` records
    *    which buckets each epoch owns). Exact-Jaccard verify runs
    *    against the accumulated doc store; verified pairs land in
    *    `tpairs/epoch=N` with their bucket key for the latest-wins read;
    *  - IMAGE leg: the delta alone pays the codec seams (pHash once per
    *    doc, into `phash/epoch=N`); fresh pairs = delta bands × the
    *    full phash store at Hamming <= 2 — plain band pairs decompose,
    *    so the epoch union IS the batch pair set (each pair materializes
    *    in its later member's epoch), no supersede needed;
    *  - OUTPUT: CC over both accumulated pair graphs; survivors rep
    *    BOTH their text and image clusters — batch-equivalent by
    *    construction (StreamingSpec pins union-of-epochs ≡ the batch
    *    `corpus_clean_multimodal` and replay idempotence).
    *
    * Replays are idempotent: a re-delivered epoch rewrites its own
    * `epoch=N` partitions with deterministically identical rows. */
  def corpusCleanMultimodalDelta(batchIn: DataFrame, storeDir: String,
                                 epoch: Long): DataFrame = {
    import graft.Ckpt.CutOps
    val st = graft.pipeline.EpochStore(batchIn.sparkSession, storeDir)
      .append(epoch)
    val gated = mmGate(batchIn)
    val fresh = st.unseen(gated, "docs", "doc_id").cut()
    val bandRows = Dedup.md5SlotBandRows(fresh.select("doc_id", "text")).cut()
    val hashedFresh = mmPhash(fresh).cut()
    st.write("docs", fresh)
    st.write("bands", bandRows)
    st.write("bmark", bandRows.select("band", "h").distinct())
    st.write("phash", hashedFresh)
    // TEXT: recompute candidates for the touched buckets over their FULL
    // accumulated membership, verify, store with the bucket key
    val touched = bandRows.select("band", "h").distinct()
    val allBands = st.read("bands")
      .drop("epoch").dropDuplicates(Seq("doc_id", "band"))
    val allDocs = st.read("docs")
      .select("doc_id", "text").dropDuplicates("doc_id")
    val cand = Dedup.starChainCandidates(
      allBands.join(touched, Seq("band", "h")))
    // verify builds word-id arrays only for docs a candidate names —
    // O(touched), never O(corpus): the verify stage must not re-explode
    // the whole accumulated doc store every epoch
    val candDocs = cand.select(col("i").as("doc_id"))
      .union(cand.select(col("j").as("doc_id"))).distinct()
    val verified = Dedup.verifyExactJaccard(
        cand.select("i", "j").distinct(),
        allDocs.join(candDocs, Seq("doc_id"), "left_semi"), 0.8)
      .select("i", "j")
    st.write("tpairs", cand.join(verified, Seq("i", "j"))
      .select("band", "h", "i", "j").cut())
    // both edge lists are cut: the CC rounds join them every round
    val validT = graft.pipeline.StoreCompact
      .latestTextPairs(st.read("tpairs"), st.read("bmark"))
      .select("i", "j").distinct().cut()
    // IMAGE: delta bands x full store (band equi-join, Hamming verify)
    val allPh = st.read("phash")
      .select("doc_id", "phash").dropDuplicates("doc_id")
    val xd = col("x.doc_id"); val yd = col("y.doc_id")
    val ipFresh = mmPhashBands(hashedFresh).as("x")
      .join(mmPhashBands(allPh).as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          xd =!= yd)
      .select(least(xd, yd).as("i"), greatest(xd, yd).as("j"),
        when(xd < yd, col("x.phash")).otherwise(col("y.phash")).as("pa"),
        when(xd < yd, col("y.phash")).otherwise(col("x.phash")).as("pb"))
      .distinct()
      .filter(mmHam <= 2)
      .select("i", "j").cut()
    st.write("ipairs", ipFresh)
    val validI = st.read("ipairs").select("i", "j").distinct().cut()
    // OUTPUT: both CC fixpoints over the accumulated graphs + survivors
    val gatedAll = st.read("docs")
      .select("doc_id", "lang", "n_chars").dropDuplicates("doc_id")
    val trep = Dedup.connectedComponents(
        allDocs.select(col("doc_id").as("id")), validT)
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"))
    val irep = Dedup.connectedComponents(
        allPh.select(col("doc_id").as("id")), validI)
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"))
    gatedAll.join(trep, Seq("doc_id"), "left_semi")
      .join(irep, Seq("doc_id"), "left_semi")
      .join(allPh, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("phash"))
      .orderBy("doc_id")
  }

  /** Oracle for [[corpusCleanMultimodal]]: the gated-doc CTE, the text
    * leg's [[graft.ext.Dedup.md5ClusterChainSql]] chain, the image
    * leg's pHash CTEs over the gated docs + p-prefixed band/candidate
    * CTEs + the unrolled star-CC closure, and the 3-way survivor join. */
  private def corpusCleanMultimodalOracle: String = {
    val hamSql = (pa: String, pb: String) =>
      s"""list_sum(list_transform(range(1, 16), p ->
         |  CASE WHEN substr($pa, p, 1) = substr($pb, p, 1)
         |       THEN 0 ELSE 1 END))""".stripMargin
    s"""WITH gated AS MATERIALIZED (
       |  SELECT doc_id, lang, n_chars, text FROM documents
       |  WHERE n_chars >= 100 AND len(string_split(text, ' ')) >= 20
       |    AND lang IN ('en', 'fr', 'de')),
       |${Dedup.md5ClusterChainSql("gated", "text")},
       |trep AS (SELECT doc_id FROM clusters WHERE doc_id = cluster_id),
       |${phashCtesSqlOver("gated")},
       |ph AS MATERIALIZED (
       |  SELECT doc_id,
       |         array_to_string(list_transform(acs, x ->
       |           CASE WHEN x > m THEN '1' ELSE '0' END), '') AS phash
       |  FROM med),
       |pbands AS (
       |  SELECT doc_id, phash, b AS band, substr(phash, 1 + 5 * b, 5) AS h
       |  FROM ph, unnest(range(0, 3)) t(b)),
       |pcand AS (
       |  SELECT DISTINCT x.doc_id AS i, y.doc_id AS j,
       |         x.phash AS pa, y.phash AS pb
       |  FROM pbands x JOIN pbands y
       |    ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id),
       |ppairs AS MATERIALIZED (
       |  SELECT i, j FROM pcand WHERE ${hamSql("pa", "pb")} <= 2),
       |pnodes AS (SELECT doc_id AS id FROM ph),
       |${Dedup.starCcSql(Dedup.StarCcRounds, "ppairs", "pnodes", "p")},
       |irep AS (SELECT id AS doc_id FROM labp WHERE id = cluster_id)
       |SELECT g.doc_id, g.lang, g.n_chars, ph.phash
       |FROM gated g
       |JOIN trep ON g.doc_id = trep.doc_id
       |JOIN irep ON g.doc_id = irep.doc_id
       |JOIN ph ON g.doc_id = ph.doc_id
       |ORDER BY g.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_clean_multimodal" -> corpusCleanMultimodal,
    "src_binary_files" -> srcBinaryFiles,
    "mm_scene_dedup" -> mmSceneDedup,
    "multimodal_cols" -> mmMeta,
    "mm_binary" -> mmBinary,
    "mm_decode" -> mmDecode,
    "mm_resize" -> mmResize,
    "mm_ahash" -> mmAhash,
    "mm_phash_dct" -> mmPhashDct,
    "mm_phash_pairs" -> mmPhashPairs,
    "mm_frames" -> mmFrames,
    "mm_scene_cuts" -> mmSceneCuts)

  private val decodeOracle: String =
    """WITH d AS (SELECT doc_id, text, length(text) AS len,
      |                  length(text) % 16 + 1 AS w,
      |                  length(text) % 12 + 1 AS h
      |           FROM documents)
      |SELECT doc_id,
      |       CAST(w * h * 3 AS INTEGER) AS n_bytes,
      |       CAST(w AS INTEGER) AS width,
      |       CAST(h AS INTEGER) AS height,
      |       3 AS channels,
      |       CAST(coalesce(list_sum(list_transform(range(0, w * h * 3),
      |            i -> CASE WHEN len = 0 THEN 0
      |                      ELSE ord(substr(text, (i % len) + 1, 1)) END)),
      |            0) AS BIGINT) AS checksum
      |FROM d ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "multimodal_cols" ->
      """WITH labels(label_id, label_name) AS (
        |  VALUES (1, 'chart'), (2, 'scan'), (3, 'render'))
        |SELECT vec_id, label_name,
        |       CAST(len(embedding) AS INTEGER) AS n_dims,
        |       array_to_string(list_transform(embedding[1:4],
        |         x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ',') AS head,
        |       sqrt((SELECT sum(CAST(u.x AS DOUBLE) * CAST(u.y AS DOUBLE))
        |             FROM (SELECT unnest(embedding) AS x, unnest(embedding) AS y) u)) AS l2_norm
        |FROM embeddings JOIN labels ON label = label_id
        |ORDER BY vec_id""".stripMargin,
    "mm_binary" ->
      """SELECT doc_id,
        |       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |       sha256(text) AS sha,
        |       to_base64(CAST(substring(text, 1, 12) AS BLOB)) AS head_b64
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The decoded dims and pixels are pure functions of the doc bytes
    // (see synthesizePng), and the payloads are pure-ASCII text bytes —
    // so ord(char) == byte and DuckDB reproduces what ImageIO decodes.
    // PRECONDITION (holds for the driver's documents generator;
    // re-verify if it changes): no non-ASCII chars (ord==byte breaks on
    // multibyte). Empty payloads decode as a 1×1 black image.
    "mm_decode" -> decodeOracle,
    // the file round-trip must decode to exactly what the in-memory
    // path decodes to — one oracle serves both
    "src_binary_files" -> decodeOracle,
    // resized pixel (x,y) samples source pixel (x*w div 8, y*h div 6);
    // i enumerates output samples: q = i div 3 is the pixel, i mod 3
    // the channel; all arithmetic integer, same precondition as
    // mm_decode
    "mm_resize" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |                  length(text) % 16 + 1 AS w,
        |                  length(text) % 12 + 1 AS h
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(8 * 6 * 3 AS INTEGER) AS n_bytes,
        |       8 AS width, 6 AS height, 3 AS channels,
        |       CAST(coalesce(list_sum(list_transform(range(0, 8 * 6 * 3),
        |            i -> CASE WHEN len = 0 THEN 0
        |                      ELSE ord(substr(text,
        |                        ((3 * ((((i // 3) // 8) * h // 6) * w
        |                               + ((i // 3) % 8) * w // 8)
        |                          + i % 3) % len) + 1, 1)) END)), 0)
        |         AS BIGINT) AS checksum
        |FROM d ORDER BY doc_id""".stripMargin,
    // 8×8 nearest-neighbor sample → integer gray (r+2g+b) div 4 →
    // threshold by the exact mean via g*64 >= sum (no division);
    // empty payloads gray to all-zero and hash to all-ones
    "mm_scene_cuts" -> mmSceneCutsOracle,
    "mm_scene_dedup" -> sceneDedupOracle,
    "mm_phash_dct" -> phashDctOracle,
    "mm_phash_pairs" -> phashPairsOracle,
    "corpus_clean_multimodal" -> corpusCleanMultimodalOracle,
    "mm_ahash" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len,
        |                  length(text) % 16 + 1 AS w,
        |                  length(text) % 12 + 1 AS h
        |           FROM documents),
        |b AS (SELECT doc_id, text, len,
        |             list_transform(range(0, 64), q ->
        |               3 * ((q // 8) * h // 8 * w + (q % 8) * w // 8))
        |               AS base
        |      FROM d),
        |g AS (SELECT doc_id,
        |             list_transform(base, bp ->
        |               CASE WHEN len = 0 THEN 0 ELSE
        |                 (ord(substr(text, (bp % len) + 1, 1))
        |                  + 2 * ord(substr(text, ((bp + 1) % len) + 1, 1))
        |                  + ord(substr(text, ((bp + 2) % len) + 1, 1))) // 4
        |               END) AS gs
        |      FROM b),
        |hx AS (SELECT doc_id,
        |              array_to_string(list_transform(gs, x ->
        |                CASE WHEN x * 64 >= list_sum(gs) THEN '1'
        |                     ELSE '0' END), '') AS ahash
        |       FROM g)
        |SELECT doc_id, ahash,
        |       count(*) OVER (PARTITION BY ahash) AS n_same
        |FROM hx ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |       CAST(w * h * 3 AS INTEGER) AS n_bytes,
        |       CAST(coalesce(list_sum(list_transform(range(0, w * h * 3),
        |            i -> CASE WHEN len = 0 THEN 0
        |                      ELSE ord(substr(text, ((i + f) % len) + 1, 1))
        |                 END)), 0) AS BIGINT) AS checksum
        |FROM (SELECT doc_id, text, len, f,
        |             (len + f) % 8 + 1 AS w, (len + f) % 6 + 1 AS h
        |      FROM d, unnest(range(0, len % 5 + 1, 2)) t(f))
        |ORDER BY doc_id, frame_idx""".stripMargin)
}

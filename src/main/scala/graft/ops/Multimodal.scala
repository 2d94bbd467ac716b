package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A decoded media record: opaque bytes + typed metadata. */
final case class MediaRecord(doc_id: Long, mime: String, content: Array[Byte],
    n_bytes: Int)

/** Extracted features for one media record. */
final case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
    features: Array[Float], frame_offsets: Array[Int])

/** Multimodal-column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The IMAGE path is REAL end-to-end: `image/png` rows carry genuine
  * PNG bytes (synthesized deterministically by [[Png.synth]] — the
  * container ships no media fixtures) and [[extractFeatures]] decodes
  * them with the JDK's own `javax.imageio.ImageIO` into per-pixel RGB
  * features. Audio/video codecs are STUBBED (no sound/video libraries
  * in this container): [[decodeStub]] derives a deterministic 16-bin
  * byte histogram instead of samples. Everything around the decoders —
  * the binary column schema, the typed Dataset boundary, the
  * per-partition batch shape a codec amortizes setup over, and the
  * frame-sample arithmetic — is identical for both paths.
  *
  * Scale notes: decode is a narrow per-partition map (no shuffle); a
  * real deployment sizes `spark.sql.files.maxPartitionBytes` down for
  * fat binary rows so a partition of media bytes still fits in executor
  * memory, and stores content as separate objects with only pointers +
  * metadata in the table once rows exceed ~tens of MB.
  */
object Multimodal {

  /** Deterministic in-table PNG fixtures. The encoder emits a REAL,
    * standard-conformant PNG (8-bit RGB, filter None) whose zlib stream
    * uses one STORED deflate block — legal deflate, readable by any
    * decoder, and, unlike compressed blocks, of content-independent
    * length: every synthesized PNG is exactly [[SynthBytes]] bytes, so
    * the metadata oracle can state image sizes as a literal. */
  private[graft] object Png {
    val W = 8
    val H = 8

    /** Pixel channel value — the formula the round-trip test recomputes. */
    def pixel(id: Long, y: Int, x: Int, c: Int): Int =
      ((id * 31 + (y * W + x) * 3 + c) % 256).toInt

    def synth(id: Long): Array[Byte] = {
      // raw scanlines: filter byte 0 (None) + W RGB triples per row
      val raw = new Array[Byte](H * (1 + W * 3))
      var p = 0
      var y = 0
      while (y < H) {
        raw(p) = 0; p += 1
        var x = 0
        while (x < W) {
          var c = 0
          while (c < 3) { raw(p) = pixel(id, y, x, c).toByte; p += 1; c += 1 }
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream(256)
      def be32(v: Int): Array[Byte] =
        Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        out.write(be32(data.length)); out.write(tb); out.write(data)
        out.write(be32(crc.getValue.toInt))
      }
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(W).putInt(H)
        .put(8.toByte)  // bit depth
        .put(2.toByte)  // color type: truecolor RGB
        .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
      chunk("IHDR", ihdr.array())
      // zlib: 0x78 0x01 header ((0x78*256+0x01) % 31 == 0), one final
      // stored block (BFINAL=1 BTYPE=00, LEN/NLEN little-endian), adler32
      val ad = new java.util.zip.Adler32(); ad.update(raw)
      val z = java.nio.ByteBuffer.allocate(2 + 5 + raw.length + 4)
      z.put(0x78.toByte).put(0x01.toByte).put(0x01.toByte)
      z.put((raw.length & 0xff).toByte).put(((raw.length >> 8) & 0xff).toByte)
      z.put(((~raw.length) & 0xff).toByte).put((((~raw.length) >> 8) & 0xff).toByte)
      z.put(raw)
      z.putInt(ad.getValue.toInt)
      chunk("IDAT", z.array())
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Constant by construction (stored blocks never compress). */
    val SynthBytes: Int = synth(0L).length
  }

  /** The media table: `audio/wav`/`video/mp4` rows carry the fixture
    * text re-encoded as opaque bytes; `image/png` rows carry a real
    * synthesized PNG (mime rotates by doc_id to exercise per-type
    * branching). The typed map is fixture SYNTHESIS, not an operator —
    * a production table reads the binary column straight off parquet. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (pmod($"doc_id", lit(3L)) + 1).cast("int")).as("mime"),
      encode($"text", "UTF-8").as("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mime, bytes) =>
          val content = if (mime == "image/png") Png.synth(id) else bytes
          MediaRecord(id, mime, content, content.length)
        }
      }
      .toDF()
  }

  /** STUB decode for audio/video: a real implementation would decode
    * samples/frames here (per-partition so codec setup is amortized).
    * The deterministic stand-in is a 16-bin byte histogram normalized
    * by length — shape-compatible with a real feature vector. */
  private[graft] def decodeStub(content: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < content.length) { hist((content(i) & 0xff) >> 4) += 1f; i += 1 }
    if (content.length > 0) {
      var j = 0
      while (j < 16) { hist(j) /= content.length.toFloat; j += 1 }
    }
    hist
  }

  /** REAL image decode via the JDK's ImageIO: PNG bytes → row-major
    * per-pixel RGB floats in [0,1]. None when the bytes are not a
    * decodable image (callers fall back to the histogram stub — a
    * corrupt blob must not kill a 100 TB batch). */
  private[graft] def decodeImage(content: Array[Byte]): Option[Array[Float]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new Array[Float](w * h * 3)
        var i = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(i) = ((rgb >> 16) & 0xff) / 255f
            out(i + 1) = ((rgb >> 8) & 0xff) / 255f
            out(i + 2) = (rgb & 0xff) / 255f
            i += 3
            x += 1
          }
          y += 1
        }
        Some(out)
      }
    } catch { case _: Exception => None }

  /** Frame sampling: every `step` bytes stands in for every Nth video
    * frame; images sample offset 0 only. */
  private[graft] def frameOffsets(mime: String, nBytes: Int, step: Int = 64): Array[Int] =
    if (mime.startsWith("video/")) (0 until nBytes by step).toArray
    else Array(0)

  /** Decode + feature-extract + frame-sample over the typed Dataset
    * boundary. mapPartitions (not per-row map) is deliberate: real
    * decoders batch per partition. Images decode for REAL (ImageIO);
    * audio/video fall to the histogram stub. */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord].mapPartitions { recs =>
      // per-partition: codec init happens once here, amortized over rows
      javax.imageio.ImageIO.setUseCache(false) // no temp-file spill per image
      recs.map { r =>
        val feats =
          if (r.mime == "image/png")
            decodeImage(r.content).getOrElse(decodeStub(r.content))
          else decodeStub(r.content)
        MediaFeatures(r.doc_id, r.mime, r.n_bytes,
          feats, frameOffsets(r.mime, r.n_bytes))
      }
    }
  }

  /** Oracle-checked metadata query: binary length + mime branching are
    * SQL-expressible (image sizes are the [[Png.SynthBytes]] constant by
    * construction); the decoders are not (rows-only + ScalaTest). */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select($"doc_id", $"mime", $"n_bytes",
        when($"mime".startsWith("video/"),
          ceil($"n_bytes".cast("double") / 64.0).cast("long"))
          .otherwise(lit(1L)).as("n_frames"))
      .orderBy($"doc_id")
  }

  val multimodalMetaSql: String =
    s"""SELECT doc_id, mime,
       |  CASE WHEN mime = 'image/png' THEN ${Png.SynthBytes}
       |       ELSE octet_length(encode(text)) END AS n_bytes,
       |  CASE WHEN mime LIKE 'video/%'
       |       THEN CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 64.0) AS BIGINT)
       |       ELSE 1 END AS n_frames
       |FROM (SELECT doc_id, text,
       |        ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 AS INTEGER) + 1] AS mime
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Feature extraction as a registered query. The IMAGE path is
    * oracle-checked on decoded VALUES, not just shapes: the synthesized
    * PNGs are deterministic ([[Png.pixel]]), ImageIO's decode of them
    * is exact (stored-deflate blocks, 8-bit RGB), and the /255f
    * normalization is one IEEE float divide — so three sampled feature
    * components (first/middle/last of the 192) are stated in the oracle
    * as the closed-form pixel expression and must match bit for bit.
    * The audio/video STUB's histogram stays engine-specific (that is
    * what makes it a stub) — those rows carry NULL samples in both
    * engines; MultimodalSpec round-trips the full vectors. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isImg = $"mime" === "image/png"
    extractFeatures(spark, dir).toDF()
      .select($"doc_id", $"mime", $"n_bytes",
        size($"features").as("n_features"),
        size($"frame_offsets").as("n_frames"),
        when(isImg, element_at($"features", 1)).as("f_first"),
        when(isImg, element_at($"features", Png.W * Png.H * 3 / 2 + 1)).as("f_mid"),
        when(isImg, element_at($"features", Png.W * Png.H * 3)).as("f_last"))
      .orderBy($"doc_id")
  }

  /** Registered query: PERCEPTUAL AVERAGE-HASH (aHash) of every
    * decoded image — the image near-dup primitive: per-pixel
    * luminance (channel sum, kept integral) thresholded at the
    * image's own mean, one bit per pixel, packed into two 32-bit
    * halves (hi, lo — two BIGINTs because bit 63's weight overflows
    * a signed 64-bit literal in the oracle). Downstream, image
    * near-dup is Hamming distance on these words — exactly the
    * [[Similarity]] binary-ANN machinery, now fed from DECODED
    * PIXELS, so the multimodal column joins the dedup funnel.
    *
    * The comparison stays integer-exact: with L_i the integral
    * luminance and T = ΣL_i over the 64 pixels, bit_i = 64·L_i > T —
    * no division, engine-identical. The ENGINE computes from the real
    * ImageIO decode; the ORACLE recomputes every pixel from the
    * synthesis formula — so a green hash proves the decode is
    * faithful for ALL pixels, not just the three `multimodal_features`
    * samples.
    *
    * Shape at 100 TB: decode is the existing per-partition typed map;
    * the hash is a narrow codegen'd projection over the features
    * array — no shuffle at all before the output ORDER BY. */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imagePhashRows(spark, dir).orderBy($"doc_id")
  }

  /** The unsorted phash rows — [[imagePhash]] adds the registered
    * query's ORDER BY; [[imageNearDup]] consumes these directly so the
    * checkpoint it materializes does not pay a range-partition sort
    * that its banded explode immediately destroys (r18). */
  private[graft] def imagePhashRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the hash rides the SAME typed per-partition pass as the decode
    // (pixel statistics are feature extraction — the codec-boundary
    // carve-out); a first cut built the 64 luminance thresholds as
    // Catalyst expressions and CollapseProject re-inlined the
    // 192-element projection into all 64 bit conditions — a ~25k-node
    // tree, 7 s at sf0.1 for what is one integer loop per image
    extractFeatures(spark, dir)
      .filter(_.mime == "image/png")
      .map { m =>
        val lums = Array.tabulate(Png.W * Png.H)(i =>
          math.round(m.features(3 * i) * 255f).toLong +
            math.round(m.features(3 * i + 1) * 255f).toLong +
            math.round(m.features(3 * i + 2) * 255f).toLong)
        val total = lums.sum
        def pack(lo: Int, hi: Int): Long = {
          var acc = 0L
          var i = lo
          while (i < hi) {
            if (64L * lums(i) > total) acc |= 1L << (i - lo)
            i += 1
          }
          acc
        }
        (m.doc_id, pack(32, 64), pack(0, 32))
      }
      .toDF("doc_id", "phash_hi", "phash_lo")
  }

  /** The oracle's phash derivation as CTEs ending in
    * `ph(doc_id, phash_hi, phash_lo)` — shared by [[imagePhashSql]]
    * and [[imageNearDupSql]]. */
  private def phashCtes: String = {
    val n = Png.W * Png.H
    def lum(i: Int) = (0 until 3)
      .map(c => s"((doc_id * 31 + ${3 * i + c}) % 256)").mkString(" + ")
    val lumDefs = (0 until n).map(i => s"(${lum(i)}) AS l$i").mkString(",\n    ")
    val total = (0 until n).map(i => s"l$i").mkString(" + ")
    def packed(lo: Int, hi: Int) = (lo until hi).map(i =>
      s"CASE WHEN 64 * l$i > t THEN CAST(${1L << (i - lo)} AS BIGINT) ELSE 0 END")
      .mkString("\n   + ")
    s"""px AS (
       |  SELECT doc_id,
       |    $lumDefs
       |  FROM documents WHERE doc_id % 3 = 0),
       |tt AS (SELECT *, ($total) AS t FROM px),
       |ph AS (
       |  SELECT doc_id, ${packed(32, 64)} AS phash_hi,
       |    ${packed(0, 32)} AS phash_lo
       |  FROM tt)""".stripMargin
  }

  val imagePhashSql: String =
    s"""WITH $phashCtes
       |SELECT doc_id, phash_hi, phash_lo FROM ph ORDER BY doc_id""".stripMargin

  /** Image near-dup Hamming budget (of 64 bits). */
  val MaxImageHamming = 12

  /** Registered query: IMAGE near-duplicates — the [[imagePhash]]
    * words through the same banded-LSH discipline every text dedup in
    * this repo uses: four 16-bit bands per hash, candidates = pairs
    * agreeing on ≥ 1 band (never all-pairs), survivors verified at
    * exact Hamming ≤ [[MaxImageHamming]]. A one-pixel edit flips at
    * most a few luminance bits, so true near-dups collide on at least
    * one intact band (the simhash argument, MultimodalSpec proves it
    * on a crafted pair); band agreement for unrelated images is
    * ~2⁻¹⁶ per band, so candidate volume is O(Σ bucket²) with tiny
    * buckets.
    *
    * Shape at 100 TB: hash projection is shuffle-free; the only
    * shuffle keys on (band, key) — 4 rows per image, 8-byte values;
    * the verify step touches candidate pairs only. */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame = {
    // shared: the banded self-join consumes the hash frame twice, and
    // decode must not run twice for it. Fed from the UNSORTED hash
    // rows — imagePhash's ORDER BY would pay a range-partition sort
    // the banded explode destroys.
    nearDupOf(Dsl.share(imagePhashRows(spark, dir)))
  }

  /** The banded pairing on any (doc_id, phash_hi, phash_lo) frame.
    * A boilerplate-heavy image corpus (near-identical frames) grows
    * band buckets — by DESIGN those pairs are the answer; a
    * deployment that wants to cap pathological buckets reuses the
    * Dedup LSH MaxBucketSize discipline verbatim. */
  private[graft] def nearDupOf(ph: DataFrame): DataFrame = {
    import ph.sparkSession.implicits._
    val bands = ph.select($"doc_id", $"phash_hi", $"phash_lo",
      posexplode(array(
        $"phash_lo".bitwiseAND(lit(0xFFFFL)),
        shiftrightunsigned($"phash_lo", 16).bitwiseAND(lit(0xFFFFL)),
        $"phash_hi".bitwiseAND(lit(0xFFFFL)),
        shiftrightunsigned($"phash_hi", 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("band", "key")))
    val a = bands.select($"band", $"key", $"doc_id".as("a"),
      $"phash_hi".as("ah"), $"phash_lo".as("al"))
    val b = bands.select($"band", $"key", $"doc_id".as("b"),
      $"phash_hi".as("bh"), $"phash_lo".as("bl"))
    a.join(b, Seq("band", "key")).filter($"a" < $"b")
      .select($"a", $"b",
        (bit_count($"ah".bitwiseXOR($"bh")) +
          bit_count($"al".bitwiseXOR($"bl"))).as("hamming"))
      .distinct()
      .filter($"hamming" <= MaxImageHamming)
      .orderBy($"a", $"b")
  }

  val imageNearDupSql: String =
    s"""WITH $phashCtes,
       |bands AS (
       |  SELECT doc_id, phash_hi, phash_lo, band, key FROM (
       |    SELECT doc_id, phash_hi, phash_lo,
       |      UNNEST([0, 1, 2, 3]) AS band,
       |      UNNEST([phash_lo & 65535, (phash_lo >> 16) & 65535,
       |              phash_hi & 65535, (phash_hi >> 16) & 65535]) AS key
       |    FROM ph))
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  bit_count(xor(x.phash_hi, y.phash_hi))
       |    + bit_count(xor(x.phash_lo, y.phash_lo)) AS hamming
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.phash_hi, y.phash_hi))
       |    + bit_count(xor(x.phash_lo, y.phash_lo)) <= $MaxImageHamming
       |ORDER BY a, b""".stripMargin

  /** Decoded image feature p (0-based, row-major RGB) is
    * pixel/255 = ((doc_id*31 + p) % 256)/255 by [[Png.pixel]]'s
    * construction; FLOAT/FLOAT division is correctly rounded in both
    * engines. Stub rows (audio/video) sample as NULL by design. */
  val multimodalFeaturesSql: String = {
    def pix(p: Int): String =
      s"CAST((doc_id * 31 + $p) % 256 AS FLOAT) / CAST(255 AS FLOAT)"
    def img(expr: String): String =
      s"CASE WHEN mime = 'image/png' THEN $expr END"
    s"""SELECT doc_id, mime,
       |  CASE WHEN mime = 'image/png' THEN ${Png.SynthBytes}
       |       ELSE octet_length(encode(text)) END AS n_bytes,
       |  CASE WHEN mime = 'image/png' THEN ${Png.W * Png.H * 3} ELSE 16 END AS n_features,
       |  CASE WHEN mime LIKE 'video/%'
       |       THEN CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 64.0) AS BIGINT)
       |       ELSE 1 END AS n_frames,
       |  ${img(pix(0))} AS f_first,
       |  ${img(pix(Png.W * Png.H * 3 / 2))} AS f_mid,
       |  ${img(pix(Png.W * Png.H * 3 - 1))} AS f_last
       |FROM (SELECT doc_id, text,
       |        ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 AS INTEGER) + 1] AS mime
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }
}

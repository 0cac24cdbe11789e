package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY §2.10 X4): media payloads as
  * opaque `BinaryType` columns with a typed metadata struct, plus the
  * decode / feature-extract / frame-sample operator shapes a training
  * pipeline runs over them.
  *
  * Decode kernels dispatch on payload CONTENT (magic bytes), not
  * metadata: PNG/JPEG payloads decode through `javax.imageio` — a real
  * pixel decoder, zero extra dependencies — and anything else falls
  * back to the deterministic raw-bytes kernel (byte intensities stand
  * in for pixels), so the same plumbing covers real images and the
  * synthetic text-byte payloads of the test corpus. Video/audio codecs
  * are NOT in this container; their shapes ride the same raw path.
  *
  * Scale: payload bytes stay columnar (parquet BinaryType) and are
  * column-pruned away unless an operator touches them; per-partition
  * batch processing (mapPartitions) amortizes any per-batch codec
  * setup exactly like an Arrow-batched UDF would.
  */
object Multimodal {

  /** Attach a fake media payload to each document: the UTF-8 bytes of
    * its text standing in for an image blob, with a typed metadata
    * struct (format/width/height) derived deterministically — the
    * schema shape real ingestion would produce. */
  def withMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        lit("fake/raw").as("format"),
        (octet_length(encode(col("text"), "UTF-8")) % 640 + 1)
          .cast("int").as("width"),
        (octet_length(encode(col("text"), "UTF-8")) % 480 + 1)
          .cast("int").as("height")).as("meta"))

  /** q29 — pure-Column media metadata extraction: byte length and
    * content hash without decoding (the cheap scan-side pass; fully
    * Catalyst, binary column pruned for queries that skip it). */
  def mediaStats(documents: DataFrame): DataFrame =
    withMedia(documents)
      .select(
        col("doc_id"),
        octet_length(col("media")).cast("long").as("n_bytes"),
        md5(col("media")).as("content_hash"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
      .orderBy("doc_id")

  /** PNG (\x89PNG) or JPEG (\xFF\xD8) magic — the formats
    * `javax.imageio` ships decoders for on every JDK. */
  private def isImage(p: Array[Byte]): Boolean =
    p != null &&
      ((p.length >= 8 && (p(0) & 0xff) == 0x89 &&
        p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8))

  /** Raw-bytes kernel (non-image payloads): byte intensities stand in
    * for pixels — channel i is the mean of bytes ≡ i (mod 8), scaled
    * to [0,1]. Deterministic, content-only. */
  private def rawStats(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      out(i % 8) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    var j = 0
    while (j < 8) { out(j) /= math.max(payload.length / 8, 1); j += 1 }
    out
  }

  /** REAL image kernel: `javax.imageio` decode to pixels, then the
    * aHash-style statistics — mean luminance (mean of R,G,B / 255)
    * over a 2-row × 4-column grid of the image, one value per cell in
    * row-major order. MultimodalSpec checks these against
    * hand-computed pixel averages on generated PNGs. */
  private def imageDecode(payload: Array[Byte]): Array[Float] = {
    val img = javax.imageio.ImageIO
      .read(new java.io.ByteArrayInputStream(payload))
    // caller guarantees img != null (decode() falls back on corrupt
    // payloads); kept as a belt-and-braces guard
    require(img != null, "undecodable image payload")
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](8)
    val counts = new Array[Int](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
          (rgb & 0xff)) / (3.0 * 255.0)
        val cell = math.min(y * 2 / h, 1) * 4 + math.min(x * 4 / w, 3)
        sums(cell) += lum
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](8)
    var i = 0
    while (i < 8) {
      out(i) = (sums(i) / math.max(counts(i), 1)).toFloat; i += 1
    }
    out
  }

  /** Content-dispatched decode: real ImageIO for PNG/JPEG, raw-bytes
    * kernel otherwise. One bad row must never kill a 100 TB batch:
    * null payloads yield zero statistics, and a payload that carries
    * image magic but fails to decode (truncated/corrupt) falls back to
    * the raw-bytes kernel instead of throwing. */
  private def decode(payload: Array[Byte]): Array[Float] =
    if (payload == null) new Array[Float](8)
    else if (isImage(payload)) {
      try imageDecode(payload)
      catch { case _: Exception => rawStats(payload) }
    } else rawStats(payload)

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Feature extraction over media payloads with per-partition batch
    * processing — the Scala analogue of an Arrow-batched decode UDF:
    * one `mapPartitions` pass, codec state initialized once per
    * partition, rows streamed through it. */
  def extractFeatures(documents: DataFrame): DataFrame =
    extractFeaturesFromMedia(withMedia(documents))

  /** Same, over a frame that ALREADY carries (doc_id, media) — the
    * entry point for real ingested payloads. */
  def extractFeaturesFromMedia(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(featureSchema)
    media.select("doc_id", "media").mapPartitions { rows =>
      // per-partition init happens HERE in a real codec (decoder handle)
      rows.map { r =>
        val feats = decode(r.getAs[Array[Byte]]("media"))
        Row(r.getAs[Long]("doc_id"), feats.toSeq)
      }
    }(enc)
  }

  /** Raw-bytes resize (non-image payloads): keeps every `factor`-th
    * byte — deterministic decimation. */
  private def rawDecimate(payload: Array[Byte], factor: Int): Array[Byte] = {
    val out = new Array[Byte]((payload.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = payload(i * factor); i += 1 }
    out
  }

  /** REAL image resize: ImageIO decode → Graphics2D scaled redraw →
    * PNG re-encode. Returns the new payload plus actual output
    * dimensions. */
  private def imageResize(
      payload: Array[Byte], factor: Int): (Array[Byte], Int, Int) = {
    val img = javax.imageio.ImageIO
      .read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "undecodable image payload")
    val nw = math.max(img.getWidth / factor, 1)
    val nh = math.max(img.getHeight / factor, 1)
    val out = new java.awt.image.BufferedImage(
      nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.drawImage(img, 0, 0, nw, nh, null)
    g.dispose()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", baos)
    (baos.toByteArray, nw, nh)
  }

  val resizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media", org.apache.spark.sql.types.BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Resize media payloads by an integer factor: per-partition batch
    * pass (decoder/scaler state initialized once per partition).
    * PNG/JPEG payloads go through the real ImageIO scaler and report
    * ACTUAL output dimensions; raw payloads are byte-decimated with
    * metadata-arithmetic dimensions. */
  def resize(documents: DataFrame, factor: Int = 2): DataFrame =
    resizeMedia(withMedia(documents)
      .select("doc_id", "media", "meta.width", "meta.height"), factor)

  /** Same, over a frame that ALREADY carries
    * (doc_id, media, width, height). */
  def resizeMedia(media: DataFrame, factor: Int): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(resizedSchema)
    media.select("doc_id", "media", "width", "height").mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("media")
        def rawRow = Row(r.getAs[Long]("doc_id"),
          if (payload == null) null else rawDecimate(payload, factor),
          math.max(r.getAs[Int]("width") / factor, 1),
          math.max(r.getAs[Int]("height") / factor, 1))
        if (isImage(payload)) {
          // corrupt image magic: fall back to decimation, don't kill
          // the batch
          try {
            val (scaled, nw, nh) = imageResize(payload, factor)
            Row(r.getAs[Long]("doc_id"), scaled, nw, nh)
          } catch { case _: Exception => rawRow }
        } else rawRow
      }
    }(enc)
  }

  /** Perceptual-hash near-duplicate pairs over the DECODE path — the
    * image-dedup shape (aHash): each media payload decodes to channel
    * statistics ([[extractFeatures]]; a real deployment's 8×8 grayscale
    * averages), bit i of the hash is "statistic i above the mean", and
    * near-dups are found by hash-bucket probing: each doc indexes its
    * hash plus every single-bit flip, so an equi-join on the probe key
    * finds ALL pairs within Hamming distance ≤ 2 without comparing the
    * corpus pairwise; exact `bit_count` verification then applies
    * `maxHamming`. Candidate cost is collision-driven — the join never
    * sees non-colliding pairs, the property that keeps image dedup
    * linear at billions of images. */
  def perceptualNearDups(
      documents: DataFrame, maxHamming: Int = 1): DataFrame = {
    // single-bit probing finds every pair with Hamming ≤ 2 and NOTHING
    // beyond — refuse thresholds the index cannot honor (band the hash
    // into bit-range buckets if a looser radius is ever needed)
    require(maxHamming <= 2,
      s"maxHamming=$maxHamming exceeds the probe index's radius (2)")
    val nBits = 8 // = |decode grid cells|; 64 for a full 8×8 aHash
    val feats = extractFeatures(documents)
    val mean = aggregate(col("features"), lit(0.0d),
      (acc, x) => acc + x.cast("double")) / nBits
    val bits = (0 until nBits).map(i =>
      when(element_at(col("features"), i + 1).cast("double") > col("m"),
        lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val hashed = feats.withColumn("m", mean)
      .select(col("doc_id"), bits.as("phash"))
    // probe keys: the hash itself + all single-bit flips ⇒ two docs
    // share a key iff their hashes differ in ≤ 2 of the flipped bits
    val probes = hashed.select(col("doc_id"), col("phash"),
      explode(array(
        col("phash") +: (0 until nBits).map(b =>
          col("phash").bitwiseXOR(lit(1L << b))): _*)).as("probe"))
    probes.as("a")
      .join(probes.as("b"),
        col("a.probe") === col("b.probe")
          && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_i", "doc_j")
  }

  /** Frame sampling: slice `k` fixed-width byte windows from the
    * payload (a video frame-sampler's access pattern) — pure Column
    * (`substring` on binary), no decode needed. */
  def frameSample(
      documents: DataFrame, k: Int = 4, frameBytes: Int = 16): DataFrame =
    withMedia(documents)
      .select(
        col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${k - 1}), " +
            s"i -> substring(media, i * $frameBytes + 1, $frameBytes))"))
          .as(Seq("frame_no", "frame")))
      .select(
        col("doc_id"), col("frame_no").cast("long").as("frame_no"),
        octet_length(col("frame")).cast("long").as("frame_bytes"),
        md5(col("frame")).as("frame_hash"))
      .filter(col("frame_bytes") > 0)
      .orderBy("doc_id", "frame_no")

  private val PngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G',
    0x0d, 0x0a, 0x1a, 0x0a)
  private val JpegMagic = Array[Byte](0xff.toByte, 0xd8.toByte,
    0xff.toByte, 0xe0.toByte)
  private val WavMagic: Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII")

  /** Content-based media-type sniff of a binary payload column: PNG
    * (8-byte signature), JPEG (FF D8 FF), WAV (RIFF....WAVE), else
    * octet-stream. Pure codegen (`substring` on binary + hex string
    * compares) — the dispatch primitive every decode kernel needs
    * before touching a codec. */
  def sniffType(media: Column): Column = {
    val hx = hex(substring(media, 1, 12))
    when(hx.startsWith("89504E470D0A1A0A"), "image/png")
      .when(hx.startsWith("FFD8FF"), "image/jpeg")
      .when(hx.startsWith("52494646")
        && substring(hx, 17, 8) === "57415645", "audio/wav")
      .otherwise("application/octet-stream")
  }

  /** q228 — magic-byte format audit: the declared-vs-actual media-type
    * table an ingest pipeline materializes before routing payloads to
    * decoders (mis-labeled blobs crash codecs and poison multimodal
    * batches; auditing CONTENT against metadata is the fix). Payloads
    * carry REAL format signatures — the PNG/JPEG/WAV magic prefixes
    * planted by `doc_id % 5` (0→PNG, 1→JPEG, 2→WAV, else headerless)
    * ahead of the UTF-8 text bytes — while the DECLARED type replays
    * `doc_id % 4`; the moduli are coprime, so every (declared,
    * sniffed) mismatch class is populated at every scale factor (the
    * q202 planting convention; the oracle replays both keys). The
    * sniff itself reads the bytes ([[sniffType]]), not the key —
    * MultimodalSpec feeds it payloads whose CONTENT contradicts the
    * planting to prove it.
    *
    * The fixture's text is lowercase-ASCII prose, so a headerless
    * payload can never collide with a signature (PNG's 0x89 and
    * JPEG's 0xFF are non-ASCII lead bytes; WAV would need literal
    * uppercase "RIFF"/"WAVE" at exact offsets).
    *
    * Scale: one map-side projection riding the scan — no shuffle, no
    * explode, binary column pruned for queries that skip it (the
    * q216 mojibake class, on bytes instead of characters). */
  def mediaSniff(documents: DataFrame): DataFrame = {
    val media = documents.select(col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(5)) === 0, lit(PngMagic))
          .when(pmod(col("doc_id"), lit(5)) === 1, lit(JpegMagic))
          .when(pmod(col("doc_id"), lit(5)) === 2, lit(WavMagic))
          .otherwise(lit(Array.empty[Byte])),
        encode(col("text"), "UTF-8")).as("media"),
      when(pmod(col("doc_id"), lit(4)) === 0, "image/png")
        .when(pmod(col("doc_id"), lit(4)) === 1, "image/jpeg")
        .when(pmod(col("doc_id"), lit(4)) === 2, "audio/wav")
        .otherwise("application/octet-stream").as("declared"))
    media.select(col("doc_id"),
        octet_length(col("media")).cast("long").as("n_bytes"),
        col("declared"), sniffType(col("media")).as("sniffed"))
      .withColumn("match_flag",
        when(col("declared") === col("sniffed"), 1L).otherwise(0L))
      .orderBy("doc_id")
  }
}

package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** One ingested media record: an opaque binary payload plus typed
  * metadata. In a real pipeline `payload` holds image/audio/video bytes;
  * here it is the document's UTF-8 bytes, standing in for media content
  * the container has no codecs for.
  */
final case class MediaRecord(doc_id: Long, format: String, payload: Array[Byte])

/** Features extracted from one media record by the (stubbed) decoder. */
final case class MediaFeatures(
    doc_id: Long,
    format: String,
    n_bytes: Long,
    sum_bytes: Long,
    mean_byte: Double,
    head_b64: String,
    n_frames: Long,
    n_sampled: Long,
    resize_n: Long,
    resize_fp: String)

/** Multimodal-column suite: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by a typed `mapPartitions` pipeline.
  *
  * EVERY modality now has a real in-JDK codec path: images — PNG
  * (lossless, byte-exact oracle) in q77/q87 and JPEG (lossy,
  * tolerance-band spec) in q103 via `javax.imageio`; audio — WAV/PCM
  * (lossless, byte-exact oracle) in q108 via `javax.sound.sampled`;
  * video — multi-frame ANIMATED GIF (lossless palette LZW, byte-exact
  * oracle) in q110 via `javax.imageio`'s sequence writer. q33 remains
  * the codec-agnostic BYTE-stub shape on purpose: it deterministically
  * derives features from raw bytes — byte count and sum, base64 of the
  * head, a fake frame-sampler (16-byte "frames", every 4th sampled) —
  * the exact `mapPartitions` harness an out-of-JDK decoder (FFmpeg/JNI
  * for MP4/H.264) would plug into, one partition per decoder instance.
  *
  * Scale design (100 TB): `mapPartitions` keeps decoder init per-partition
  * (not per-row); payloads never shuffle — features are extracted before
  * any wide operation; the output is a narrow projection of the scan.
  */
object Multimodal {

  // q167's frame-energy table materializes through Sources.artifactOnce
  // (fingerprint-keyed, single-writer) at its use site.

  /** q33 — a TOTAL operator: every input row produces a feature row.
    * Empty payloads get defined zero/empty features (no divide-by-zero,
    * no dropped rows) and all per-byte work is byte-based on BOTH sides —
    * the oracle walks the hex encoding of the UTF-8 bytes, so non-ASCII
    * payloads cannot diverge between Spark's byte view and SQL's
    * character view. The resize fingerprint is defined as md5 over the
    * lowercase-hex encoding of the resized bytes (md5 of raw bytes isn't
    * expressible over a BLOB in the oracle engine; hashing the hex is
    * equally collision-resistant and engine-portable).
    */
  val mediaFeatures = Q(
    "q33_multimodal_features",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("source").as("format"), col("text").cast("binary").as("payload"))
        .as[MediaRecord]
        .mapPartitions { it =>
          // decoder init would go here, once per partition
          val md = java.security.MessageDigest.getInstance("MD5")
          it.map { r =>
            val n = r.payload.length.toLong
            var sum = 0L
            var i = 0
            while (i < r.payload.length) { sum += (r.payload(i) & 0xff); i += 1 }
            val frames = (n + 15) / 16
            // "resize": stride-subsample the payload down to ~32 bytes —
            // the stub for a thumbnail/downsample step; fingerprint it
            val stride = math.max(1L, n / 32).toInt
            val resized = Iterator.range(0, r.payload.length, stride)
              .map(r.payload(_)).toArray
            md.reset()
            val fp = md.digest(
              resized.map("%02x".format(_)).mkString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            MediaFeatures(
              r.doc_id, r.format, n, sum,
              if (n == 0) 0.0 else sum.toDouble / n.toDouble,
              java.util.Base64.getEncoder.encodeToString(r.payload.take(8)),
              frames, (frames + 3) / 4,
              resized.length.toLong, fp)
          }
        }
        .toDF()
    },
    Some("""WITH h AS (
              SELECT doc_id, source, hex(encode(text)) AS hx,
                     octet_length(encode(text)) AS nb
              FROM documents),
            sums AS (
              SELECT doc_id,
                     coalesce(list_aggregate(list_transform(
                       generate_series(1, nb),
                       i -> ('0x' || substr(hx, 2*i-1, 2))::BIGINT), 'sum'), 0) AS sb
              FROM h),
            resized AS (
              SELECT doc_id, string_agg(substr(hx, 2*i-1, 2), '' ORDER BY i) AS rs_hex
              FROM (
                SELECT doc_id, hx,
                       unnest(generate_series(1, nb, greatest(1, nb // 32))) AS i
                FROM h) t
              GROUP BY doc_id)
            SELECT h.doc_id, h.source AS format,
            CAST(h.nb AS BIGINT) AS n_bytes,
            CAST(s.sb AS BIGINT) AS sum_bytes,
            CASE WHEN h.nb = 0 THEN 0.0
                 ELSE CAST(s.sb AS DOUBLE) / h.nb END AS mean_byte,
            to_base64(unhex(substr(h.hx, 1, 16))) AS head_b64,
            CAST((h.nb + 15) // 16 AS BIGINT) AS n_frames,
            CAST(((h.nb + 15) // 16 + 3) // 4 AS BIGINT) AS n_sampled,
            CAST(coalesce(length(r.rs_hex), 0) // 2 AS BIGINT) AS resize_n,
            md5(lower(coalesce(r.rs_hex, ''))) AS resize_fp
            FROM h
            JOIN sums s ON s.doc_id = h.doc_id
            LEFT JOIN resized r ON r.doc_id = h.doc_id""")
  )

  /** q75 — FRAME SAMPLING as a row-level pipeline: the payload is cut
    * into 16-byte "frames", every 4th frame is sampled (q33's sampler),
    * and each sampled frame becomes its OWN output row with per-frame
    * features — the batch shape a real video pipeline produces (frame
    * rows feeding a per-frame model), where q33 only reports per-document
    * counts. Declarative end to end: explode over a STRIDED frame-index
    * sequence (`sequence(0, n, 4)` — only sampled frames are ever
    * generated, not explode-all-then-filter-3/4-away; a 4× allocation
    * saving at scale), features from hex-chunk arithmetic — narrow, no
    * shuffle, codegen'd.
    * A document with an empty payload has no frames (zero rows for it is
    * the total-contract answer at frame granularity). The frame
    * fingerprint is md5 over the frame's lowercase hex, portable like
    * q33's resize fingerprint.
    */
  val frameSample = Q(
    "q75_frame_sample",
    (s, d) => {
      val sumExpr = "aggregate(transform(sequence(1, length(fh) div 2), " +
        "j -> CAST(conv(substring(fh, 2*j-1, 2), 16, 10) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
      Tables.documents(s, d)
        .select(col("doc_id"),
          lower(hex(col("text").cast("binary"))).as("hx"),
          length(col("text").cast("binary")).cast("long").as("nb"))
        .where(col("nb") > 0)
        .select(col("doc_id"), col("hx"),
          explode(expr("sequence(0, CAST((nb + 15) div 16 AS INT) - 1, 4)")).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          expr("substring(hx, frame_idx * 32 + 1, 32)").as("fh"))
        .select(col("doc_id"), col("frame_idx"),
          (length(col("fh")) / 2).cast("long").as("frame_bytes"),
          expr(sumExpr).as("frame_sum"),
          md5(col("fh").cast("binary")).as("frame_fp"))
    },
    Some("""WITH h AS (
              SELECT doc_id, lower(hex(encode(text))) AS hx,
                     octet_length(encode(text)) AS nb
              FROM documents WHERE octet_length(encode(text)) > 0),
            fs AS (
              SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                     substr(hx, frame_idx * 32 + 1, 32) AS fh
              FROM (
                SELECT doc_id, hx,
                       unnest(generate_series(0, CAST((nb + 15) // 16 AS INT) - 1, 4))
                         AS frame_idx
                FROM h) fr)
            SELECT doc_id, frame_idx,
                   CAST(length(fh) // 2 AS BIGINT) AS frame_bytes,
                   CAST(list_aggregate(list_transform(
                          generate_series(1, length(fh) // 2),
                          j -> ('0x' || substr(fh, 2*j-1, 2))::BIGINT), 'sum')
                        AS BIGINT) AS frame_sum,
                   md5(fh) AS frame_fp
            FROM fs""")
  )

  /** q77 — REAL-CODEC image pipeline: encode → decode → resize → feature
    * with an actual codec (PNG via `javax.imageio`, which ships with the
    * JDK — no external media libs needed), replacing q33's hex-stub for
    * this one format. Stage 1 ingests: each document becomes a synthetic
    * RGB image whose pixels follow a closed form over (doc_id, x, y),
    * PNG-encoded inside `mapPartitions` into a binary payload column —
    * the multimodal ingest shape. Stage 2 decodes: `ImageIO.read` on the
    * payload bytes, nearest-neighbor resize to 8×4 (integer stride —
    * exact), per-channel byte sums and an md5 fingerprint of the resized
    * pixels' hex. PNG is lossless, so the decoded pixels must equal the
    * closed form EXACTLY — which is what lets DuckDB (no image support)
    * oracle-check a real codec byte-for-byte: it recomputes the resized
    * pixels from the generator's closed form. Any codec bug — color
    * shift, row order, stride error — breaks the hash.
    *
    * Scale shape: both stages are `mapPartitions` (codec init once per
    * partition), payloads never shuffle, output is a narrow projection.
    */
  /** Closed-form synthetic RGB image for `doc_id`, PNG-encoded. Shared by
    * q77 (in-flight payloads) and q87 (individual files); dims and pixel
    * values are a pure function of (id, x, y) that the DuckDB oracle
    * recomputes in SQL — exactly ONE copy of the formula may exist on the
    * Spark side, or the two queries' oracles could silently diverge.
    */
  private def renderPng(id: Long): Array[Byte] = {
    val w = 16 + (id % 3).toInt * 8 // 16 | 24 | 32
    val h = 8 + (id % 2).toInt * 8 // 8 | 16
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 5 + y * 11) % 256).toInt
        val b = ((id * 23 + x * 3 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode → nearest-neighbor 8×4 resize → per-channel sums + pixel-hex
    * md5. The single decode kernel behind q77/q87.
    */
  private def decodeFeatures(id: Long, bytes: Array[Byte],
      md: java.security.MessageDigest): (Long, Long, Long, Long, Long, Long, String) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w = img.getWidth
    val h = img.getHeight
    val strideX = w / 8
    val strideY = h / 4
    val hexes = new StringBuilder
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var y = 0
    while (y < 4) {
      var x = 0
      while (x < 8) {
        val rgb = img.getRGB(x * strideX, y * strideY)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        sumR += r; sumG += g; sumB += b
        hexes.append(f"$r%02x$g%02x$b%02x")
        x += 1
      }
      y += 1
    }
    md.reset()
    val fp = md.digest(hexes.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (id, w.toLong, h.toLong, sumR, sumG, sumB, fp)
  }

  /** ImageIO's default stream plumbing caches every image stream in a
    * TEMP FILE (`ImageIO.getUseCache` is true out of the box) — one
    * disk round-trip per image, pure overhead when the payload is an
    * in-memory byte array. Every codec partition calls this in its
    * init so encode/decode streams stay on-heap. (JVM-global flag;
    * setting it repeatedly is idempotent.)
    */
  private def imageIoOnHeap(): Unit = javax.imageio.ImageIO.setUseCache(false)

  val pngDecode = Q(
    "q77_png_decode",
    (s, d) => {
      import s.implicits._
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          // encoder init once per partition (ImageIO plugin lookup)
          imageIoOnHeap()
          it.map(id => (id, renderPng(id)))
        }
      encoded.mapPartitions { it =>
        imageIoOnHeap()
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) => decodeFeatures(id, bytes, md) }
      }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "px_fp")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     16 + (doc_id % 3) * 8 AS w,
                     8 + (doc_id % 2) * 8 AS h
              FROM documents),
            vals AS (
              SELECT doc_id, w, h, x, y,
                     (doc_id * 31 + (x * (w // 8)) * 7 + (y * (h // 4)) * 13) % 256 AS r,
                     (doc_id * 17 + (x * (w // 8)) * 5 + (y * (h // 4)) * 11) % 256 AS g,
                     (doc_id * 23 + (x * (w // 8)) * 3 + (y * (h // 4)) * 19) % 256 AS b
              FROM dims,
                   (SELECT unnest(generate_series(0, 7)) AS x) xs,
                   (SELECT unnest(generate_series(0, 3)) AS y) ys)
            SELECT doc_id,
                   CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b,
                   md5(string_agg(format('{:02x}{:02x}{:02x}', r, g, b), ''
                       ORDER BY y, x)) AS px_fp
            FROM vals GROUP BY doc_id, w, h""")
  )

  /** Closed-form SMOOTH synthetic RGB image for the JPEG (lossy) path.
    * Unlike `renderPng`'s per-pixel modular arithmetic (noise-like —
    * fine for a lossless codec, hostile to DCT compression), this one is
    * built from clamped linear gradients: the kind of low-frequency
    * content JPEG is designed for, so a quality-0.8 encode stays within a
    * tight, assertable error band. Integer closed form throughout — the
    * tolerance spec recomputes it exactly.
    */
  private[graft] def jpegDims(id: Long): (Int, Int) =
    (48 + (id % 3).toInt * 16, 32 + (id % 2).toInt * 16) // 48|64|80 × 32|48

  private[graft] def jpegPixel(id: Long, x: Int, y: Int): (Int, Int, Int) = {
    val base = (id % 64).toInt
    val r = math.min(255, base + x * 3)
    val g = math.min(255, base + y * 5)
    val b = math.max(0, 255 - (x + y) * 2)
    (r, g, b)
  }

  private def renderJpeg(id: Long,
      writer: javax.imageio.ImageWriter,
      param: javax.imageio.ImageWriteParam): Array[Byte] = {
    val (w, h) = jpegDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = jpegPixel(id, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally ios.close()
    bos.toByteArray
  }

  /** q103 — JPEG LOSSY-codec image pipeline: the q77 shape (closed-form
    * render → encode → decode → feature) through a real lossy codec
    * (`javax.imageio` JPEG at explicit quality 0.8 — ships with the JDK).
    *
    * WHY PIXELS CANNOT BE HASHED: a JPEG decode's exact pixel values
    * are implementation-defined — the standard fixes the bitstream, not
    * the IDCT rounding, so two conformant decoders (or two JDK versions)
    * may differ by ±1 per sample. Byte-exact comparison (q77's PNG
    * contract) is therefore unportable BY THE CODEC'S OWN SPEC. The
    * registered query is still FULLY hash-gated (r13 verdict task 6,
    * via the q172/q208 audit-boolean discipline): the portable columns
    * (dims — bitstream-fixed — and raw byte count) are emitted exactly,
    * and every implementation-defined quantity is emitted as an AUDIT
    * BOOLEAN the oracle expects TRUE — compression real, MAE ≤ 4,
    * PSNR ≥ 30 dB, per-channel decoded sums within the band of the
    * closed form. The tolerances are `JpegCodecSpec`'s, moved into the
    * query; the spec keeps the raw-feature view ([[jpegFeatures]]) for
    * its determinism and per-JDK pixel-hash pins, and at 100 TB the
    * same raw view feeds codec-drift monitoring (a decoder regression
    * is a psnr distribution shift).
    *
    * Scale shape matches q77: both stages `mapPartitions` (writer
    * instance + its native buffers once per partition, not per image),
    * payloads never shuffle, narrow projection out.
    */
  private[graft] def jpegFeatures(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      // the codec loop is map-only, so its parallelism is the scan's
      // split count, and the local documents table is ONE parquet file
      // (the q270 single-core lesson, r15): fan the 8-byte id relation
      // out by doc_id BEFORE any payload exists — media bytes still
      // never shuffle (PlanSpec gates every Exchange as id-keyed), and
      // at 100 TB the scan is already wide so this exchange would not
      // exist
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(32, col("doc_id"))
        .mapPartitions { it =>
          // writer + explicit-quality param once per partition
          imageIoOnHeap()
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
          val param = writer.getDefaultWriteParam
          param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
          param.setCompressionQuality(0.8f)
          // completion-aware wrapper: dispose() the writer's native
          // ImageIO resources when the partition drains, instead of
          // leaving them to GC finalization (per-partition teardown is
          // the other half of the per-partition setup discipline)
          val base = it.map(id => (id, renderJpeg(id, writer, param)))
          new Iterator[(Long, Array[Byte])] {
            private var disposed = false
            def hasNext: Boolean = {
              val h = base.hasNext
              if (!h && !disposed) { disposed = true; writer.dispose() }
              h
            }
            def next(): (Long, Array[Byte]) = base.next()
          }
        }
      encoded.mapPartitions { it =>
        imageIoOnHeap()
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val w = img.getWidth
          val h = img.getHeight
          var sumR = 0L; var sumG = 0L; var sumB = 0L
          var absErr = 0L; var sqErr = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val dr = (rgb >> 16) & 0xff
              val dg = (rgb >> 8) & 0xff
              val db = rgb & 0xff
              sumR += dr; sumG += dg; sumB += db
              val (er, eg, eb) = jpegPixel(id, x, y)
              absErr += math.abs(dr - er) + math.abs(dg - eg) + math.abs(db - eb)
              val d1 = dr - er; val d2 = dg - eg; val d3 = db - eb
              sqErr += d1 * d1 + d2 * d2 + d3 * d3
              x += 1
            }
            y += 1
          }
          val n = 3L * w * h
          val mse = sqErr.toDouble / n
          val psnr = if (mse == 0.0) 99.0 else 10.0 * math.log10(255.0 * 255.0 / mse)
          (id, w.toLong, h.toLong, bytes.length.toLong, 3L * w * h,
            sumR, sumG, sumB, absErr.toDouble / n, psnr)
        }
      }.toDF("doc_id", "width", "height", "jpeg_bytes", "raw_bytes",
        "sum_r", "sum_g", "sum_b", "mae", "psnr")
  }

  val jpegDecode = Q(
    "q103_jpeg_decode",
    (s, d) => {
      // closed-form channel sums for the audit band, as pure integer
      // arithmetic (no per-pixel HOF work — an earlier aggregate()
      // spelling cost 2.4 s/run at sf0.1, BASELINE.md r14):
      //   r = min(255, base + 3x) clamps from x = k ( = #unclamped
      //       columns); er = h·(k·base + 3·k(k−1)/2 + (w−k)·255)
      //   g symmetric with step 5 over y
      //   b = max(0, 255 − 2(x+y)) NEVER clamps at these dims
      //       (max x+y = 126 ⇒ b ≥ 3): eb = w·h·(255 − (w−1) − (h−1))
      val f = jpegFeatures(s, d)
        .withColumn("base", col("doc_id") % 64)
        .withColumn("kx", expr("least(width, (255 - base) div 3 + 1)"))
        .withColumn("ky", expr("least(height, (255 - base) div 5 + 1)"))
        .withColumn("er", expr(
          "height * (kx * base + 3 * (kx * (kx - 1) div 2) + (width - kx) * 255)"))
        .withColumn("eg", expr(
          "width * (ky * base + 5 * (ky * (ky - 1) div 2) + (height - ky) * 255)"))
        .withColumn("eb", expr(
          "width * height * (255 - (width - 1) - (height - 1))"))
        // Channel-sum slack DERIVED from the audited mae bound (ADVICE
        // r14): |Σ_c(dec−exp)| ≤ Σ_rgb|dec−exp| = 3·w·h·mae ≤ 12·w·h,
        // so no conformant decoder that keeps the audited mae ≤ 4 can
        // flip a sum boolean — even one that concentrates all its error
        // in one channel (mae averages over 3 channels, so a single
        // channel may carry up to ~12/pixel). The sum audits therefore
        // add signal only below the mae gate's ceiling: they pin the
        // SIGNED per-channel drift a future decoder would need to stay
        // inside, without putting an unaudited tighter band inside the
        // oracle hash comparison.
        .withColumn("slack", lit(12L) * col("width") * col("height"))
      f.select(col("doc_id"), col("width"), col("height"), col("raw_bytes"),
        (col("jpeg_bytes") > 0L && col("jpeg_bytes") < col("raw_bytes")).as("compressed"),
        (col("mae") <= 4.0).as("mae_ok"),
        (col("psnr") >= 30.0).as("psnr_ok"),
        (abs(col("sum_r") - col("er")) <= col("slack")).as("sum_r_ok"),
        (abs(col("sum_g") - col("eg")) <= col("slack")).as("sum_g_ok"),
        (abs(col("sum_b") - col("eb")) <= col("slack")).as("sum_b_ok"))
    },
    // The oracle recomputes the portable columns from the closed form
    // and expects every implementation-defined audit to hold: the hash
    // gate proves dims/raw_bytes exactly and the codec bands by value.
    Some("""SELECT doc_id,
                   CAST(48 + (doc_id % 3) * 16 AS BIGINT) AS width,
                   CAST(32 + (doc_id % 2) * 16 AS BIGINT) AS height,
                   CAST(3 * (48 + (doc_id % 3) * 16) * (32 + (doc_id % 2) * 16) AS BIGINT)
                     AS raw_bytes,
                   TRUE AS compressed, TRUE AS mae_ok, TRUE AS psnr_ok,
                   TRUE AS sum_r_ok, TRUE AS sum_g_ok, TRUE AS sum_b_ok
            FROM documents""")
  )

  /** Closed-form 16-bit PCM waveform for `doc_id`: integer samples in
    * [-1000, 1000], length varying per doc. Pure integer arithmetic so
    * the DuckDB oracle recomputes every sample exactly.
    */
  private[graft] def wavSamples(id: Long): Array[Short] = {
    val n = 800 + (id % 5).toInt * 80
    Array.tabulate(n)(i => (((id * 7 + i.toLong * 13) % 2001) - 1000).toShort)
  }

  /** q108 — REAL-codec AUDIO pipeline, the WAV/PCM analogue of q77's
    * PNG path (`javax.sound.sampled` ships with the JDK — no external
    * media libs): each document becomes a closed-form 16-bit mono PCM
    * waveform, WAV-encoded inside `mapPartitions` into a binary payload,
    * then DECODED back through `AudioSystem` and reduced to integer
    * features plus an md5 fingerprint of the decimal sample string. WAV
    * is a lossless CONTAINER around raw PCM, so the decoded samples must
    * equal the closed form EXACTLY — DuckDB (no audio support) oracles a
    * real audio codec byte-for-byte by recomputing the waveform in SQL,
    * the q77 trick. Any codec bug — endianness, sign convention, frame
    * size, header misparse — breaks the hash. (Video gets the same
    * treatment via animated GIF in q110.)
    *
    * Scale shape matches q77/q103: both stages `mapPartitions` (format
    * objects and stream plumbing once per partition), payloads never
    * shuffle, narrow projection out.
    */
  val wavAudio = Q(
    "q108_wav_audio",
    (s, d) => {
      import s.implicits._
      val fmt = () => new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      // NO id fan-out here, unlike q103/q110: WAV encode is ~µs/doc, so
      // the q270-style repartition COSTS more than it buys (A/B'd at
      // sf0.1: 0.98 s single-split vs 1.74 s fanned — the exchange+stage
      // overhead exceeds the codec work it parallelizes)
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val format = fmt()
          it.map { id =>
            val samples = wavSamples(id)
            val pcm = new Array[Byte](samples.length * 2)
            var i = 0
            while (i < samples.length) { // little-endian 16-bit
              pcm(2 * i) = (samples(i) & 0xff).toByte
              pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
              i += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), format, samples.length.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            (id, bos.toByteArray)
          }
        }
      encoded.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val samples = Array.tabulate(n) { i =>
            (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
          }
          var sum = 0L; var sumAbs = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          samples.foreach { v =>
            sum += v; sumAbs += math.abs(v.toLong)
            mn = math.min(mn, v.toLong); mx = math.max(mx, v.toLong)
          }
          md.reset()
          val fp = md.digest(samples.mkString(",").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (id, n.toLong, sum, sumAbs, mn, mx, fp)
        }
      }.toDF("doc_id", "n_samples", "sum_s", "sum_abs", "min_s", "max_s", "sample_fp")
    },
    Some("""WITH dims AS (
              SELECT doc_id, 800 + (doc_id % 5) * 80 AS n FROM documents),
            smp AS (
              SELECT doc_id, i,
                     ((doc_id * 7 + i * 13) % 2001) - 1000 AS s
              FROM (SELECT doc_id, n, unnest(generate_series(0, CAST(n AS INT) - 1)) AS i
                    FROM dims) t)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(s) AS BIGINT) AS sum_s,
                   CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
                   CAST(min(s) AS BIGINT) AS min_s,
                   CAST(max(s) AS BIGINT) AS max_s,
                   md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS sample_fp
            FROM smp GROUP BY doc_id""")
  )

  /** Closed-form frame generation for the GIF video path: a bounded
    * 16-color palette (GIF is palette-based; staying ≤ 256 colors keeps
    * the LZW encode LOSSLESS) and a per-(doc, frame, x, y) palette
    * index, both pure integer closed forms the DuckDB oracle recomputes.
    */
  private[graft] def gifDims(id: Long): (Int, Int, Int) =
    (16 + (id % 2).toInt * 8, 8, 3 + (id % 3).toInt) // (w 16|24, h 8, frames 3|4|5)

  private[graft] def gifPaletteRgb(k: Int): (Int, Int, Int) =
    ((k * 37 + 11) % 256, (k * 59 + 7) % 256, (k * 83 + 3) % 256)

  private[graft] def gifPixelIdx(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 7 + f * 11 + x * 3 + y * 5) % 16).toInt

  private def gifColorModel: java.awt.image.IndexColorModel = {
    val r = new Array[Byte](16); val g = new Array[Byte](16); val b = new Array[Byte](16)
    var k = 0
    while (k < 16) {
      val (pr, pg, pb) = gifPaletteRgb(k)
      r(k) = pr.toByte; g(k) = pg.toByte; b(k) = pb.toByte
      k += 1
    }
    new java.awt.image.IndexColorModel(8, 16, r, g, b)
  }

  private def renderGif(id: Long, writer: javax.imageio.ImageWriter,
      icm: java.awt.image.IndexColorModel): Array[Byte] = {
    val (w, h, nf) = gifDims(id)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nf) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, gifPixelIdx(id, f, x, y))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally ios.close()
    bos.toByteArray
  }

  /** q110 — REAL-codec VIDEO pipeline, closing the last stubbed
    * modality: a multi-frame ANIMATED GIF is a genuine in-JDK,
    * frame-indexed video container (`javax.imageio`'s GIF writer
    * supports `canWriteSequence`; LZW over a ≤ 256-color palette is
    * LOSSLESS), so the q77/q108 byte-exact-oracle move applies to
    * moving pictures too. Each document becomes 3–5 closed-form
    * palette-bounded frames (q75's frame discipline × q77's codec
    * discipline) encoded into ONE GIF payload per doc, then decoded
    * frame-by-frame through an `ImageReader` and reduced to per-frame
    * rows — per-channel sums and a pixel-hex md5 — the batch shape a
    * per-frame model consumes (q75's row contract, now through a real
    * codec). Any codec bug — palette mix-up, frame order, interlace,
    * LZW corruption — breaks the hash; DuckDB recomputes palette and
    * pixels in closed form.
    *
    * Scale shape matches q77/q103/q108: both stages `mapPartitions`
    * (writer/reader + palette model once per partition, disposed when
    * the partition drains), payloads never shuffle (PlanSpec: no
    * Exchange), output is a narrow frame-row projection.
    */
  val gifVideo = Q(
    "q110_gif_video",
    (s, d) => {
      import s.implicits._
      // id fan-out before payload creation (q103's comment)
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .repartition(32, col("doc_id"))
        .mapPartitions { it =>
          imageIoOnHeap()
          val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
          require(writer.canWriteSequence, "JDK GIF writer must support sequences")
          val icm = gifColorModel
          val base = it.map(id => (id, renderGif(id, writer, icm)))
          new Iterator[(Long, Array[Byte])] {
            private var disposed = false
            def hasNext: Boolean = {
              val h = base.hasNext
              if (!h && !disposed) { disposed = true; writer.dispose() }
              h
            }
            def next(): (Long, Array[Byte]) = base.next()
          }
        }
      encoded.mapPartitions { it =>
        imageIoOnHeap()
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        val md = java.security.MessageDigest.getInstance("MD5")
        val base = it.flatMap { case (id, bytes) =>
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          reader.setInput(iis, false, true) // seekable; ignore metadata
          val nf = reader.getNumImages(true)
          (0 until nf).map { f =>
            val img = reader.read(f)
            val w = img.getWidth
            val h = img.getHeight
            val hexes = new StringBuilder
            var sumR = 0L; var sumG = 0L; var sumB = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val r = (rgb >> 16) & 0xff
                val g = (rgb >> 8) & 0xff
                val b = rgb & 0xff
                sumR += r; sumG += g; sumB += b
                hexes.append(f"$r%02x$g%02x$b%02x")
                x += 1
              }
              y += 1
            }
            md.reset()
            val fp = md.digest(hexes.toString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            (id, f.toLong, w.toLong, h.toLong, nf.toLong, sumR, sumG, sumB, fp)
          }
        }
        new Iterator[(Long, Long, Long, Long, Long, Long, Long, Long, String)] {
          private var disposed = false
          def hasNext: Boolean = {
            val h = base.hasNext
            if (!h && !disposed) { disposed = true; reader.dispose() }
            h
          }
          def next(): (Long, Long, Long, Long, Long, Long, Long, Long, String) = base.next()
        }
      }.toDF("doc_id", "frame_idx", "width", "height", "n_frames",
        "sum_r", "sum_g", "sum_b", "px_fp")
    },
    Some("""WITH gdims AS (
              SELECT doc_id, 16 + (doc_id % 2) * 8 AS w, 8 AS h,
                     3 + (doc_id % 3) AS nf
              FROM documents),
            fr AS (SELECT doc_id, w, h, nf,
                          unnest(generate_series(0, CAST(nf AS INT) - 1)) AS f
                   FROM gdims),
            gxs AS (SELECT doc_id, w, h, nf, f,
                           unnest(generate_series(0, CAST(w AS INT) - 1)) AS x
                    FROM fr),
            gpx AS (SELECT doc_id, w, h, nf, f, x,
                           unnest(generate_series(0, CAST(h AS INT) - 1)) AS y
                    FROM gxs),
            pal AS (SELECT k, (k * 37 + 11) % 256 AS r, (k * 59 + 7) % 256 AS g,
                           (k * 83 + 3) % 256 AS b
                    FROM (SELECT unnest(generate_series(0, 15)) AS k) ks),
            v AS (SELECT p.doc_id, p.w, p.h, p.nf, p.f, p.x, p.y,
                         pal.r, pal.g, pal.b
                  FROM gpx p JOIN pal
                    ON pal.k = (p.doc_id * 7 + p.f * 11 + p.x * 3 + p.y * 5) % 16)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                   CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                   CAST(nf AS BIGINT) AS n_frames,
                   CAST(sum(r) AS BIGINT) AS sum_r,
                   CAST(sum(g) AS BIGINT) AS sum_g,
                   CAST(sum(b) AS BIGINT) AS sum_b,
                   md5(string_agg(format('{:02x}{:02x}{:02x}', r, g, b), ''
                       ORDER BY y, x)) AS px_fp
            FROM v GROUP BY doc_id, f, w, h, nf""")
  )

  /** q87 — the BINARY-FILE source, the lake-native multimodal ingest
    * path: q77's generated PNGs are written as individual `.png` FILES
    * by the executors (one file per image, the layout a crawler or
    * export job actually produces), then read back with Spark's
    * `binaryFile` source — (path, length, content) rows, doc id parsed
    * from the file name — and decoded/resized/fingerprinted exactly as
    * q77. Same closed-form oracle: the connector and the codec must
    * round-trip every byte. Scratch keying/cleanup follows `Sources`
    * (shared-FS contract on a real cluster); at 100 TB this source
    * scales by file listing parallelism and never funnels bytes through
    * the driver.
    */
  val binaryFiles = Q(
    "q87_binary_files",
    (s, d) => {
      import s.implicits._
      val out = graft.sources.Sources.scratchLeaf(d, "png_files")
      graft.sources.StoreManifest.hfs(s, out).mkdirs(new org.apache.hadoop.fs.Path(out))
      // the DRIVER's Hadoop conf, broadcast to the executors: a bare
      // `new Configuration()` executor-side would drop every
      // spark.hadoop.* session setting (s3a credentials, endpoints), so
      // the documented SPARK_GRAFT_SCRATCH=s3a://… path would fail to
      // authenticate
      val hconfB = org.apache.spark.sql.graftbridge.Bridge.broadcastHadoopConf(s)
      // executor-side file writes (an action): one PNG per document, via
      // the Hadoop FS resolved from the path URI on each executor — so a
      // URI scratch root (SPARK_GRAFT_SCRATCH=s3://…/hdfs://…) has every
      // executor writing to, and the binaryFile listing reading from,
      // the same shared filesystem (the Sources scratch contract;
      // java.io.File here would scatter files across executor-local
      // disks on a real cluster)
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .foreachPartition { (it: Iterator[Long]) =>
          imageIoOnHeap()
          // two write paths with one contract: a URI scratch root
          // (s3a://…, hdfs://…) goes through the Hadoop FS resolved from
          // the path, so all executors target the shared store; a plain
          // local path takes java.nio directly — Hadoop's local FS costs
          // ~15–25 ms PER FILE here (a .crc sidecar via the checksum
          // layer, plus a shelled-out chmod when native IO is absent),
          // which is 15× the actual 1 KB image write
          val uri = java.net.URI.create(out)
          if (uri.getScheme == null || uri.getScheme == "file") {
            val dir = java.nio.file.Paths.get(
              if (uri.getScheme == null) out else uri.getPath)
            java.nio.file.Files.createDirectories(dir)
            it.foreach { id =>
              java.nio.file.Files.write(dir.resolve(s"$id.png"), renderPng(id))
            }
          } else {
            val root = new org.apache.hadoop.fs.Path(out)
            val fs = root.getFileSystem(hconfB.value)
            fs.mkdirs(root)
            it.foreach { id =>
              val os = fs.create(new org.apache.hadoop.fs.Path(root, s"$id.png"), true)
              try os.write(renderPng(id)) finally os.close()
            }
          }
        }
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(out)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.png$", 1).cast("long").as("doc_id"),
          col("content"))
      files.as[(Long, Array[Byte])].mapPartitions { it =>
        imageIoOnHeap()
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) => decodeFeatures(id, bytes, md) }
      }.toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b", "px_fp")
    },
    pngDecode.oracle // identical semantics: the file round-trip must not change a byte
  )

  /** q145 — AUDIO RESAMPLING (2:1 decimation), the full DSP chain over
    * q108's corpus: decode each WAV payload through `AudioSystem` (real
    * codec, not the closed form — a decode bug surfaces here), average
    * adjacent sample pairs into a 4 kHz waveform, RE-ENCODE as WAV at
    * the new rate, decode again, and emit the half-rate features +
    * fingerprint. The pair average is pure integer arithmetic biased
    * into non-negative range before the divide —
    * `((s0 + s1 + 2000) / 2) − 1000` — because `/` truncates toward
    * zero in Scala but floors in some engines; on non-negative operands
    * every convention agrees, so the DuckDB oracle reproduces each
    * output sample bit-exactly from the closed form (q108's inputs are
    * always even-length, so no tail sample is dropped).
    *
    * Scale shape: same as q108 — both codec stages inside
    * `mapPartitions` (format objects once per partition), payloads never
    * shuffle, the downsampled payload is HALF the input (resampling is
    * the step that makes a 100 TB audio corpus cheaper downstream, so
    * the pipeline must not inflate it back).
    */
  val wavResample = Q(
    "q145_wav_resample",
    (s, d) => {
      import s.implicits._
      val fmt8k = () => new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val fmt4k = () => new javax.sound.sampled.AudioFormat(4000f, 16, 1, true, false)
      def toPcm(samples: Array[Short]): Array[Byte] = {
        val pcm = new Array[Byte](samples.length * 2)
        var i = 0
        while (i < samples.length) {
          pcm(2 * i) = (samples(i) & 0xff).toByte
          pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
          i += 1
        }
        pcm
      }
      def fromPcm(raw: Array[Byte]): Array[Short] =
        Array.tabulate(raw.length / 2) { i =>
          (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
        }
      def wavEncode(samples: Array[Short],
          format: javax.sound.sampled.AudioFormat): Array[Byte] = {
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(toPcm(samples)), format, samples.length.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val format = fmt8k()
          it.map(id => (id, wavEncode(wavSamples(id), format)))
        }
      encoded.mapPartitions { it =>
        val format = fmt4k()
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val in = fromPcm(javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes)).readAllBytes())
          val half = Array.tabulate(in.length / 2) { i =>
            ((in(2 * i) + in(2 * i + 1) + 2000) / 2 - 1000).toShort
          }
          val out = fromPcm(javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(wavEncode(half, format))).readAllBytes())
          var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          out.foreach { v =>
            sum += v; mn = math.min(mn, v.toLong); mx = math.max(mx, v.toLong)
          }
          md.reset()
          val fp = md.digest(out.mkString(",").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (id, out.length.toLong, sum, mn, mx, fp)
        }
      }.toDF("doc_id", "n_samples", "sum_s", "min_s", "max_s", "sample_fp")
    },
    Some("""WITH dims AS (
              SELECT doc_id, 800 + (doc_id % 5) * 80 AS n FROM documents),
            half AS (
              SELECT doc_id, i,
                     ((((doc_id * 7 + (2 * i) * 13) % 2001) - 1000)
                      + (((doc_id * 7 + (2 * i + 1) * 13) % 2001) - 1000)
                      + 2000) // 2 - 1000 AS s
              FROM (SELECT doc_id, n, unnest(generate_series(0, CAST(n AS INT) // 2 - 1)) AS i
                    FROM dims) t)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(s) AS BIGINT) AS sum_s,
                   CAST(min(s) AS BIGINT) AS min_s,
                   CAST(max(s) AS BIGINT) AS max_s,
                   md5(string_agg(CAST(s AS VARCHAR), ',' ORDER BY i)) AS sample_fp
            FROM half GROUP BY doc_id""")
  )

  /** Closed-form grayscale "photo" for the perceptual-hash path: a fixed
    * 32×16 frame whose STRUCTURE is a quadratic pattern selected by
    * `doc_id % 7` and whose uniform BRIGHTNESS offset is `(doc_id % 5)·8`
    * — the transformation (global exposure shift) a perceptual hash must
    * be invariant to, applied in closed form so the oracle can replay it.
    * Pattern values stay ≤ 199 + 32 < 256, so no channel clamps.
    */
  private def renderAhashPng(id: Long): Array[Byte] = {
    val c = (id % 7).toInt
    val delta = (id % 5).toInt * 8
    val img = new java.awt.image.BufferedImage(
      32, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 32) {
        val v = ((c + 3) * x * x + (2 * c + 5) * y * y + (c + 1) * x * y) % 200 + delta
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** q164 — PERCEPTUAL-HASH IMAGE DEDUP (average hash): the multimodal
    * twin of q22's exact text dedup, and the first pass of every
    * image-corpus dedup pipeline: two images are "the same picture" when
    * their 64-bit aHash matches, not when their bytes do. Stage 1
    * renders each document's closed-form grayscale frame and PNG-encodes
    * it (real codec, q77's discipline); stage 2 decodes and computes the
    * aHash — partition the 32×16 frame into an 8×8 grid of 4×2 blocks,
    * set bit (by,bx) iff that block's mean exceeds the global mean. All
    * integer arithmetic: `blockSum·64 > totalSum` avoids division, so
    * the hash is exact on both engines and the DuckDB oracle replays
    * pixels → blocks → bits → groups bit-for-bit. The generator plants
    * the invariance the hash claims: 5 brightness variants per pattern
    * share one hash (block mean and global mean shift equally — the
    * `·64` cross-multiply cancels the offset), so 35 (pattern,
    * brightness) byte-distinct classes collapse to exactly 7 perceptual
    * groups; `n_brightness = 5` in every output row is the invariance
    * made visible, and `AhashSpec` pins both halves (collapse + pattern
    * separation) independently of the oracle.
    *
    * Scale shape: hash extraction is a per-image map fused into the
    * decode `mapPartitions` — payloads NEVER shuffle (PlanSpec-gated);
    * the only wide op is a metadata groupBy on the 64-bit signature
    * (hash + doc_id, the q22 fingerprint-shuffle discipline). At 100 TB
    * the Hamming-near variant buckets this same signature by bands —
    * q83/q104's SimHash machinery applies unchanged.
    */
  val ahashDedup = Q(
    "q164_ahash_dedup",
    (s, d) => {
      import s.implicits._
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          imageIoOnHeap()
          it.map(id => (id, renderAhashPng(id)))
        }
      val hashed = encoded.mapPartitions { it =>
        imageIoOnHeap()
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val bs = Array.ofDim[Long](8, 8)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 32) {
              bs(y / 2)(x / 4) += (img.getRGB(x, y) & 0xff).toLong
              x += 1
            }
            y += 1
          }
          val t = bs.map(_.sum).sum
          val sb = new StringBuilder(64)
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 8) {
              sb.append(if (bs(by)(bx) * 64 > t) '1' else '0')
              bx += 1
            }
            by += 1
          }
          (id, sb.toString)
        }
      }.toDF("doc_id", "phash")
      hashed.groupBy("phash")
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_images"),
          countDistinct(col("doc_id") % 7).as("n_patterns"),
          countDistinct(col("doc_id") % 5).as("n_brightness"))
    },
    Some("""WITH px AS (
              SELECT doc_id, x, y,
                     (((doc_id % 7) + 3) * x * x + (2 * (doc_id % 7) + 5) * y * y
                      + ((doc_id % 7) + 1) * x * y) % 200 + (doc_id % 5) * 8 AS v
              FROM documents,
                   (SELECT unnest(generate_series(0, 31)) AS x) xs,
                   (SELECT unnest(generate_series(0, 15)) AS y) ys),
            blk AS (
              SELECT doc_id, x // 4 AS bx, y // 2 AS by, sum(v) AS bs
              FROM px GROUP BY doc_id, x // 4, y // 2),
            tot AS (SELECT doc_id, sum(bs) AS t FROM blk GROUP BY doc_id),
            ah AS (
              SELECT b.doc_id,
                     string_agg(CASE WHEN b.bs * 64 > t.t THEN '1' ELSE '0' END,
                                '' ORDER BY b.by, b.bx) AS phash
              FROM blk b JOIN tot t USING (doc_id)
              GROUP BY b.doc_id)
            SELECT phash, min(doc_id) AS keeper_id,
                   CAST(count(*) AS BIGINT) AS n_images,
                   CAST(count(DISTINCT doc_id % 7) AS BIGINT) AS n_patterns,
                   CAST(count(DISTINCT doc_id % 5) AS BIGINT) AS n_brightness
            FROM ah GROUP BY phash""")
  )

  /** Frame length (samples) and voiced-energy threshold for q167. At
    * 8 kHz, 80 samples = a 10 ms VAD frame.
    */
  private val VadFrame = 80
  private val VadThreshold = 4000L

  /** Closed-form gated waveform for q167: frame `f` of doc `id` is VOICED
    * (loud, samples in ±800) when `(id·11 + f·7) mod 5 < 3`, else quiet
    * (±20). Pure integer arithmetic, so the oracle replays every sample.
    */
  private[graft] def vadSamples(id: Long): Array[Short] = {
    val nf = 30 + (id % 5).toInt * 6
    Array.tabulate(nf * VadFrame) { i =>
      val f = i / VadFrame
      val k = id * 7 + i.toLong * 13
      val s =
        if ((id * 11 + f.toLong * 7) % 5 < 3) (k % 1601) - 800
        else (k % 41) - 20
      s.toShort
    }
  }

  /** q167 — AUDIO VAD SEGMENTATION: energy-based voice-activity detection
    * over a real WAV codec round-trip. Each doc becomes a closed-form
    * gated waveform (loud/quiet 10 ms frames), WAV-encoded then DECODED
    * through `AudioSystem` (q108's byte-exact codec discipline — an
    * endianness or frame-size bug corrupts every energy), reduced
    * per-partition to integer frame energies (`sum |s|`), thresholded to
    * voiced flags, and segmented into maximal voiced runs with the
    * gaps-and-islands window (`f − row_number` per doc — the q163 shape:
    * frames of ONE doc, never corpus-wide). Per doc: frame/voiced counts,
    * segment count, longest run, and an md5 of the ordered `start-end`
    * segment list. This is the speech-pipeline front door (segment before
    * ASR, drop silence before training) expressed as engine operators.
    *
    * Determinism: energies are exact integer sums both engines replay
    * identically, so the threshold compare agrees bit-for-bit no matter
    * where it falls. TOTAL: an all-quiet doc reports 0 segments and the
    * empty-list fingerprint (left join + coalesce, q165's totality
    * guard).
    *
    * Scale shape: waveform payloads never shuffle (generate → encode →
    * decode → energies inside one `mapPartitions` chain); only
    * (doc_id, frame, energy) rows — 3 integers — reach the shuffle, and
    * every window is partitioned by doc_id with bounded (≤54-frame)
    * history.
    */
  val vadSegments = Q(
    "q167_vad_segments",
    (s, d) => {
      import s.implicits._
      val fmt = () => new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val energiesRaw = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val format = fmt()
          it.flatMap { id =>
            val samples = vadSamples(id)
            val pcm = new Array[Byte](samples.length * 2)
            var i = 0
            while (i < samples.length) { // little-endian 16-bit
              pcm(2 * i) = (samples(i) & 0xff).toByte
              pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
              i += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), format, samples.length.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            // decode back: the energies come from the codec output, not
            // the generator — a WAV bug breaks the oracle match
            val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bos.toByteArray))
            val raw = dec.readAllBytes()
            val n = raw.length / 2
            Iterator.tabulate(n / VadFrame) { f =>
              var e = 0L
              var j = f * VadFrame
              val end = j + VadFrame
              while (j < end) {
                val v = (((raw(2 * j + 1) & 0xff) << 8) | (raw(2 * j) & 0xff)).toShort
                e += math.abs(v.toLong)
                j += 1
              }
              (id, f.toLong, e)
            }
          }
        }.toDF("doc_id", "f", "energy")
      // two consumers below (segment pipeline + n_frames count): the WAV
      // encode/decode mapPartitions chain — the expensive half — must
      // execute once, not once per branch. Materialize the 3-long frame
      // rows to scratch parquet (memoized per dir, the ivfCents/q142
      // discipline) instead of .persist: a cached relation pinned inside
      // a lazily-returned DataFrame can never be unpersisted by this
      // function, so it would leak executor storage for the rest of the
      // session across a 180-query bench run.
      val energies = graft.sources.Sources.artifactOnce(d, "vad_energies") { p =>
        graft.sources.Sources.write(energiesRaw, p)
      }.read(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("f")
      val segs = energies.where(col("energy") >= VadThreshold)
        .withColumn("grp", col("f") - row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(min("f").as("s"), max("f").as("e"), count(lit(1)).as("len"))
      val perDocSegs = segs.groupBy("doc_id").agg(
        count(lit(1)).as("n_segments"),
        sum("len").as("voiced_frames"),
        max("len").as("longest_seg"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("s"), col("e")))),
          x => concat(x.getField("s").cast("string"), lit("-"),
            x.getField("e").cast("string"))), ",")).as("seg_fp"))
      energies.groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
        .join(perDocSegs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("voiced_frames"), lit(0L)).as("voiced_frames"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"),
          coalesce(col("longest_seg"), lit(0L)).as("longest_seg"),
          coalesce(col("seg_fp"), md5(lit(""))).as("seg_fp"))
    },
    Some(s"""WITH dims AS (
               SELECT doc_id, 30 + (doc_id % 5) * 6 AS nf FROM documents),
             fr AS (
               SELECT doc_id, unnest(generate_series(0, CAST(nf AS INT) - 1)) AS f
               FROM dims),
             smp AS (
               SELECT doc_id, f,
                      CASE WHEN (doc_id * 11 + f * 7) % 5 < 3
                           THEN ((doc_id * 7 + (f * $VadFrame + j) * 13) % 1601) - 800
                           ELSE ((doc_id * 7 + (f * $VadFrame + j) * 13) % 41) - 20
                      END AS s
               FROM (SELECT doc_id, f, unnest(generate_series(0, ${VadFrame - 1})) AS j
                     FROM fr) u),
             en AS (
               SELECT doc_id, f, sum(abs(s)) AS energy
               FROM smp GROUP BY doc_id, f),
             vf AS (
               SELECT doc_id, f,
                      f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
               FROM en WHERE energy >= $VadThreshold),
             seg AS (
               SELECT doc_id, grp, min(f) AS st, max(f) AS en2, count(*) AS len
               FROM vf GROUP BY doc_id, grp),
             perseg AS (
               SELECT doc_id,
                      CAST(count(*) AS BIGINT) AS n_segments,
                      CAST(sum(len) AS BIGINT) AS voiced_frames,
                      CAST(max(len) AS BIGINT) AS longest_seg,
                      md5(string_agg(CAST(st AS VARCHAR) || '-' || CAST(en2 AS VARCHAR),
                                     ',' ORDER BY st)) AS seg_fp
               FROM seg GROUP BY doc_id),
             nfm AS (
               SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames
               FROM en GROUP BY doc_id)
             SELECT n.doc_id, n.n_frames,
                    coalesce(p.voiced_frames, 0) AS voiced_frames,
                    coalesce(p.n_segments, 0) AS n_segments,
                    coalesce(p.longest_seg, 0) AS longest_seg,
                    coalesce(p.seg_fp, md5('')) AS seg_fp
             FROM nfm n LEFT JOIN perseg p USING (doc_id)""")
  )

  /** q233 — SPECTRAL FEATURE EXTRACTION (Goertzel DFT bins over real
    * WAV payloads): the step after q108's decode / q145's resample /
    * q167's VAD in an audio ML pipeline — FREQUENCY-domain features
    * from the decoded samples. Each doc synthesizes a pure sine tone
    * (500·(1+id%4) Hz, bin-aligned at 8 kHz / 800 samples, amplitude
    * 8000), goes through the REAL `javax.sound.sampled` WAV
    * encode→decode round trip, and the decoded PCM is scored with the
    * Goertzel recurrence at the four candidate frequencies — O(n) per
    * bin, the right tool when a pipeline probes known bins (DTMF,
    * pilot tones, band energy) and a full FFT is 10× the work for 4
    * numbers. Dominant bin = argmax power; `concentrated` asserts the
    * sine's bin carries >100× the energy of the other three summed —
    * for a bin-aligned pure tone the margin is orders of magnitude, so
    * the claim is deterministic despite double arithmetic. The oracle
    * is the GENERATOR's closed form (q77/q108 discipline, moved up a
    * level: not the samples but the physics — a tone at f must be
    * detected AT f, through a real codec, for every doc): expected
    * dominant frequency and TRUE, recomputed from the id rule alone.
    * Scale shape: both stages fused `mapPartitions`, payloads never
    * shuffle, narrow (id, freq, flag) projection out.
    */
  val spectralBands = Q(
    "q233_spectral_bands",
    (s, d) => {
      import s.implicits._
      val fmt = () => new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val encoded = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val format = fmt()
          it.map { id =>
            val hz = 500.0 * (1 + (id % 4))
            val samples = Array.tabulate(800)(i =>
              math.round(8000.0 * math.sin(2.0 * math.Pi * hz * i / 8000.0)).toShort)
            val pcm = new Array[Byte](samples.length * 2)
            var i = 0
            while (i < samples.length) {
              pcm(2 * i) = (samples(i) & 0xff).toByte
              pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
              i += 1
            }
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm), format, samples.length.toLong)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            (id, bos.toByteArray)
          }
        }
      encoded.mapPartitions { it =>
        val freqs = Array(500.0, 1000.0, 1500.0, 2000.0)
        it.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val samples = Array.tabulate(n) { i =>
            (((raw(2 * i + 1) & 0xff) << 8) | (raw(2 * i) & 0xff)).toShort
          }
          // Goertzel power at each candidate bin
          val power = freqs.map { f =>
            val coeff = 2.0 * math.cos(2.0 * math.Pi * f / 8000.0)
            var s1 = 0.0; var s2 = 0.0
            var i = 0
            while (i < n) {
              val s0 = samples(i) + coeff * s1 - s2
              s2 = s1; s1 = s0
              i += 1
            }
            s1 * s1 + s2 * s2 - coeff * s1 * s2
          }
          val dom = power.indices.maxBy(power)
          val rest = power.indices.filter(_ != dom).map(power).sum
          (id, (500L * (dom + 1)), power(dom) > 100.0 * rest)
        }
      }.toDF("doc_id", "dominant_hz", "concentrated")
    },
    Some("""SELECT doc_id,
                   CAST(500 * (1 + doc_id % 4) AS BIGINT) AS dominant_hz,
                   TRUE AS concentrated
            FROM documents""")
  )

  val all: Seq[Q] =
    Seq(mediaFeatures, frameSample, pngDecode, jpegDecode, wavAudio, gifVideo, binaryFiles,
      wavResample, ahashDedup, vadSegments, spectralBands)
}

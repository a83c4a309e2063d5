package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads ride through the
  * engine as opaque `binary` columns with typed metadata, the standard
  * pattern for petabyte media corpora (payload stays columnar/compressed in
  * parquet, metadata is filterable without touching bytes).
  *
  * Compressed-format kernels (JPEG/MP3/video) are STUBBED (deliberately):
  * the container has no codec libraries, so `fakeDecodeFeatures` derives a
  * deterministic fake feature vector from the payload bytes. The Spark-side
  * contract — schema, partition-preserving mapPartitions batch shape,
  * metadata columns — is real and tested; swapping a stub for a real codec
  * changes one function, and THREE formats needing no library have that
  * swap done and oracle-gated — one per modality: [[decodePpmFeatures]]
  * (image: binary P6 PPM — header + RGB plane into per-channel means),
  * [[decodeWavFeatures]] (audio: RIFF/WAVE PCM — chunk walk + 16-bit plane
  * into signal stats) and [[decodeY4mFrames]] (video: YUV4MPEG2 — stream
  * header + frame walk into sampled per-frame luma stats).
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),   // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("byte_len", LongType),
      StructField("sha256", StringType),
      StructField("source", StringType))), nullable = true)))

  /** Wrap any text/binary-bearing frame into the media shape (used to build
    * test corpora from the documents table: payload = utf-8 bytes). */
  def fromText(docs: DataFrame, idCol: String, textCol: String,
               sourceCol: String, kind: String = "image"): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(textCol).cast("binary").as("payload"),
      struct(
        length(col(textCol).cast("binary")).cast("long").as("byte_len"),
        sha2(col(textCol).cast("binary"), 256).as("sha256"),
        col(sourceCol).as("source")).as("meta"))

  /** Deterministic fake "decode + feature extract": 8 doubles derived from
    * payload bytes — lane j sums payload bytes at positions ≡ j (mod 8),
    * scaled to [0,1] per byte and normalized by floor(len/8).
    *
    * Stands in for a real image/audio kernel (no codecs in the container).
    * Written as a pure Column tree (hex + higher-order `aggregate`), so the
    * stand-in keeps whole-stage codegen — the shape a real vectorized kernel
    * should inherit — and is exactly mirrorable in oracle SQL. A real decode
    * would swap the per-lane fold for a typed `Dataset.mapPartitions` over
    * the codec, keeping the same schema contract.
    *
    * `maxBytes` bounds the scan-stage blowup: the hex staging string is 2x
    * and the per-byte double array ~8x the DECODED bytes per row, so an
    * uncapped multi-GB payload would transiently amplify ~10x inside one
    * task. Only the first `maxBytes` of the payload feed the folds (feature
    * values for larger payloads are those of the capped prefix — spec'd);
    * `meta.byte_len` keeps the full length. */
  def fakeDecodeFeatures(media: DataFrame, maxBytes: Int = 1 << 20): DataFrame = {
    require(maxBytes >= 8, "maxBytes must cover at least one 8-byte lane pass")
    val capped = substring(col("payload"), 1, maxBytes)
    val len = length(capped) // byte count for a binary column
    val scale = greatest(lit(1L), floor(len / 8)).cast("double")
    // all payload bytes as doubles in [0, 1], materialized ONCE per row into
    // a projected column: regexp splits the hex into 2-char chunks in one
    // pass, so the per-lane folds below index an array (O(1) element_at)
    // instead of substr-ing the hex string per byte (O(len) each — that
    // variant measured O(len²)/row and 30× slower on long documents)
    val bytes = transform(
      regexp_extract_all(hex(capped), lit(".."), lit(0)),
      h => conv(h, 16, 10).cast("double") / 255.0)
    // collision-free staging column: an input frame that already carries a
    // column by this name must not be silently clobbered and dropped.
    // Compared case-insensitively — withColumn/drop resolve names that way
    // under the default spark.sql.caseSensitive=false, so a caller column
    // differing only in case would still be clobbered by an exact-match check
    val taken = media.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val bytesCol = Iterator.from(0).map(i => s"__graft_bytes_$i")
      .find(n => !taken.contains(n)).get
    def lane(j: Int): Column =
      when(col("payload").isNull || len < j + 1, lit(0.0))
        .otherwise(
          aggregate(sequence(lit(j + 1), len, lit(8)), lit(0.0),
            (acc, p) => acc + element_at(col(bytesCol), p)) / scale)
    media
      .withColumn(bytesCol, bytes)
      .withColumn("features", array((0 until 8).map(lane): _*))
      .drop(bytesCol)
  }

  /** Build REAL P6 (binary) PPM images from the payload bytes — the honest
    * media corpus for [[decodePpmFeatures]]: width 4, height = the number
    * of complete 12-byte pixel rows in the payload (min 1 — a short payload
    * zero-pads its single row), header `P6\n4 <h>\n255\n`, then the raw
    * RGB plane. Pure Column tree, so the corpus builder stays scan-stage
    * and analytically mirrorable in oracle SQL; the DECODER never assumes
    * this construction — it parses whatever header it finds. Meta is
    * refreshed to describe the new payload. */
  def encodePpm(media: DataFrame): DataFrame = {
    val len = length(col("payload")).cast("long")
    val hRows = greatest(lit(1L), floor(len / 12).cast("long"))
    val zeros12 = lit(Array.fill[Byte](12)(0: Byte))
    val pixels = when(len >= 12,
        col("payload").substr(lit(1), (hRows * 12).cast("int")))
      .otherwise(concat(coalesce(col("payload"), lit(Array.empty[Byte])),
        zeros12.substr(lit(1), (lit(12L) - coalesce(len, lit(0L))).cast("int"))))
    val ppm = concat(
      lit("P6\n4 ").cast("binary"),
      hRows.cast("string").cast("binary"),
      lit("\n255\n").cast("binary"),
      pixels)
    media.withColumn("payload", ppm)
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        col("meta.source").as("source")))
  }

  /** One decoded image's features: header fields plus per-channel byte
    * means (integer-exact sums, one final division — bit-reproducible on
    * any engine). `is_valid` = false rows carry zeroed features. */
  case class PpmFeatures(media_id: Long, width: Int, height: Int, maxval: Int,
                         mean_r: Double, mean_g: Double, mean_b: Double,
                         is_valid: Boolean)

  /** REAL image decode kernel — the un-stubbed counterpart of
    * [[fakeDecodeFeatures]] for the one raster format that needs no codec
    * library: parses the P6 binary header byte-for-byte (magic,
    * whitespace/`#`-comment skipping per the netpbm spec, ASCII
    * width/height/maxval, the single whitespace byte before the plane) and
    * folds the RGB plane into per-channel means. Malformed, truncated, or
    * null payloads yield `is_valid = false` with zeroed features instead of
    * throwing — fail-soft like every ingest surface.
    *
    * Shape: typed `mapPartitions` — per-row imperative byte parsing is the
    * contract a Column tree cannot express cleanly (the scaladoc on
    * [[fakeDecodeFeatures]] promised exactly this swap). Partition-local
    * map, no shuffle, fixed output schema; the payload bytes never leave
    * the scan task. */
  def decodePpmFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodePpm(id, payload) })
      .toDF()
  }

  /** Parsed P6 header: (width, height, maxval, offset of the RGB plane).
    * None for anything this kernel cannot decode — bad magic, malformed
    * ASCII fields, maxval > 255 (2-byte samples), or a plane shorter than
    * `3·w·h`. Shared by [[decodePpm]] and [[resizePpmImage]]. */
  private def parsePpmHeader(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b == null || b.length < 2 || b(0) != 'P' || b(1) != '6') return None
    var i = 2
    def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
    // netpbm token separator: whitespace, with '#' comments running to EOL
    def skipSeparator(): Boolean = {
      var progressed = false
      var go = true
      while (go && i < b.length) {
        if (isWs(b(i))) { i += 1; progressed = true }
        else if (b(i) == '#') {
          while (i < b.length && b(i) != '\n') i += 1
          progressed = true
        } else go = false
      }
      progressed
    }
    def readAsciiInt(): Int = {
      if (!skipSeparator()) return -1 // tokens must be separated
      var v = 0L
      var digits = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); digits += 1; i += 1
        if (v > Int.MaxValue) return -1
      }
      if (digits == 0) -1 else v.toInt
    }
    val w = readAsciiInt(); val h = readAsciiInt(); val maxval = readAsciiInt()
    // maxval > 255 would mean 2-byte samples (P6 allows up to 65535); this
    // kernel supports the 1-byte plane only and flags the rest invalid
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
    // exactly ONE whitespace byte after maxval, then the binary plane
    if (i >= b.length || !isWs(b(i))) return None
    i += 1
    val nPixels = w.toLong * h
    if (nPixels > Int.MaxValue / 4 || b.length - i < nPixels * 3) return None
    Some((w, h, maxval, i))
  }

  private[graft] def decodePpm(id: Long, b: Array[Byte]): PpmFeatures =
    parsePpmHeader(b) match {
      case None => PpmFeatures(id, 0, 0, 0, 0.0, 0.0, 0.0, is_valid = false)
      case Some((w, h, maxval, off)) =>
        val nPixels = w.toLong * h
        var sr = 0L; var sg = 0L; var sb = 0L
        var p = 0L
        while (p < nPixels) {
          val o = off + (p * 3).toInt
          sr += b(o) & 0xff; sg += b(o + 1) & 0xff; sb += b(o + 2) & 0xff
          p += 1
        }
        PpmFeatures(id, w, h, maxval, sr.toDouble / nPixels,
          sg.toDouble / nPixels, sb.toDouble / nPixels, is_valid = true)
    }

  /** Little-endian byte encoding of an integer Column — the RIFF container's
    * number format. Integer shifts + hex + unhex only: scan-stage, exact. */
  private def leBytes(v: Column, n: Int): Column =
    unhex(concat((0 until n).map { i =>
      lpad(hex(shiftright(v.cast("long"), 8 * i).bitwiseAND(lit(255L))), 2, "0")
    }: _*))

  /** Build REAL RIFF/WAVE files (mono, 16-bit PCM) from the payload bytes —
    * the honest audio corpus for [[decodeWavFeatures]], the audio analogue
    * of [[encodePpm]]: the payload's first `2·n` bytes become `n` 16-bit
    * little-endian samples (n = floor(len/2), min 1 — a short payload
    * zero-pads its single sample), wrapped in the canonical 44-byte header
    * (RIFF size, `fmt ` chunk: PCM, 1 channel, `sampleRate`, 16 bits, the
    * derived byte-rate/block-align, `data` chunk size). Pure Column tree —
    * constant header parts are driver-built literals, the two per-row sizes
    * ride [[leBytes]] — so the corpus builder stays scan-stage and the
    * oracle mirrors the construction analytically. The DECODER never
    * assumes this construction: it walks whatever chunk list it finds. */
  def encodeWav(media: DataFrame, sampleRate: Int = 8000): DataFrame = {
    def le(value: Int, n: Int): Array[Byte] =
      (0 until n).map(i => ((value >> (8 * i)) & 0xff).toByte).toArray
    val fmtChunk = "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++
      le(1, 2) ++ le(1, 2) ++ le(sampleRate, 4) ++ le(sampleRate * 2, 4) ++
      le(2, 2) ++ le(16, 2)
    val len = coalesce(length(col("payload")).cast("long"), lit(0L))
    val nSamples = greatest(lit(1L), floor(len / 2).cast("long"))
    val dataSize = nSamples * 2
    val plane = when(len >= 2,
        col("payload").substr(lit(1), dataSize.cast("int")))
      .otherwise(concat(
        coalesce(col("payload"), lit(Array.empty[Byte])),
        lit(Array.fill[Byte](2)(0: Byte))
          .substr(lit(1), (lit(2L) - len).cast("int"))))
    val wav = concat(
      lit("RIFF".getBytes("US-ASCII")), leBytes(dataSize + 36, 4),
      lit("WAVE".getBytes("US-ASCII")),
      lit(fmtChunk),
      lit("data".getBytes("US-ASCII")), leBytes(dataSize, 4),
      plane)
    media.withColumn("payload", wav)
      .withColumn("kind", lit("audio"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        col("meta.source").as("source")))
  }

  /** One decoded clip's features: format fields plus integer-exact signal
    * stats (abs-sum / square-sum folds, one division, one sqrt — bit-
    * reproducible on any engine). `is_valid` = false rows carry zeros. */
  case class WavFeatures(media_id: Long, sample_rate: Int, n_channels: Int,
                         bits: Int, n_samples: Long, duration_s: Double,
                         mean_abs: Double, rms: Double, peak: Int,
                         zero_crossings: Long, is_valid: Boolean)

  /** REAL audio decode kernel — the second un-stubbed media format (after
    * [[decodePpmFeatures]]), again needing no codec library: a byte-for-byte
    * RIFF container walk (magic, WAVE form type, generic chunk iteration
    * with the odd-size pad rule, `fmt ` fields, `data` payload) feeding
    * integer-exact signal features over the 16-bit little-endian PCM plane.
    * Mono 16-bit PCM only — compressed/stereo/8-bit forms flag
    * `is_valid = false` (zeroed features) rather than throwing, fail-soft
    * like every ingest surface.
    *
    * Shape: typed `mapPartitions`, partition-local, no shuffle; the payload
    * never leaves the scan task (same contract as the PPM kernel). */
  def decodeWavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeWav(id, payload) })
      .toDF()
  }

  /** Chunk-walk to the mono 16-bit PCM plane: (sample_rate, data offset,
    * n_samples). None for anything outside the kernel's honest scope
    * (compressed, multi-channel, or non-16-bit forms). Shared by
    * [[decodeWav]] and [[wavEnvelopeHash]]. */
  private def wavPcm(b: Array[Byte]): Option[(Int, Int, Long)] = {
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
    if (b == null || b.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return None
    // generic chunk walk: chunks may appear in any order with strangers
    // (LIST, fact, ...) between them; odd-sized chunks carry one pad byte
    var i = 12
    var fmtAt = -1; var dataAt = -1; var dataLen = 0L
    while (i + 8 <= b.length && (fmtAt < 0 || dataAt < 0)) {
      val id4 = tag(i); val sz = le32(i + 4)
      if (sz < 0 || i + 8 + sz > b.length) return None
      if (id4 == "fmt " && fmtAt < 0) fmtAt = i + 8
      else if (id4 == "data" && dataAt < 0) { dataAt = i + 8; dataLen = sz }
      i += 8 + sz.toInt + (sz % 2).toInt
    }
    if (fmtAt < 0 || dataAt < 0 || fmtAt + 16 > b.length) return None
    val audioFormat = le16(fmtAt)
    val channels = le16(fmtAt + 2)
    val rate = le32(fmtAt + 4)
    val bits = le16(fmtAt + 14)
    // this kernel's honest scope: uncompressed mono 16-bit only
    if (audioFormat != 1 || channels != 1 || bits != 16 || rate <= 0 ||
      rate > Int.MaxValue) return None
    Some((rate.toInt, dataAt, dataLen / 2))
  }

  private[graft] def decodeWav(id: Long, b: Array[Byte]): WavFeatures = {
    def bad = WavFeatures(id, 0, 0, 0, 0L, 0.0, 0.0, 0.0, 0, 0L,
      is_valid = false)
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val parsed = wavPcm(b)
    if (parsed.isEmpty) return bad
    val (rate, dataAt, n) = parsed.get
    if (n == 0) return WavFeatures(id, rate, 1, 16, 0L, 0.0, 0.0, 0.0,
      0, 0L, is_valid = true)
    var sumAbs = 0L; var sumSq = 0L; var peak = 0; var zc = 0L
    var prevNeg = false
    var k = 0L
    while (k < n) {
      val o = dataAt + (k * 2).toInt
      val v = le16(o)
      val s = if (v >= 0x8000) v - 0x10000 else v
      val a = math.abs(s)
      sumAbs += a; sumSq += s.toLong * s
      if (a > peak) peak = a
      val neg = s < 0
      if (k > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      k += 1
    }
    WavFeatures(id, rate.toInt, 1, 16, n, n.toDouble / rate,
      sumAbs.toDouble / n, math.sqrt(sumSq.toDouble / n), peak, zc,
      is_valid = true)
  }

  private[graft] case class MediaMeta(byte_len: Long, sha256: String,
                                      source: String)
  private[graft] case class MediaRow(media_id: Long, kind: String,
                                     payload: Array[Byte], meta: MediaMeta)

  /** REAL resize kernel — genuine box-filter (pixel-area-average) resample
    * over decoded P6 PPM pixels, pure JVM, no codec library: parse the
    * header via [[parsePpmHeader]], average each target pixel's source box
    * with EXACT integer arithmetic, re-encode as P6. The thumbnail /
    * train-resolution normalization pass of an image-curation pipeline.
    *
    * Resample contract (chosen so any engine can mirror it bit-for-bit):
    *  - DOWNSAMPLE ONLY — effective target dims are `min(outW, w)` x
    *    `min(outH, h)` (a box filter has no information to invent pixels;
    *    upsampling would need interpolation and unroundable weights);
    *  - target pixel (x2, y2)'s box spans source columns
    *    `[x2·w/W2, (x2+1)·w/W2)` and rows `[y2·h/H2, (y2+1)·h/H2)` (integer
    *    floor division; every box non-empty because w >= W2, h >= H2);
    *  - each output channel byte is the box mean rounded HALF-UP in
    *    integers: `(2·sum + cnt) / (2·cnt)` — no floating point anywhere.
    *
    * Accepts BOTH raster containers ([[rasterView]]): P6 payloads come back
    * P6, PNG payloads come back 8-bit RGB PNG. Payloads that parse as
    * neither pass through UNCHANGED (fail-soft: the asset stays in the
    * corpus and the downstream decode flags it).
    * Partition-local typed map, no shuffle; meta (byte_len, sha256, source)
    * is refreshed to describe the re-encoded payload — sha256 matches
    * Spark's `sha2(payload, 256)` lowercase-hex convention. */
  def resizePpm(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1, "target dims must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, kind, payload, source) =>
        val out = resizePpmImage(payload, outW, outH).getOrElse(payload)
        // null payload stays null (meta mirrors fromText on a null: len 0,
        // null digest — Spark's sha2(NULL) is NULL too)
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, kind, out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** Unified raster view over the two image containers this engine decodes
    * without a codec library: (w, h, maxval, buffer, plane offset, isPng).
    * P6 PPM parses zero-copy (the plane is a view into the payload at
    * `off`); PNG decodes via [[pngDecode]] into a fresh RGB plane. Every
    * raster kernel (resize, aHash) goes through this view, so accepting a
    * new container is one case here, not one per kernel. */
  private def rasterView(b: Array[Byte])
      : Option[(Int, Int, Int, Array[Byte], Int, Boolean)] =
    parsePpmHeader(b) match {
      case Some((w, h, maxval, off)) => Some((w, h, maxval, b, off, false))
      case None =>
        pngDecode(b).map { case (w, h, _, px) => (w, h, 255, px, 0, true) }
          .orElse(Jpeg.decode(b).map { case (w, h, _, px) =>
            // the last flag selects the LOSSLESS re-encode container in
            // resizePpmImage: a resampled JPEG must not pay a second
            // quantization generation, so it comes back as PNG
            (w, h, 255, px, 0, true)
          })
          .orElse(Gif.decode(b).map { case (w, h, _, px) =>
            // resampling quantizes away from the palette, so a resized
            // GIF also comes back as PNG (true-color lossless)
            (w, h, 255, px, 0, true)
          })
    }

  /** Box-filter resample of any [[rasterView]]-decodable payload to a bare
    * RGB plane: (w2, h2, maxval, plane, isPng). Same exact-integer contract
    * as the public resize doc (floor-division box spans, half-up integer
    * mean). */
  private[graft] def resampleBox(b: Array[Byte], outW: Int, outH: Int)
      : Option[(Int, Int, Int, Array[Byte], Boolean)] =
    rasterView(b).map { case (w, h, maxval, buf, off, isPng) =>
      val w2 = math.min(outW, w)
      val h2 = math.min(outH, h)
      val plane = new Array[Byte](w2 * h2 * 3)
      var y2 = 0
      while (y2 < h2) {
        val ys = y2 * h / h2; val ye = (y2 + 1) * h / h2
        var x2 = 0
        while (x2 < w2) {
          val xs = x2 * w / w2; val xe = (x2 + 1) * w / w2
          val cnt = (ye - ys).toLong * (xe - xs)
          var c = 0
          while (c < 3) {
            var sum = 0L
            var y = ys
            while (y < ye) {
              var x = xs
              while (x < xe) {
                sum += buf(off + (y.toLong * w + x).toInt * 3 + c) & 0xff
                x += 1
              }
              y += 1
            }
            plane((y2 * w2 + x2) * 3 + c) =
              ((2 * sum + cnt) / (2 * cnt)).toByte // mean, half-up, integer
            c += 1
          }
          x2 += 1
        }
        y2 += 1
      }
      (w2, h2, maxval, plane, isPng)
    }

  /** Resample + re-encode IN KIND: a P6 payload comes back P6 (original
    * maxval), a PNG payload comes back 8-bit RGB PNG — resize preserves the
    * container a downstream consumer expects. The one deliberate exception:
    * a JPEG payload ALSO comes back as PNG — re-encoding the resampled
    * plane through the lossy path would stack a second quantization
    * generation onto pixels the resample already averaged. */
  private[graft] def resizePpmImage(b: Array[Byte], outW: Int,
                                    outH: Int): Option[Array[Byte]] =
    resampleBox(b, outW, outH).map { case (w2, h2, maxval, plane, isPng) =>
      if (isPng) pngEncode(plane, w2, h2)
      else s"P6\n$w2 $h2\n$maxval\n".getBytes("US-ASCII") ++ plane
    }

  /** Build REAL YUV4MPEG2 (Y4M) video streams from the payload bytes — the
    * honest video corpus for [[decodeY4mFrames]], completing the
    * image/audio/video triple beside [[encodePpm]] and [[encodeWav]]. Y4M is
    * the uncompressed interchange format mplayer/ffmpeg speak: an ASCII
    * stream header `YUV4MPEG2 W<w> H<h> F<n>:<d> Ip A1:1 Cmono\n`, then per
    * frame an ASCII `FRAME\n` marker followed by the raw plane bytes —
    * header + raw payload, no codec library needed. `Cmono` (luma-only, one
    * `w·h`-byte plane per frame) keeps the plane math exact and mirrorable.
    *
    * Frames are 4×4, so each carries 16 payload bytes;
    * `n = max(1, floor(len/16))` frames (a short payload zero-pads its
    * single frame). Pure Column tree — the per-frame interleave is one
    * `aggregate` fold over the frame index — so the corpus builder stays
    * scan-stage and the oracle mirrors the construction analytically. The
    * DECODER never assumes this construction: it parses whatever header
    * tags and frame list it finds. */
  def encodeY4m(media: DataFrame): DataFrame = {
    val len = coalesce(length(col("payload")).cast("long"), lit(0L))
    val nFrames = greatest(lit(1L), floor(len / 16).cast("long"))
    val plane = when(len >= 16,
        col("payload").substr(lit(1), (nFrames * 16).cast("int")))
      .otherwise(concat(
        coalesce(col("payload"), lit(Array.empty[Byte])),
        lit(Array.fill[Byte](16)(0: Byte))
          .substr(lit(1), (lit(16L) - len).cast("int"))))
    val y4m = concat(
      lit("YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII")),
      aggregate(sequence(lit(0L), nFrames - 1), lit(Array.empty[Byte]),
        (acc, k) => concat(acc, lit("FRAME\n".getBytes("US-ASCII")),
          plane.substr((k * 16 + 1).cast("int"), lit(16)))))
    media.withColumn("payload", y4m)
      .withColumn("kind", lit("video"))
      .withColumn("meta", struct(
        length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("sha256"),
        col("meta.source").as("source")))
  }

  /** One sampled frame's features: stream-header fields plus integer-exact
    * luma stats over the frame's Y plane (byte sum, one division; min/max).
    * An invalid container yields ONE row with `frame_no = -1`,
    * `is_valid = false`, zeroed fields. */
  case class Y4mFrame(media_id: Long, frame_no: Int, width: Int, height: Int,
                      colorspace: String, mean_y: Double, min_y: Int,
                      max_y: Int, is_valid: Boolean)

  /** REAL video frame-sampling kernel — the un-stubbed counterpart of
    * [[frameSample]] for the one video format needing no codec library:
    * parses the Y4M stream header byte-for-byte (magic, space-separated
    * `W`/`H`/`F`/`I`/`A`/`C`/`X` tag-parameters in any order, colorspace
    * defaulting to 4:2:0 per the spec), sizes the per-frame plane from the
    * colorspace (`mono` = w·h, `444` = 3·w·h, `422` = 2·w·h, `420*` =
    * w·h + 2·(w/2)·(h/2)), then walks the frame list — each an ASCII
    * `FRAME[ params]\n` marker plus the raw planes — emitting every
    * `every`-th frame's luma stats. Other colorspaces, a bad magic, missing
    * `W`/`H`, or a null payload flag `is_valid = false` (one zeroed row)
    * instead of throwing — fail-soft like every ingest surface. A truncated
    * or malformed frame header mid-stream ends the walk; frames already
    * parsed keep their rows (documented partial-decode contract).
    *
    * Shape: typed `mapPartitions` flatMap — a GENERATOR (rows out >> rows
    * in) with no shuffle; payload bytes never leave the scan task. Sampling
    * every k-th frame inside the kernel is the 100 TB point: the unsampled
    * frames' bytes are skipped by offset arithmetic, never materialized. */
  def decodeY4mFrames(media: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, "every must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeY4m(id, payload, every)
      })
      .toDF()
  }

  /** Parsed Y4M stream header: (w, h, colorspace, frame plane size, offset
    * just past the header '\n'). Shared by [[decodeY4m]] and
    * [[y4mTemporalHash]]. */
  private def y4mHeader(b: Array[Byte]): Option[(Int, Int, String, Long, Int)] = {
    val magic = "YUV4MPEG2".getBytes("US-ASCII")
    if (b == null || b.length < magic.length + 1) return None
    if (!magic.indices.forall(i => b(i) == magic(i))) return None
    // stream header: everything to the first '\n'; tags are space-separated
    var hEnd = magic.length
    while (hEnd < b.length && b(hEnd) != '\n') hEnd += 1
    if (hEnd >= b.length) return None
    val header = new String(b, 0, hEnd, "US-ASCII")
    var w = -1; var h = -1; var cs = "420" // spec default when C is absent
    header.split(' ').drop(1).filter(_.nonEmpty).foreach { tag =>
      val v = tag.drop(1)
      tag.head match {
        case 'W' => w = v.toIntOption.getOrElse(-1)
        case 'H' => h = v.toIntOption.getOrElse(-1)
        case 'C' => cs = v
        case _ => // F/I/A/X tags don't affect plane sizing
      }
    }
    if (w <= 0 || h <= 0) return None
    val frameSize: Long = cs match {
      case "mono" => w.toLong * h
      case "444" => 3L * w * h
      case "422" => 2L * w * h
      case c if c.startsWith("420") => w.toLong * h + 2L * (w / 2) * (h / 2)
      case _ => -1L
    }
    if (frameSize <= 0 || frameSize > Int.MaxValue) return None
    Some((w, h, cs, frameSize, hEnd + 1))
  }

  private[graft] def decodeY4m(id: Long, b: Array[Byte],
                               every: Int): Seq[Y4mFrame] = {
    def bad = Seq(Y4mFrame(id, -1, 0, 0, "", 0.0, 0, 0, is_valid = false))
    val parsed = y4mHeader(b)
    if (parsed.isEmpty) return bad
    val (w, h, cs, frameSize, hEnd1) = parsed.get
    val hEnd = hEnd1 - 1
    val marker = "FRAME".getBytes("US-ASCII")
    val out = Seq.newBuilder[Y4mFrame]
    var i = hEnd + 1
    var frameNo = 0
    var go = true
    while (go && i < b.length) {
      // frame header: FRAME[ params...]\n — anything else ends the walk
      if (i + marker.length > b.length ||
        !marker.indices.forall(k => b(i + k) == marker(k))) go = false
      else {
        var j = i + marker.length
        while (j < b.length && b(j) != '\n') j += 1
        if (j >= b.length || b.length - (j + 1) < frameSize) go = false
        else {
          val planeAt = j + 1
          if (frameNo % every == 0) {
            // luma stats over the Y plane (first w·h bytes of every layout)
            val ny = w * h
            var sum = 0L; var mn = 255; var mx = 0
            var k = 0
            while (k < ny) {
              val v = b(planeAt + k) & 0xff
              sum += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              k += 1
            }
            out += Y4mFrame(id, frameNo, w, h, cs, sum.toDouble / ny, mn, mx,
              is_valid = true)
          }
          i = planeAt + frameSize.toInt
          frameNo += 1
        }
      }
    }
    out.result()
  }

  /** STUB frame sampler for video payloads: a real kernel emits one row per
    * sampled frame; the stub derives `nFrames` deterministic pseudo-frames
    * (payload slices) per media row. Generator shape (explode) is the real
    * contract: output rows >> input rows with no shuffle. The un-stubbed
    * counterpart is [[decodeY4mFrames]] — a real Y4M container walk with
    * the same generator shape. */
  def frameSample(media: DataFrame, nFrames: Int): DataFrame =
    media
      .select(col("media_id"), col("kind"), col("meta"),
        explode(sequence(lit(0), lit(nFrames - 1))).as("frame_no"),
        col("payload"))
      .withColumn("frame_payload",
        // deterministic slice stand-in for a decoded frame
        col("payload").substr(col("frame_no") * 8 + 1, lit(8)))
      .drop("payload")

  /** Metadata-only projection — the common 100 TB access pattern: filter and
    * count media without deserializing payloads (parquet column pruning keeps
    * the payload column unread). */
  def metaStats(media: DataFrame): DataFrame =
    media.groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        sum(col("meta.byte_len")).as("total_bytes"),
        countDistinct(col("meta.sha256")).as("distinct_payloads"))

  // ===================== perceptual image hash =====================

  /** One image's perceptual fingerprint: the average-hash (aHash) bits
    * packed MSB-first in (row, col) order, plus the grid actually used
    * (DOWNSAMPLE-ONLY like [[resizePpm]]: a 4×3 source hashes on 4×3). */
  case class AHashFeatures(media_id: Long, ahash: Long, n_bits: Int,
                           grid_w: Int, grid_h: Int, is_valid: Boolean)

  /** Perceptual average-hash over decoded P6 pixels — the IMAGE member of
    * the dedup family: re-encoded, recompressed, or uniformly
    * brightness-shifted copies of a picture hash to the SAME fingerprint,
    * so exact-dedup evasion that defeats a byte hash collapses under a
    * groupBy(ahash) or a [[graft.functions.Hamming64]] near-dup bucket
    * join (the SimHash pattern, applied to pixels).
    *
    * Contract (all integer arithmetic, bit-exact on any engine):
    *  - box-resample to `min(grid, w) × min(grid, h)` under the EXACT
    *    [[resizePpm]] contract (floor-division boxes, half-up means);
    *  - cell luma = r + g + b of the resampled means (no /3 — scaling by 3
    *    cannot change a comparison);
    *  - bit_i = (n_cells · luma_i > Σ lumas) — the mean threshold cleared
    *    of its division, which is what makes the hash invariant to a
    *    uniform brightness shift (+c moves every luma and the mean by the
    *    same 3c) and to pre-downscaling onto an aligned grid (hashing a
    *    grid-sized box-resample of the image equals hashing the image —
    *    single-pixel boxes are exact fixpoints of the resampler);
    *  - bits pack MSB-first in (row, col) order into a long (grid ≤ 8 →
    *    at most 64 bits).
    *
    * Shape: partition-local typed map, zero shuffle, fail-soft. */
  def aHashFeatures(media: DataFrame, grid: Int = 4): DataFrame = {
    require(grid >= 1 && grid <= 8, "grid must be in [1, 8]")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        // resampleBox accepts any rasterView container (P6 PPM or PNG) and
        // hands back the bare plane — no re-encode/re-parse round trip
        resampleBox(payload, grid, grid) match {
          case None => AHashFeatures(id, 0L, 0, 0, 0, is_valid = false)
          case Some((w2, h2, _, rb, _)) =>
            val n = w2 * h2
            val lumas = new Array[Long](n)
            var tot = 0L
            var i = 0
            while (i < n) {
              lumas(i) = (rb(i * 3) & 0xff).toLong +
                (rb(i * 3 + 1) & 0xff) + (rb(i * 3 + 2) & 0xff)
              tot += lumas(i)
              i += 1
            }
            var hash = 0L
            i = 0
            while (i < n) {
              if (n * lumas(i) > tot) hash |= 1L << (n - 1 - i)
              i += 1
            }
            AHashFeatures(id, hash, n, w2, h2, is_valid = true)
        }
      })
      .toDF()
  }

  /** pHash grid side (box-resample target and DCT length). */
  private val PhGrid = 16

  /** Q15 DCT-II cosine table for the [[pHashFeatures]] transform:
    * `C[t][k] = round(32768·cos(π(2t+1)k/32))`, t, k in 0..15. Like
    * [[hannQ15]], driver-computed integer CONSTANTS shared verbatim with
    * the oracle, so cross-engine exactness never depends on libm. */
  private[graft] val dctCosQ15: Array[Array[Long]] =
    Array.tabulate(PhGrid, PhGrid)((t, k) =>
      math.round(32768.0 * math.cos(math.Pi * (2 * t + 1) * k /
        (2.0 * PhGrid))))

  /** One image's DCT perceptual hash (see [[pHashFeatures]]). */
  case class PHashFeatures(media_id: Long, phash: Long, dct_median: Long,
                           grid_w: Int, grid_h: Int, is_valid: Boolean)

  /** Perceptual DCT-hash (pHash) over decoded pixels — the
    * frequency-domain member of the image dedup family, beside the
    * mean-threshold [[aHashFeatures]] exactly as [[wavFingerprintHash]]
    * sits beside [[wavEnvelopeHash]] for audio: aHash matches copies by
    * coarse luminance layout, pHash by the low-frequency STRUCTURE, so
    * recompression/sharpen/noise edits that flip aHash cells leave the
    * low-band DCT signs alone and the pair is a stronger dedup key than
    * either hash (both feed the same [[graft.functions.Hamming64]]
    * near-dup bucketing).
    *
    * The classic construction, made exact-integer end to end:
    *  - box-resample to `min(16, w) × min(16, h)` under the EXACT
    *    [[resizePpm]] contract, then zero-pad to the 16×16 DCT grid (a
    *    ≥16×16 image takes the textbook path; a narrower one is
    *    letterboxed — deterministic, and single-pixel boxes being
    *    resampler fixpoints keeps the hash invariant to pre-downscaling
    *    onto the grid, the [[aHashFeatures]] property);
    *  - cell luma = r + g + b of the resampled means (no division — a
    *    global ×3 scales every DCT coefficient and the median alike, so
    *    no comparison moves);
    *  - separable DCT-II with the Q15 [[dctCosQ15]] tables, exact 64-bit
    *    integer sums (|luma| ≤ 765 → row pass < 2^29, column pass < 2^48);
    *  - keep the 8×8 low-frequency block, median = the 32nd-smallest of
    *    its 63 non-DC coefficients (ties deterministic — integer sort);
    *  - bit (8v+u) from the MSB is 1 iff `S[v][u] > median`; the DC bit
    *    is forced 0 (it encodes brightness, not structure — and skipping
    *    it keeps the pack off the sign bit).
    *
    * Shape: partition-local typed map, zero shuffle, fail-soft
    * (`is_valid = false` on undecodable payloads). */
  def pHashFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        resampleBox(payload, PhGrid, PhGrid) match {
          case None => PHashFeatures(id, 0L, 0L, 0, 0, is_valid = false)
          case Some((w2, h2, _, rb, _)) =>
            val g = Array.ofDim[Long](PhGrid, PhGrid)
            var y = 0
            while (y < h2) {
              var x = 0
              while (x < w2) {
                val o = (y * w2 + x) * 3
                g(y)(x) = (rb(o) & 0xff).toLong + (rb(o + 1) & 0xff) +
                  (rb(o + 2) & 0xff)
                x += 1
              }
              y += 1
            }
            // separable DCT-II, low 8x8 block only
            val r = Array.ofDim[Long](PhGrid, 8)
            y = 0
            while (y < PhGrid) {
              var u = 0
              while (u < 8) {
                var s = 0L; var x = 0
                while (x < PhGrid) { s += g(y)(x) * dctCosQ15(x)(u); x += 1 }
                r(y)(u) = s
                u += 1
              }
              y += 1
            }
            val sMat = Array.ofDim[Long](8, 8)
            var v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                var s = 0L; var yy = 0
                while (yy < PhGrid) { s += r(yy)(u) * dctCosQ15(yy)(v); yy += 1 }
                sMat(v)(u) = s
                u += 1
              }
              v += 1
            }
            val ac = (for { vv <- 0 until 8; uu <- 0 until 8
                            if vv != 0 || uu != 0 } yield sMat(vv)(uu))
              .sorted.toArray
            val med = ac(31)
            var hash = 0L
            v = 0
            while (v < 8) {
              var u = 0
              while (u < 8) {
                if ((v != 0 || u != 0) && sMat(v)(u) > med)
                  hash |= 1L << (63 - (8 * v + u))
                u += 1
              }
              v += 1
            }
            PHashFeatures(id, hash, med, w2, h2, is_valid = true)
        }
      })
      .toDF()
  }

  /** Image near-dup PAIRS over [[aHashFeatures]] fingerprints — the
    * [[Dedup.simhashPairs]] machinery applied to pixels: band the hash,
    * equi-join candidates on (band, band-bits), exact Hamming distance on
    * the candidates only. With `maxHamming + 1` bands, every pair within
    * `maxHamming` shares at least one intact band (pigeonhole), so the
    * banded result EQUALS the all-pairs result — which is what the oracle
    * checks, brute-force. Scale shape: the hash is one scan; the join is a
    * band-keyed equi-join (never a cross), the SimHash contract.
    *
    * SIZE THE GRID TO THE CORPUS: band selectivity is 16^width per band,
    * so a grid-4 (16-bit) signature has 16-value bands — fine at
    * gate/validation scale, but a corpus that outgrows the signature space
    * piles thousands of images into each band bucket and the candidate
    * join degenerates toward all-pairs (measured 34× at 10× in SCALE.md).
    * At corpus scale use grid = 8 (64-bit signature, 65536-value bands) —
    * the SimHash sizing, and the configuration the scale suite measures.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b. */
  def aHashPairs(media: DataFrame, grid: Int = 4, maxHamming: Int = 3,
                 scope: graft.core.CacheScope.Handle =
                   graft.core.CacheScope.detached): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16,
      "maxHamming + 1 bands must each carry at least one hex digit")
    // TIGHT banding: maxHamming + 1 bands (the pigeonhole minimum) over
    // the hex width the DATA actually uses — padding to a fixed grid^2
    // width would make the leading bands constant zero whenever the
    // source images are narrower than the grid, collapsing every image
    // into one bucket and degenerating the candidate join toward
    // all-pairs (measured 50x at 10x before this sizing). Fewer, wider
    // bands = maximum per-band selectivity for the same guarantee.
    val feats = aHashFeatures(media, grid).filter(col("is_valid"))
    val maxBits = Option(feats.agg(max("n_bits")).head.get(0))
      .fold(4)(_.asInstanceOf[Int]).max(4)
    val nBands = maxHamming + 1
    val nHex = (((maxBits + 3) / 4) + nBands - 1) / nBands * nBands
    val width = nHex / nBands
    val sig = feats.select(col("media_id"),
      lpad(lower(hex(col("ahash"))), nHex, "0").as("sig"))
    val bands = scope.pin(sig.select(col("media_id"), col("sig"),
        explode(array((0 until nBands).map(b => struct(lit(b).as("band"),
          substring(col("sig"), 1 + width * b, width).as("bh"))): _*)).as("e"))
      .select(col("media_id"), col("sig"), col("e.band"), col("e.bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    bands.count() // materialize before the self-join (the simhashPairs note)
    val b = bands.hint("shuffle_hash")
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.media_id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    graft.GraftExtensions.register(media.sparkSession)
    cand.select(col("id_a"), col("id_b"),
        graft.functions.Hamming64.hamming64(col("sig_a"), col("sig_b"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded Hamming near-dup pairs over any full-64-bit signature frame
    * (media_id, hash64) — the [[aHashPairs]] candidate machinery at the
    * fixed SimHash sizing (16 hex digits, `maxHamming + 1` bands, so the
    * banded result EQUALS all-pairs by pigeonhole). Shared by the pHash
    * pair surface; aHashPairs keeps its data-width-adaptive banding (its
    * signatures can be narrower than 64 bits). */
  private def hashPairs64(feats: DataFrame, maxHamming: Int,
                          scope: graft.core.CacheScope.Handle): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16,
      "maxHamming + 1 bands must each carry at least one hex digit")
    val nBands = maxHamming + 1
    val nHex = (16 + nBands - 1) / nBands * nBands
    val width = nHex / nBands
    val sig = feats.select(col("media_id"),
      lpad(lower(hex(col("hash64"))), nHex, "0").as("sig"))
    val bands = scope.pin(sig.select(col("media_id"), col("sig"),
        explode(array((0 until nBands).map(b => struct(lit(b).as("band"),
          substring(col("sig"), 1 + width * b, width).as("bh"))): _*)).as("e"))
      .select(col("media_id"), col("sig"), col("e.band"), col("e.bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    bands.count() // materialize before the self-join (the simhashPairs note)
    val b = bands.hint("shuffle_hash")
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("a.sig").as("sig_a"),
        col("b.media_id").as("id_b"), col("b.sig").as("sig_b"))
      .distinct()
    graft.GraftExtensions.register(feats.sparkSession)
    cand.select(col("id_a"), col("id_b"),
        graft.functions.Hamming64.hamming64(col("sig_a"), col("sig_b"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Image near-dup PAIRS over [[pHashFeatures]] fingerprints — the
    * frequency-structure twin of [[aHashPairs]]: band the 64-bit DCT
    * hash, equi-join candidates on (band, band-bits), exact Hamming on
    * candidates only; `maxHamming + 1` bands make the banded result
    * EQUAL to all-pairs (pigeonhole). The 64-bit signature is already at
    * the corpus sizing aHashPairs' scaladoc prescribes (65536-value
    * bands). Output: (id_a, id_b, hamming), id_a < id_b. */
  def pHashPairs(media: DataFrame, maxHamming: Int = 3,
                 scope: graft.core.CacheScope.Handle =
                   graft.core.CacheScope.detached): DataFrame =
    hashPairs64(
      pHashFeatures(media).filter(col("is_valid"))
        .select(col("media_id"), col("phash").as("hash64")),
      maxHamming, scope)

  /** One stream's temporal fingerprint (the video sibling of
    * [[AHashFeatures]] / [[WavEnvelope]]). */
  case class Y4mTemporalHash(media_id: Long, thash: Long, n_bits: Int,
                             n_frames: Long, is_valid: Boolean)

  /** Perceptual VIDEO fingerprint — the temporal luma envelope: frames are
    * boxed into `min(windows, n_frames)` floor-division spans, each span's
    * value is the half-up integer mean of ALL its frames' Y-plane bytes
    * (one fold, not a mean of means), and bits come from the same
    * all-integer `n·m > Σm` threshold as [[aHashFeatures]]. Completes the
    * image / audio / video fingerprint triple: a re-containered or
    * uniformly-regraded copy of a stream collapses under groupBy(thash).
    * Partition-local typed map, zero shuffle, fail-soft. */
  def y4mTemporalHash(media: DataFrame, windows: Int = 16): DataFrame = {
    require(windows >= 1 && windows <= 64, "windows must be in [1, 64]")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        y4mHeader(payload) match {
          case None => Y4mTemporalHash(id, 0L, 0, 0L, is_valid = false)
          case Some((w, h, _, frameSize, start)) =>
            // frame walk: collect per-frame Y-plane byte sums
            val marker = "FRAME".getBytes("US-ASCII")
            val sums = scala.collection.mutable.ArrayBuffer.empty[Long]
            val ny = w * h
            var i = start
            var go = true
            while (go && i < payload.length) {
              if (i + marker.length > payload.length ||
                !marker.indices.forall(k => payload(i + k) == marker(k)))
                go = false
              else {
                var j = i + marker.length
                while (j < payload.length && payload(j) != '\n') j += 1
                if (j >= payload.length ||
                  payload.length - (j + 1) < frameSize) go = false
                else {
                  var s = 0L
                  var k = 0
                  while (k < ny) { s += payload(j + 1 + k) & 0xff; k += 1 }
                  sums += s
                  i = j + 1 + frameSize.toInt
                }
              }
            }
            val nf = sums.length
            if (nf == 0) Y4mTemporalHash(id, 0L, 0, 0L, is_valid = true)
            else {
              val w2 = math.min(windows, nf)
              val means = new Array[Long](w2)
              var tot = 0L
              var b = 0
              while (b < w2) {
                val fs = b * nf / w2; val fe = (b + 1) * nf / w2
                var s = 0L
                var f = fs
                while (f < fe) { s += sums(f); f += 1 }
                val cnt = (fe - fs).toLong * ny
                means(b) = (2 * s + cnt) / (2 * cnt)
                tot += means(b)
                b += 1
              }
              var hash = 0L
              b = 0
              while (b < w2) {
                if (w2 * means(b) > tot) hash |= 1L << (w2 - 1 - b)
                b += 1
              }
              Y4mTemporalHash(id, hash, w2, nf.toLong, is_valid = true)
            }
        }
      })
      .toDF()
  }

  /** One clip's energy-envelope fingerprint (the audio sibling of
    * [[AHashFeatures]]). */
  case class WavEnvelope(media_id: Long, envhash: Long, n_bits: Int,
                         is_valid: Boolean)

  /** Perceptual audio fingerprint — the ENERGY ENVELOPE hash: split the
    * PCM stream into `min(windows, n)` floor-division boxes, take the
    * half-up integer mean of |sample| per box, and set bit_w when the
    * box's mean clears the across-box mean (the all-integer
    * `n_boxes · m_w > Σ m` threshold of [[aHashFeatures]]). Re-containered
    * or offset-trimmed-silence copies of a clip collapse under
    * groupBy(envhash) / a Hamming bucket where the byte hash diverges —
    * the audio member of the dedup family. Approximately gain-invariant
    * (exactly, when box sums scale without touching the half-up
    * boundaries). Partition-local typed map, zero shuffle, fail-soft. */
  def wavEnvelopeHash(media: DataFrame, windows: Int = 16): DataFrame = {
    require(windows >= 1 && windows <= 64, "windows must be in [1, 64]")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        wavPcm(payload) match {
          case None => WavEnvelope(id, 0L, 0, is_valid = false)
          case Some((_, dataAt, n)) =>
            if (n == 0) WavEnvelope(id, 0L, 0, is_valid = true)
            else {
              val w2 = math.min(windows.toLong, n).toInt
              val means = new Array[Long](w2)
              var tot = 0L
              var w = 0
              while (w < w2) {
                val ks = w * n / w2; val ke = (w + 1) * n / w2
                val cnt = ke - ks
                var sum = 0L
                var k = ks
                while (k < ke) {
                  val o = dataAt + (k * 2).toInt
                  val v = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
                  val s = if (v >= 0x8000) v - 0x10000 else v
                  sum += math.abs(s)
                  k += 1
                }
                means(w) = (2 * sum + cnt) / (2 * cnt) // half-up mean
                tot += means(w)
                w += 1
              }
              var hash = 0L
              w = 0
              while (w < w2) {
                if (w2 * means(w) > tot) hash |= 1L << (w2 - 1 - w)
                w += 1
              }
              WavEnvelope(id, hash, w2, is_valid = true)
            }
        }
      })
      .toDF()
  }

  // ============ Fixed-point STFT — the frequency-domain audio kernel ====

  /** STFT frame length (non-overlapping frames, `SpecFrame/2 + 1` bins). */
  val SpecFrame = 64

  /** Q15 Hann window and DFT twiddle tables. The spectral kernel is FIXED
    * POINT on purpose: with `round(32768·f)` integer tables, every windowed
    * DFT sum is exact 64-bit integer arithmetic (max |Σ| ≈ 2.3e15 < 2^53,
    * so even its double image is exact), and `re² + im²` is then one
    * deterministic IEEE expression — an independent engine replaying the
    * same tables reproduces the spectrogram BIT FOR BIT, which is what lets
    * the oracle gate hash-compare a Fourier transform at all. A float
    * window would instead differ by libm ulps across engines. */
  private[graft] val hannQ15: Array[Long] = Array.tabulate(SpecFrame)(i =>
    math.round(32768.0 * 0.5 * (1.0 - math.cos(2.0 * math.Pi * i / SpecFrame))))
  private[graft] val cosQ15: Array[Long] = Array.tabulate(SpecFrame)(j =>
    math.round(32768.0 * math.cos(2.0 * math.Pi * j / SpecFrame)))
  private[graft] val sinQ15: Array[Long] = Array.tabulate(SpecFrame)(j =>
    math.round(32768.0 * math.sin(2.0 * math.Pi * j / SpecFrame)))

  /** One spectrogram cell: the power of `bin` (0..SpecFrame/2) in frame
    * `frame` of clip `media_id`. Power is (Q15·Q15-scaled) `re² + im²`. */
  case class SpecCell(media_id: Long, frame: Int, bin: Int, power: Double)

  /** Windowed DFT of one frame: exact (re, im) integer sums per bin
    * 0..N/2. Exact by construction (see [[hannQ15]]): xw = s·hann ≤ 2^30,
    * each product xw·twiddle ≤ 2^45.1, the 64-term sum ≤ 2^51.1 — never
    * overflows a long, and its double image never rounds. */
  private def frameReIm(payload: Array[Byte], dataAt: Int,
                        frame: Int): (Array[Long], Array[Long]) = {
    val xw = new Array[Long](SpecFrame)
    var i = 0
    while (i < SpecFrame) {
      val o = dataAt + ((frame.toLong * SpecFrame + i) * 2).toInt
      val v = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      val s = if (v >= 0x8000) v - 0x10000 else v
      xw(i) = s.toLong * hannQ15(i)
      i += 1
    }
    val res = new Array[Long](SpecFrame / 2 + 1)
    val ims = new Array[Long](SpecFrame / 2 + 1)
    var bn = 0
    while (bn <= SpecFrame / 2) {
      var re = 0L; var im = 0L
      i = 0
      while (i < SpecFrame) {
        val t = (i * bn) % SpecFrame
        re += xw(i) * cosQ15(t)
        im -= xw(i) * sinQ15(t)
        i += 1
      }
      res(bn) = re; ims(bn) = im
      bn += 1
    }
    (res, ims)
  }

  /** [[frameReIm]] folded to the one deterministic IEEE power expression
    * per bin (the [[wavSpectrogram]] cell value). */
  private def framePowers(payload: Array[Byte], dataAt: Int,
                          frame: Int): Array[Double] = {
    val (res, ims) = frameReIm(payload, dataAt, frame)
    Array.tabulate(SpecFrame / 2 + 1)(bn =>
      res(bn).toDouble * res(bn).toDouble + ims(bn).toDouble * ims(bn).toDouble)
  }

  /** REAL frequency-domain audio features — the fixed-point STFT power
    * spectrogram: the PCM plane is boxed into non-overlapping
    * [[SpecFrame]]-sample frames (at most `maxFrames` — the feature
    * extractor's clip budget, which also caps per-row cost independent of
    * clip length), each frame is Hann-windowed and DFT'd with the Q15
    * integer tables, and every (frame, bin) power becomes one long-form
    * row. This is the front half of every audio featurizer (log-mel,
    * MFCC, fingerprinting); downstream aggregations are then plain
    * relational ops over the long form.
    *
    * Long form (not an array column) so bins prune/filter relationally;
    * clips that fail the PCM walk or carry fewer than one full frame emit
    * NO rows (the fail-soft convention for row-generator kernels — the
    * per-clip validity surface is [[decodeWavFeatures]]).
    *
    * Shape: typed `mapPartitions` flatMap, partition-local, zero shuffle;
    * O(maxFrames · N²/2) integer ops per clip, payload never leaves the
    * scan task. (An FFT would cut the N² to N·logN; at N = 64 the table-
    * driven direct form is simpler and the constant is tiny.) */
  def wavSpectrogram(media: DataFrame, maxFrames: Int = 64): DataFrame = {
    require(maxFrames >= 1, "maxFrames must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        wavPcm(payload) match {
          case None => Iterator.empty
          case Some((_, dataAt, n)) =>
            val nf = math.min(maxFrames.toLong, n / SpecFrame).toInt
            (0 until nf).iterator.flatMap { f =>
              val p = framePowers(payload, dataAt, f)
              (0 to SpecFrame / 2).iterator.map(bn =>
                SpecCell(id, f, bn, p(bn)))
            }
        }
      })
      .toDF()
  }

  /** The exact-integer LIMB convention for energies past int64: a
    * non-negative exact integer `v < 2^(21·limbs)` splits into 21-bit
    * limbs `lⱼ = (v >> 21j) & (2^21−1)`, PER CELL, BEFORE aggregation —
    * so a sum of cells surfaces as the five plain-BIGINT limb sums
    * `Lⱼ = Σ_cells lⱼ(cell)` (no carry propagation on purpose: both
    * engines split then sum, and Σⱼ Lⱼ·2^21j = Σ cells exactly). With
    * ≤ 264 cells each limb sum stays < 2^30 ≪ 2^53, so the surface
    * survives ANY checker canonicalization — int64, float64, decimal —
    * unlike a DECIMAL(38,0)/HUGEINT result, whose canonicalization is
    * engine-version-defined above 2^53 (the r18 driver-red lesson). */
  private[graft] val EnergyLimbBits = 21
  private[graft] val EnergyLimbs = 5
  private[graft] val EnergyLimbMask = (1L << EnergyLimbBits) - 1

  /** Reconstruct the exact integer from its limb sums (spec/consumer
    * side): Σⱼ Lⱼ·2^(21·j). */
  def energyFromLimbs(limbSums: Seq[Long]): BigInt =
    limbSums.zipWithIndex.map { case (l, j) =>
      BigInt(l) << (EnergyLimbBits * j) }.sum

  /** One clip's per-band spectral energy, as limb sums (see
    * [[energyFromLimbs]]): the exact Σ(re²+im²) reaches ~2^103 — past
    * every fixed-width numeric — so it travels as five sub-2^53 BIGINT
    * limb sums that no engine can canonicalize lossily. */
  private[graft] case class WavBandEnergyRow(
      media_id: Long, band: Int, n_cells: Long,
      energy_l0: Long, energy_l1: Long, energy_l2: Long,
      energy_l3: Long, energy_l4: Long)

  /** Per-band spectral energy — the STFT consumed as an EXACT aggregate:
    * bins split into `bands` contiguous ranges (width ⌈33/bands⌉) and each
    * band's `Σ(re² + im²)` accumulates in arbitrary-precision integers
    * inside the kernel. The double-valued [[wavSpectrogram]] cells cannot
    * be re-aggregated exactly by a SQL engine (a double→decimal cast is
    * engine-defined below the 17th digit and float sums are
    * order-dependent), so exactness here has to come from the kernel —
    * which is the point: the band profile is the feature a router/quality
    * screen consumes, and it must not depend on partition order.
    *
    * Surface: the per-cell 21-bit limb split (see [[energyFromLimbs]]) —
    * each cell value re²+im² (< 2^103, exact) splits into five 21-bit
    * limbs BEFORE summation, and the row carries the five limb sums as
    * plain BIGINTs, every one < 2^30. The true energy is
    * `Σⱼ energy_lⱼ·2^21j` (asserted against an independent BigInt
    * re-derivation in the spec); the limbs themselves are what a hash
    * oracle compares, because int64s below 2^53 are canonicalization-
    * proof on every engine — a DECIMAL(38,0) surface is not. Same
    * fail-soft row-generator contract as the spectrogram: invalid or
    * sub-frame clips emit no rows. */
  def wavBandEnergy(media: DataFrame, maxFrames: Int = 8,
                    bands: Int = 4): DataFrame = {
    require(maxFrames >= 1, "maxFrames must be positive")
    require(bands >= 1 && bands <= SpecFrame / 2 + 1,
      "bands must be in [1, bins]")
    val width = (SpecFrame / 2 + 1 + bands - 1) / bands
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        wavPcm(payload) match {
          case None => Iterator.empty
          case Some((_, dataAt, n)) =>
            val nf = math.min(maxFrames.toLong, n / SpecFrame).toInt
            if (nf == 0) Iterator.empty
            else {
              val acc = Array.ofDim[Long](bands, EnergyLimbs)
              val cells = new Array[Long](bands)
              var f = 0
              while (f < nf) {
                val p = frameReIm(payload, dataAt, f)
                var bn = 0
                while (bn <= SpecFrame / 2) {
                  val b = bn / width
                  val re = BigInt(p._1(bn)); val im = BigInt(p._2(bn))
                  var cell = re * re + im * im
                  var j = 0
                  while (j < EnergyLimbs) {
                    acc(b)(j) += (cell & EnergyLimbMask).toLong
                    cell >>= EnergyLimbBits
                    j += 1
                  }
                  cells(b) += 1
                  bn += 1
                }
                f += 1
              }
              (0 until bands).iterator.map(b =>
                WavBandEnergyRow(id, b, cells(b), acc(b)(0), acc(b)(1),
                  acc(b)(2), acc(b)(3), acc(b)(4)))
            }
        }
      })
      .toDF()
  }

  /** Q15 integer mel filterbank over the [[wavSpectrogram]] bins — the
    * standard triangular construction (HTK convention, mel(f) =
    * 2595·log10(1 + f/700)): `nMel + 2` points equally spaced in mel
    * space between 0 and `sampleRate/2`, band m a triangle rising from
    * point m to m+1 and falling to m+2, evaluated at each bin's center
    * frequency `k·sampleRate/SpecFrame` and quantized `round(32768·w)`.
    * Like [[hannQ15]], the table is computed ONCE on the driver in
    * doubles and then treated as shared integer CONSTANTS — the kernel
    * and the oracle consume the same literal table, so cross-engine
    * exactness never depends on libm. */
  private[graft] def melWeightsQ15(sampleRate: Int,
                                   nMel: Int): Array[Array[Long]] = {
    require(sampleRate >= 2, "sampleRate must be >= 2")
    require(nMel >= 1 && nMel <= SpecFrame / 2,
      "nMel must be in [1, bins-1]")
    def mel(f: Double) = 2595.0 * math.log10(1.0 + f / 700.0)
    def invMel(m: Double) = 700.0 * (math.pow(10.0, m / 2595.0) - 1.0)
    val top = mel(sampleRate / 2.0)
    val pts = Array.tabulate(nMel + 2)(i => invMel(top * i / (nMel + 1)))
    Array.tabulate(nMel) { m =>
      val lo = pts(m); val mid = pts(m + 1); val hi = pts(m + 2)
      Array.tabulate(SpecFrame / 2 + 1) { k =>
        val f = k.toDouble * sampleRate / SpecFrame
        val w =
          if (f > lo && f <= mid) (f - lo) / (mid - lo)
          else if (f > mid && f < hi) (hi - f) / (hi - mid)
          else 0.0
        math.round(32768.0 * w)
      }
    }
  }

  /** One clip's mel-filterbank energies as weighted limb sums plus the
    * exact integer log (see [[wavLogMel]]). */
  private[graft] case class WavLogMelRow(
      media_id: Long, mel: Int, n_cells: Long,
      logmel_l0: Long, logmel_l1: Long, logmel_l2: Long,
      logmel_l3: Long, logmel_l4: Long, log10_floor: Int)

  /** Log-mel filterbank energies — the feature speech/audio-dedup
    * pipelines actually consume, one step past [[wavBandEnergy]]'s
    * un-warped bands: each mel band's energy is `Σ_cells w·(re²+im²)`
    * with the Q15 triangular weights of [[melWeightsQ15]], every step
    * exact integer arithmetic. The filterbank is defined for the TARGET
    * model rate (`sampleRate`) — in a real pipeline [[resampleWav]] runs
    * first, exactly as mixed-rate crawl audio is normalized before
    * feature extraction.
    *
    * Surface: the same per-cell 21-bit limb convention as
    * [[wavBandEnergy]] (see [[energyFromLimbs]]), made WEIGHTED — the
    * row carries `Lⱼ = Σ_cells w·lⱼ(cell)` (w ≤ 2^15, lⱼ < 2^21, ≤ 264
    * cells → every Lⱼ < 2^45 ≪ 2^53, canonicalization-proof on any
    * engine), reconstructing as `Σⱼ Lⱼ·2^21j = Σ w·cell` exactly by
    * linearity. The LOG itself is surfaced in exact integer form:
    * `log10_floor` = ⌊log10(energy)⌋ (= the energy's decimal digit
    * count − 1; −1 for a zero band) — the order-of-magnitude feature,
    * computable bit-identically by any engine from the decimal string.
    * Fail-soft row generator: invalid or sub-frame clips emit no rows;
    * partition-local, zero shuffle (the weight table rides the closure
    * as bounded constants, like the Q15 DFT tables). */
  def wavLogMel(media: DataFrame, sampleRate: Int = 8000, nMel: Int = 8,
                maxFrames: Int = 8): DataFrame = {
    require(maxFrames >= 1, "maxFrames must be positive")
    val weights = melWeightsQ15(sampleRate, nMel)
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        wavPcm(payload) match {
          case None => Iterator.empty
          case Some((_, dataAt, n)) =>
            val nf = math.min(maxFrames.toLong, n / SpecFrame).toInt
            if (nf == 0) Iterator.empty
            else {
              val acc = Array.ofDim[Long](nMel, EnergyLimbs)
              val cells = new Array[Long](nMel)
              val limbs = new Array[Long](EnergyLimbs)
              var f = 0
              while (f < nf) {
                val p = frameReIm(payload, dataAt, f)
                var bn = 0
                while (bn <= SpecFrame / 2) {
                  val re = BigInt(p._1(bn)); val im = BigInt(p._2(bn))
                  var cell = re * re + im * im
                  var j = 0
                  while (j < EnergyLimbs) {
                    limbs(j) = (cell & EnergyLimbMask).toLong
                    cell >>= EnergyLimbBits
                    j += 1
                  }
                  var m = 0
                  while (m < nMel) {
                    val w = weights(m)(bn)
                    if (w > 0) {
                      j = 0
                      while (j < EnergyLimbs) {
                        acc(m)(j) += w * limbs(j); j += 1
                      }
                      cells(m) += 1
                    }
                    m += 1
                  }
                  bn += 1
                }
                f += 1
              }
              (0 until nMel).iterator.map { m =>
                val total = energyFromLimbs(acc(m).toSeq)
                WavLogMelRow(id, m, cells(m), acc(m)(0), acc(m)(1),
                  acc(m)(2), acc(m)(3), acc(m)(4),
                  if (total == 0) -1 else total.toString.length - 1)
              }
            }
        }
      })
      .toDF()
  }

  /** One clip-level cepstral coefficient (see [[wavMfcc]]). */
  private[graft] case class WavMfccRow(media_id: Long, k: Int, mfcc: Double)

  /** Clip-level MFCCs — the last step of the classic audio feature chain
    * (STFT → mel filterbank → log → DCT), computed over the clip's
    * aggregated mel profile: the [[wavLogMel]] energies `E_m` (exact
    * integers), logged as `round(ln(E_m + 1), 9)` (the +1 keeps silent
    * bands defined at 0; integer→double conversion is IEEE
    * nearest-even on every engine, and JVM/DuckDB `ln` agree to the bit
    * on these inputs — the round-9 discipline the perplexity gates
    * established), then the order-FIXED DCT-II dot product
    * `c_k = Σ_m l_m·cos(π(2m+1)k/2nMel)` evaluated m-ascending (a fixed
    * expression, not an aggregation — float addition order never
    * varies), rounded to 6. Cosine constants are driver doubles
    * interpolated into the oracle via their round-trip decimal form.
    *
    * Output: (media_id, k, mfcc), k in [0, nCoeff). Same fail-soft
    * row-generator contract as the spectrogram family; zero shuffle. */
  def wavMfcc(media: DataFrame, sampleRate: Int = 8000, nMel: Int = 8,
              nCoeff: Int = 8, maxFrames: Int = 8): DataFrame = {
    require(maxFrames >= 1, "maxFrames must be positive")
    require(nCoeff >= 1 && nCoeff <= nMel, "nCoeff must be in [1, nMel]")
    val weights = melWeightsQ15(sampleRate, nMel)
    val dct = Array.tabulate(nCoeff, nMel)((k, m) =>
      math.cos(math.Pi * (2 * m + 1) * k / (2.0 * nMel)))
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        wavPcm(payload) match {
          case None => Iterator.empty
          case Some((_, dataAt, n)) =>
            val nf = math.min(maxFrames.toLong, n / SpecFrame).toInt
            if (nf == 0) Iterator.empty
            else {
              val acc = Array.fill(nMel)(BigInt(0))
              var f = 0
              while (f < nf) {
                val p = frameReIm(payload, dataAt, f)
                var bn = 0
                while (bn <= SpecFrame / 2) {
                  val re = BigInt(p._1(bn)); val im = BigInt(p._2(bn))
                  val cell = re * re + im * im
                  var m = 0
                  while (m < nMel) {
                    if (weights(m)(bn) > 0) acc(m) += cell * weights(m)(bn)
                    m += 1
                  }
                  bn += 1
                }
                f += 1
              }
              val logs = Array.tabulate(nMel)(m => round9(
                math.log((acc(m) + 1).toDouble)))
              (0 until nCoeff).iterator.map { k =>
                var c = 0.0
                var m = 0
                while (m < nMel) { c += logs(m) * dct(k)(m); m += 1 }
                WavMfccRow(id, k, round6(c))
              }
            }
        }
      })
      .toDF()
  }

  /** Spark's `round(col, n)` semantics (HALF_UP on the decimal form) in
    * kernel space — the cross-engine rounding discipline the perplexity
    * gates established. */
  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One clip's spectral fingerprint (the frequency-domain sibling of
    * [[WavEnvelope]]): dominant non-DC bin per frame, 6 bits each. */
  case class WavFingerprint(media_id: Long, fphash: Long, n_frames: Int,
                            is_valid: Boolean)

  /** Perceptual audio fingerprint in the FREQUENCY domain — the classic
    * landmark recipe (dominant spectral peak per time slice, Wang's
    * constellation idea reduced to its first moment): per frame, the
    * dominant bin among 1..N/2 (DC excluded — it encodes loudness, not
    * pitch; ties break to the LOWEST bin), packed 6 bits per frame
    * MSB-first into a long. Where [[wavEnvelopeHash]] matches copies by
    * loudness contour, this matches them by pitch trajectory — a
    * re-GAINED copy (every sample scaled) keeps its dominant bins
    * bit-exactly as long as no windowed sum changes sign class, so the
    * two hashes fail independently and the pair is a stronger dedup key
    * than either alone. `maxFrames ≤ 10` keeps the pack inside 60 bits.
    *
    * Same kernel shape as the envelope: typed map, zero shuffle,
    * fail-soft (`is_valid = false` on a failed PCM walk; a valid clip
    * shorter than one frame fingerprints as (0, 0 frames, valid)). */
  def wavFingerprintHash(media: DataFrame, maxFrames: Int = 10): DataFrame = {
    require(maxFrames >= 1 && maxFrames <= 10,
      "maxFrames must be in [1, 10] — 6 bits per frame in a 64-bit hash")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        wavPcm(payload) match {
          case None => WavFingerprint(id, 0L, 0, is_valid = false)
          case Some((_, dataAt, n)) =>
            val nf = math.min(maxFrames.toLong, n / SpecFrame).toInt
            var hash = 0L
            var f = 0
            while (f < nf) {
              val p = framePowers(payload, dataAt, f)
              var dom = 1
              var bn = 2
              while (bn <= SpecFrame / 2) {
                if (p(bn) > p(dom)) dom = bn // ties keep the LOWEST bin
                bn += 1
              }
              hash = (hash << 6) | dom.toLong
              f += 1
            }
            WavFingerprint(id, hash, nf, is_valid = true)
        }
      })
      .toDF()
  }

  /** Fixed-point linear resampler — the sample-rate normalization every
    * speech/audio ingest runs (mixed-rate crawl audio → one model rate)
    * as an EXACT integer kernel, the audio sibling of [[resizePpm]]'s
    * half-up box filter. Output sample k sits at source position
    * `k·srcRate/outRate`, split rationally: `i = (k·src) / out` (floor),
    * `fracQ15 = ((k·src mod out) · 32768) / out` (floor), and the sample
    * is `s_i + floor((s_{i+1} − s_i) · fracQ15 / 32768)` with the tail
    * clamped to the last sample — every step integer, so any engine
    * replaying the arithmetic reproduces the stream bit for bit (no
    * float phase accumulator to drift). `outN = max(1, n·outRate/srcRate)`.
    *
    * Linear interpolation is the honest label: a production resampler
    * adds a windowed-sinc low-pass before decimation; the phase
    * arithmetic (the part engines get wrong) is exactly this. Payloads
    * the PCM walk rejects pass through unchanged (the [[resizePpm]]
    * fail-soft contract); a clip already at `outRate` re-encodes
    * canonically but keeps its samples. Typed map, zero shuffle. */
  def resampleWav(media: DataFrame, outRate: Int): DataFrame = {
    require(outRate >= 1, "outRate must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, kind, payload, source) =>
        val out = resampleWavBytes(payload, outRate).getOrElse(payload)
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, kind, out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** The per-clip resample: parse, interpolate, re-encode with the
    * canonical 44-byte header (the [[encodeWav]] construction). None for
    * payloads outside the PCM walk's scope. */
  private[graft] def resampleWavBytes(b: Array[Byte],
                                      outRate: Int): Option[Array[Byte]] =
    wavPcm(b).flatMap { case (rate, dataAt, n) =>
      def sample(k: Long): Int = {
        val o = dataAt + (k * 2).toInt
        val v = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        if (v >= 0x8000) v - 0x10000 else v
      }
      val outN =
        if (n == 0) 0L else math.max(1L, n * outRate / rate)
      // fail-soft, not crash/corrupt: a huge upsample ratio would wrap the
      // Int plane allocation and the 32-bit RIFF size fields
      if (outN * 2 > Int.MaxValue - 44L) None else Some {
      val plane = new Array[Byte]((outN * 2).toInt)
      var k = 0L
      while (k < outN) {
        val num = k * rate
        val i = num / outRate
        val fracQ15 = ((num % outRate) * 32768L) / outRate
        val s0 = sample(math.min(i, n - 1))
        val s1 = sample(math.min(i + 1, n - 1))
        // floor division for the Q15 step (arithmetic shift semantics,
        // sign-correct for negative deltas)
        val v = s0 + math.floorDiv((s1 - s0) * fracQ15, 32768L).toInt
        plane((k * 2).toInt) = (v & 0xff).toByte
        plane((k * 2 + 1).toInt) = ((v >> 8) & 0xff).toByte
        k += 1
      }
      def le(value: Long, nb: Int): Array[Byte] =
        (0 until nb).map(j => ((value >> (8 * j)) & 0xff).toByte).toArray
      val fmtChunk = "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++
        le(1, 2) ++ le(1, 2) ++ le(outRate, 4) ++ le(outRate.toLong * 2, 4) ++
        le(2, 2) ++ le(16, 2)
      "RIFF".getBytes("US-ASCII") ++ le(outN * 2 + 36, 4) ++
        "WAVE".getBytes("US-ASCII") ++ fmtChunk ++
        "data".getBytes("US-ASCII") ++ le(outN * 2, 4) ++ plane
      }
    }

  /** One voiced segment (see [[wavVadSegments]]). */
  case class WavVadSegment(media_id: Long, seg_no: Int, start_sample: Long,
                           n_samples: Long, sum_abs: Long, n_windows: Int)

  /** Voice-activity segmentation — the speech-ingest step between decode
    * and feature extraction (a crawl clip is mostly silence/noise framing
    * short voiced spans; training pipelines keep the spans): the PCM
    * stream boxes into `window`-sample windows (the tail keeps its
    * partial window), a window is VOICED iff its mean |sample| exceeds
    * the CLIP's mean |sample| — evaluated by exact integer
    * cross-multiplication `winSum·n > totalAbs·winLen` (the
    * [[wavEnvelopeHash]] threshold convention: division-free, invariant
    * to uniform gain, and products stay < 2^52 for window ≤ 64), and
    * maximal runs of voiced windows become segments.
    *
    * Output, one row per segment: (media_id, seg_no 1-based, start_sample,
    * n_samples, sum_abs, n_windows). An all-silent (or all-equal) clip
    * emits no segments; invalid payloads emit no rows (the row-generator
    * fail-soft contract). Partition-local typed flatMap, zero shuffle. */
  def wavVadSegments(media: DataFrame, window: Int = 64): DataFrame = {
    require(window >= 1 && window <= 64,
      "window must be in [1, 64] — the exact-integer threshold bound")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        wavPcm(payload) match {
          case None => Iterator.empty
          case Some((_, dataAt, n)) =>
            def absAt(k: Long): Long = {
              val o = dataAt + (k * 2).toInt
              val v = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
              math.abs(if (v >= 0x8000) v - 0x10000 else v).toLong
            }
            var totalAbs = 0L
            var k = 0L
            while (k < n) { totalAbs += absAt(k); k += 1 }
            val nW = ((n + window - 1) / window).toInt
            val segs = scala.collection.mutable.ArrayBuffer
              .empty[WavVadSegment]
            var w = 0
            var segStart = -1
            var segSum = 0L
            def close(endW: Int): Unit = if (segStart >= 0) {
              val s0 = segStart.toLong * window
              segs += WavVadSegment(id, segs.length + 1, s0,
                math.min(endW.toLong * window, n) - s0, segSum,
                endW - segStart)
              segStart = -1; segSum = 0L
            }
            while (w < nW) {
              val s0 = w.toLong * window
              val len = math.min(window.toLong, n - s0)
              var sum = 0L
              var i = 0L
              while (i < len) { sum += absAt(s0 + i); i += 1 }
              if (sum * n > totalAbs * len) {
                if (segStart < 0) segStart = w
                segSum += sum
              } else close(w)
              w += 1
            }
            close(nW)
            segs.iterator
        }
      })
      .toDF()
  }

  /** Trim leading and trailing silence — [[wavVadSegments]]'s voiced
    * window test applied as the classic clip-normalization edit: keep the
    * sample span from the FIRST voiced window's start to the LAST voiced
    * window's end, re-encoded through the canonical header (the
    * [[resampleWav]] construction, same rate). A clip with no voiced
    * window (all-silent or all-equal — nothing to anchor a trim) and any
    * payload outside the PCM walk pass through unchanged, the fail-soft
    * contract. Typed map, zero shuffle. */
  def trimWavSilence(media: DataFrame, window: Int = 64): DataFrame = {
    require(window >= 1 && window <= 64,
      "window must be in [1, 64] — the exact-integer threshold bound")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, kind, payload, source) =>
        val out = trimWavBytes(payload, window).getOrElse(payload)
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, kind, out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** The per-clip trim: None when the payload is outside the PCM walk or
    * no window is voiced (both pass-through cases for [[trimWavSilence]]). */
  private[graft] def trimWavBytes(b: Array[Byte],
                                  window: Int): Option[Array[Byte]] =
    wavPcm(b).flatMap { case (rate, dataAt, n) =>
      def absAt(k: Long): Long = {
        val o = dataAt + (k * 2).toInt
        val v = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        math.abs(if (v >= 0x8000) v - 0x10000 else v).toLong
      }
      var totalAbs = 0L
      var k = 0L
      while (k < n) { totalAbs += absAt(k); k += 1 }
      val nW = ((n + window - 1) / window).toInt
      var first = -1
      var last = -1
      var w = 0
      while (w < nW) {
        val s0 = w.toLong * window
        val len = math.min(window.toLong, n - s0)
        var sum = 0L
        var i = 0L
        while (i < len) { sum += absAt(s0 + i); i += 1 }
        if (sum * n > totalAbs * len) { if (first < 0) first = w; last = w }
        w += 1
      }
      if (first < 0) None
      else {
        val s0 = first.toLong * window
        val outN = math.min((last + 1).toLong * window, n) - s0
        def le(value: Long, nb: Int): Array[Byte] =
          (0 until nb).map(j => ((value >> (8 * j)) & 0xff).toByte).toArray
        val fmtChunk = "fmt ".getBytes("US-ASCII") ++ le(16, 4) ++
          le(1, 2) ++ le(1, 2) ++ le(rate, 4) ++ le(rate.toLong * 2, 4) ++
          le(2, 2) ++ le(16, 2)
        Some("RIFF".getBytes("US-ASCII") ++ le(outN * 2 + 36, 4) ++
          "WAVE".getBytes("US-ASCII") ++ fmtChunk ++
          "data".getBytes("US-ASCII") ++ le(outN * 2, 4) ++
          java.util.Arrays.copyOfRange(b, dataAt + (s0 * 2).toInt,
            dataAt + ((s0 + outN) * 2).toInt))
      }
    }

  // ===================== QOI — a real COMPRESSED raster codec ==========

  /** Build REAL QOI images ("Quite OK Image", the public one-page spec at
    * qoiformat.org) from the corpus bytes — the engine's first genuinely
    * COMPRESSED media format, the honest counterpart to the
    * [[fakeDecodeFeatures]] stub for the one compressed codec that needs no
    * library. The pixel plane is the [[encodePpm]] construction EXACTLY
    * (width 4, `h = max(1, len/12)` rows, a short payload zero-padded to
    * one row), run through a full QOI encoder: RUN / INDEX / DIFF / LUMA /
    * RGB ops, the 64-slot color hash index, wrapping-int8 deltas, the
    * 8-byte end marker.
    *
    * QOI is LOSSLESS — `decode(encode(pixels)) == pixels` — which is what
    * makes a hash gate possible without expressing the codec in SQL: the
    * oracle derives the decoded features analytically from the SOURCE
    * bytes, and any defect in either the encoder's op selection or the
    * decoder's state machine breaks the round trip and hash-fails.
    * Partition-local typed map, zero shuffle; meta (byte_len, sha256)
    * refreshed to describe the compressed payload. */
  def encodeQoi(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, source) =>
        val out =
          if (payload == null) null
          else {
            val h = math.max(1, payload.length / 12)
            val px = new Array[Byte](h * 12)
            System.arraycopy(payload, 0, px, 0,
              math.min(payload.length, h * 12))
            qoiEncode(px, 4, h)
          }
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, "image", out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** QOI encoder over an RGB plane (alpha fixed 255, channels byte 3) —
    * faithful to the public spec: ops in priority order run → index →
    * diff → luma → rgb; deltas are WRAPPING int8; run caps at 62 (tag
    * values 0xFE/0xFF are reserved for the RGB/RGBA ops); the index slot
    * is written only when a non-index op is emitted. */
  private[graft] def qoiEncode(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(px.length == w * h * 3, "plane must be w*h*3 RGB bytes")
    val out = new java.io.ByteArrayOutputStream(22 + w * h)
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    be32(w); be32(h)
    out.write(3) // channels
    out.write(0) // colorspace: sRGB with linear alpha
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0
    val a = 255
    var run = 0
    val n = w * h
    var i = 0
    while (i < n) {
      val r = px(i * 3) & 0xff
      val g = px(i * 3 + 1) & 0xff
      val b = px(i * 3 + 2) & 0xff
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val hash = (r * 3 + g * 5 + b * 7 + a * 11) % 64
        val packed = (r << 24) | (g << 16) | (b << 8) | a
        if (index(hash) == packed) out.write(hash)
        else {
          index(hash) = packed
          val dr = ((r - pr) << 24) >> 24 // wrapping int8 deltas
          val dg = ((g - pg) << 24) >> 24
          val db = ((b - pb) << 24) >> 24
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 &&
              db >= -2 && db <= 1)
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          else {
            val drg = ((dr - dg) << 24) >> 24
            val dbg = ((db - dg) << 24) >> 24
            if (dg >= -32 && dg <= 31 && drg >= -8 && drg <= 7 &&
                dbg >= -8 && dbg <= 7) {
              out.write(0x80 | (dg + 32))
              out.write(((drg + 8) << 4) | (dbg + 8))
            } else {
              out.write(0xfe); out.write(r); out.write(g); out.write(b)
            }
          }
        }
        pr = r; pg = g; pb = b
      }
      i += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var k = 0
    while (k < 7) { out.write(0); k += 1 }
    out.write(1)
    out.toByteArray
  }

  /** QOI decoder — STRICT: bad magic, nonsense dims, a stream that runs
    * short or long of exactly `w·h` pixels, reads into the end-marker
    * region, or a wrong end marker all yield None (fail-soft upstream).
    * Handles both RGB and RGBA sources (alpha tracked for the hash/index
    * state, dropped from the returned RGB plane). */
  private[graft] def qoiDecode(bts: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (bts == null || bts.length < 23) return None // 14 header + 1 op + 8 marker
    if (bts(0) != 'q' || bts(1) != 'o' || bts(2) != 'i' || bts(3) != 'f')
      return None
    def be32(o: Int): Int =
      ((bts(o) & 0xff) << 24) | ((bts(o + 1) & 0xff) << 16) |
        ((bts(o + 2) & 0xff) << 8) | (bts(o + 3) & 0xff)
    val w = be32(4); val h = be32(8)
    val channels = bts(12) & 0xff; val colorspace = bts(13) & 0xff
    if (w <= 0 || h <= 0 || (channels != 3 && channels != 4) ||
        colorspace > 1 || w.toLong * h > Int.MaxValue / 4) return None
    val n = w * h
    val limit = bts.length - 8 // first end-marker byte
    val px = new Array[Byte](n * 3)
    val index = new Array[Int](64)
    var r = 0; var g = 0; var b = 0; var a = 255
    var i = 14; var p = 0
    while (p < n) {
      if (i >= limit) return None
      val tag = bts(i) & 0xff
      if (tag >= 0xc0 && tag <= 0xfd) { // RUN (0xFE/0xFF are RGB/RGBA)
        val run = (tag & 0x3f) + 1
        if (run > n - p) return None
        var k = 0
        while (k < run) {
          px(p * 3) = r.toByte; px(p * 3 + 1) = g.toByte
          px(p * 3 + 2) = b.toByte
          p += 1; k += 1
        }
        i += 1
      } else {
        if (tag == 0xfe) {
          if (i + 4 > limit) return None
          r = bts(i + 1) & 0xff; g = bts(i + 2) & 0xff; b = bts(i + 3) & 0xff
          i += 4
        } else if (tag == 0xff) {
          if (i + 5 > limit) return None
          r = bts(i + 1) & 0xff; g = bts(i + 2) & 0xff; b = bts(i + 3) & 0xff
          a = bts(i + 4) & 0xff
          i += 5
        } else (tag >> 6) match {
          case 0 => // INDEX
            val packed = index(tag & 0x3f)
            r = (packed >>> 24) & 0xff; g = (packed >>> 16) & 0xff
            b = (packed >>> 8) & 0xff; a = packed & 0xff
            i += 1
          case 1 => // DIFF
            r = (r + ((tag >> 4) & 3) - 2) & 0xff
            g = (g + ((tag >> 2) & 3) - 2) & 0xff
            b = (b + (tag & 3) - 2) & 0xff
            i += 1
          case _ => // LUMA
            if (i + 2 > limit) return None
            val dg = (tag & 0x3f) - 32
            val b2 = bts(i + 1) & 0xff
            r = (r + dg + ((b2 >> 4) & 0xf) - 8) & 0xff
            g = (g + dg) & 0xff
            b = (b + dg + (b2 & 0xf) - 8) & 0xff
            i += 2
        }
        index((r * 3 + g * 5 + b * 7 + a * 11) % 64) =
          (r << 24) | (g << 16) | (b << 8) | a
        px(p * 3) = r.toByte; px(p * 3 + 1) = g.toByte; px(p * 3 + 2) = b.toByte
        p += 1
      }
    }
    if (i != limit) return None // trailing ops past the pixel count
    var m = 0
    while (m < 7) { if (bts(limit + m) != 0) return None; m += 1 }
    if (bts(limit + 7) != 1) return None
    Some((w, h, channels, px))
  }

  /** One decoded QOI image's features — header fields plus per-channel
    * byte means (integer sums, one division), `is_valid = false` with
    * zeroed features for anything [[qoiDecode]] rejects. */
  case class QoiFeatures(media_id: Long, width: Int, height: Int,
                         channels: Int, mean_r: Double, mean_g: Double,
                         mean_b: Double, is_valid: Boolean)

  /** REAL compressed-image decode — the [[decodePpmFeatures]] contract over
    * [[qoiDecode]]: partition-local typed map, fail-soft, no shuffle. */
  def decodeQoiFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        qoiDecode(payload) match {
          case Some((w, h, c, px)) =>
            val n = w.toLong * h
            var sr = 0L; var sg = 0L; var sb = 0L
            var p = 0
            while (p < n) {
              sr += px(p * 3) & 0xff
              sg += px(p * 3 + 1) & 0xff
              sb += px(p * 3 + 2) & 0xff
              p += 1
            }
            QoiFeatures(id, w, h, c, sr.toDouble / n, sg.toDouble / n,
              sb.toDouble / n, is_valid = true)
          case None =>
            QoiFeatures(id, 0, 0, 0, 0.0, 0.0, 0.0, is_valid = false)
        }
      })
      .toDF()
  }

  // ======================= PNG (round 16) =======================

  /** Build REAL PNG images from the payload bytes — the format corpora
    * actually ship in, decodable with zero new dependencies because PNG's
    * only codec is DEFLATE and `java.util.zip` is JVM-built-in. Same pixel
    * construction as [[encodePpm]]/[[encodeQoi]] (width 4, height =
    * max(1, ⌊len/12⌋) rows of 4 RGB pixels, short payloads zero-pad their
    * single row), so the analytic oracle convention carries over: PNG is
    * LOSSLESS, the oracle mirrors the pixel construction from the source
    * bytes, and any defect in either the encoder's chunk/zlib framing or
    * the decoder's filter reconstruction breaks the round trip and
    * hash-fails. Partition-local typed map, zero shuffle. */
  def encodePng(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, source) =>
        val out =
          if (payload == null) null
          else {
            val h = math.max(1, payload.length / 12)
            val px = new Array[Byte](h * 12)
            System.arraycopy(payload, 0, px, 0,
              math.min(payload.length, h * 12))
            pngEncode(px, 4, h)
          }
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, "image", out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** PNG encoder over an RGB plane — critical chunks only, faithful to the
    * public spec (RFC 2083 / W3C PNG): 8-byte signature; IHDR (8-bit,
    * color type 2 truecolor, no interlace); ONE IDAT holding the zlib
    * stream of filter-type-0-prefixed scanlines; IEND. CRC32 over
    * type+data per chunk. Filter 0 everywhere is the valid minimal choice
    * for an encoder (filters optimize compression, not correctness) — the
    * DECODER handles all five types. */
  private[graft] def pngEncode(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(px.length == w * h * 3, "plane must be w*h*3 RGB bytes")
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (stride + 1)) = 0 // filter type: None
      System.arraycopy(px, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zBuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zBuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val out = new java.io.ByteArrayOutputStream(zBuf.size + 64)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    def be32(v: Int): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length), 0, 4)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8 /*bit depth*/ , 2 /*truecolor*/ , 0, 0, 0 /*no interlace*/))
    chunk("IDAT", zBuf.toByteArray)
    chunk("IEND", Array.empty[Byte])
    out.toByteArray
  }

  /** PNG decoder — the real thing, zero new deps: signature check, chunk
    * walk with per-chunk CRC32 verification, IHDR validation (8-bit depth,
    * color types 2 RGB / 6 RGBA, compression 0, filter method 0, no
    * interlace — Adam7 and palette/gray forms fail soft), multi-IDAT
    * concatenation, `java.util.zip.Inflater`, and full scanline filter
    * reconstruction for ALL FIVE filter types (None/Sub/Up/Average/Paeth,
    * including Paeth's tie-breaking predictor order). Strict like
    * [[qoiDecode]]: truncated zlib streams, over-long streams, trailing
    * bytes after IEND, or any CRC mismatch yield None.
    *
    * Returns (width, height, source channels, RGB plane) — RGBA sources
    * are reconstructed with their alpha (the filters act on all 4
    * channels) and the returned plane drops it, the [[qoiDecode]]
    * convention. */
  private[graft] def pngDecode(bts: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    // 8 signature + IHDR(25) + shortest IDAT(12) + IEND(12)
    if (bts == null || bts.length < 57) return None
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    var s = 0
    while (s < 8) { if ((bts(s) & 0xff) != sig(s)) return None; s += 1 }
    def be32(o: Int): Int =
      ((bts(o) & 0xff) << 24) | ((bts(o + 1) & 0xff) << 16) |
        ((bts(o + 2) & 0xff) << 8) | (bts(o + 3) & 0xff)
    var i = 8
    var w = 0; var h = 0; var colorType = -1
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      if (i + 12 > bts.length) return None
      val len = be32(i)
      if (len < 0 || i + 12 + len > bts.length) return None
      val typ = new String(bts, i + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bts, i + 4, 4 + len)
      if (crc.getValue.toInt != be32(i + 8 + len)) return None
      typ match {
        case "IHDR" =>
          if (seenIhdr || len != 13) return None
          w = be32(i + 8); h = be32(i + 12)
          val bitDepth = bts(i + 16) & 0xff
          colorType = bts(i + 17) & 0xff
          val compression = bts(i + 18) & 0xff
          val filterMethod = bts(i + 19) & 0xff
          val interlace = bts(i + 20) & 0xff
          if (w <= 0 || h <= 0 || bitDepth != 8 ||
              (colorType != 2 && colorType != 6) || compression != 0 ||
              filterMethod != 0 || interlace != 0 ||
              w.toLong * h > Int.MaxValue / 8) return None
          seenIhdr = true
        case "IDAT" =>
          if (!seenIhdr) return None
          idat.write(bts, i + 8, len)
        case "IEND" =>
          if (!seenIhdr || len != 0) return None
          seenIend = true
        case _ => // ancillary chunks skipped (tEXt, pHYs, gAMA, ...)
          if (!seenIhdr) return None
      }
      i += 12 + len
    }
    if (i != bts.length || idat.size == 0) return None
    val bpp = if (colorType == 2) 3 else 4
    val stride = w * bpp
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val k = inf.inflate(raw, off, raw.length - off)
        if (k == 0 && inf.needsInput()) return None // truncated stream
        off += k
      }
      if (off != raw.length) return None
      if (!inf.finished() && inf.inflate(new Array[Byte](1)) > 0)
        return None // stream longer than the pixel data
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // scanline filter reconstruction, in place row by row
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val rgb = new Array[Byte](w * h * 3)
    val prior = new Array[Byte](stride) // zeroed: the spec's virtual row -1
    val cur = new Array[Byte](stride)
    var y = 0
    while (y < h) {
      val rowOff = y * (stride + 1)
      val f = raw(rowOff) & 0xff
      if (f > 4) return None
      var x = 0
      while (x < stride) {
        val v = raw(rowOff + 1 + x) & 0xff
        val a = if (x >= bpp) cur(x - bpp) & 0xff else 0
        val b = prior(x) & 0xff
        val c = if (x >= bpp) prior(x - bpp) & 0xff else 0
        val recon = f match {
          case 0 => v
          case 1 => v + a
          case 2 => v + b
          case 3 => v + ((a + b) >> 1)
          case _ => v + paeth(a, b, c)
        }
        cur(x) = (recon & 0xff).toByte
        x += 1
      }
      var p = 0
      while (p < w) {
        rgb((y * w + p) * 3) = cur(p * bpp)
        rgb((y * w + p) * 3 + 1) = cur(p * bpp + 1)
        rgb((y * w + p) * 3 + 2) = cur(p * bpp + 2)
        p += 1
      }
      System.arraycopy(cur, 0, prior, 0, stride)
      y += 1
    }
    Some((w, h, bpp, rgb))
  }

  /** Build REAL baseline JPEGs from the payload bytes — the honest corpus
    * for [[decodeJpegFeatures]]: a 16-pixel-tall horizontal strip of
    * `max(1, min(64, len/3))` SOLID 16x16 MCUs, MCU m coloured by payload
    * bytes (3m, 3m+1, 3m+2), zero-padded past the payload end. The 64-MCU
    * cap bounds the construction's pixel amplification (3 payload bytes
    * become 256 pixels — uncapped, an average document cost ~4x more
    * encode work than the whole PNG gate); 64 MCUs exercise every codec
    * path (DC prediction chains, chroma subsampling, multi-MCU scans) at a
    * fixed per-document budget. Solid MCUs are
    * the construction that makes a LOSSY codec analytically oracle-able:
    * a constant block's DCT is pure DC, so with [[Jpeg.FlatQuant]]'s DC
    * step of 8 the quantization round-trips exactly and the decoded
    * pixels are the closed-form JFIF colour round-trip of the inputs
    * (every rounding in the chain is `floor(x + 0.5)` on one double
    * expression — mirrorable in oracle SQL). The DECODER never assumes
    * this construction; it decodes whatever baseline stream it is handed.
    * Defaults to [[Jpeg.FlatQuant]] for both tables (the exact-DC gate
    * shape); pass the Annex K tables for a realistic lossy corpus. */
  def encodeJpeg(media: DataFrame,
                 lumaQ: Array[Int] = Jpeg.FlatQuant,
                 chromaQ: Array[Int] = Jpeg.FlatQuant,
                 maxMcu: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, source) =>
        val out =
          if (payload == null) null
          else {
            val nMcu = math.max(1, math.min(maxMcu, payload.length / 3))
            val w = 16 * nMcu
            val px = new Array[Byte](w * 16 * 3)
            var m = 0
            while (m < nMcu) {
              var c = 0
              while (c < 3) {
                val v = if (3 * m + c < payload.length) payload(3 * m + c)
                  else 0: Byte
                var y = 0
                while (y < 16) {
                  var x = 0
                  while (x < 16) {
                    px((y * w + m * 16 + x) * 3 + c) = v
                    x += 1
                  }
                  y += 1
                }
                c += 1
              }
              m += 1
            }
            Jpeg.encode(px, w, 16, lumaQ, chromaQ)
          }
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, "image", out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** One decoded JPEG's features — the [[QoiFeatures]] shape. */
  case class JpegFeatures(media_id: Long, width: Int, height: Int,
                          channels: Int, mean_r: Double, mean_g: Double,
                          mean_b: Double, is_valid: Boolean)

  /** REAL JPEG decode — the [[decodePngFeatures]] contract over
    * [[Jpeg.decode]]: partition-local typed map, fail-soft, no shuffle. */
  def decodeJpegFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        Jpeg.decode(payload) match {
          case Some((w, h, c, px)) =>
            val n = w.toLong * h
            var sr = 0L; var sg = 0L; var sb = 0L
            var p = 0
            while (p < n) {
              sr += px(p * 3) & 0xff
              sg += px(p * 3 + 1) & 0xff
              sb += px(p * 3 + 2) & 0xff
              p += 1
            }
            JpegFeatures(id, w, h, c, sr.toDouble / n, sg.toDouble / n,
              sb.toDouble / n, is_valid = true)
          case None =>
            JpegFeatures(id, 0, 0, 0, 0.0, 0.0, 0.0, is_valid = false)
        }
      })
      .toDF()
  }

  /** One decoded PNG's features — the [[QoiFeatures]] shape. */
  case class PngFeatures(media_id: Long, width: Int, height: Int,
                         channels: Int, mean_r: Double, mean_g: Double,
                         mean_b: Double, is_valid: Boolean)

  /** REAL PNG decode — the [[decodePpmFeatures]] contract over
    * [[pngDecode]]: partition-local typed map, fail-soft, no shuffle. */
  def decodePngFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        pngDecode(payload) match {
          case Some((w, h, c, px)) =>
            val n = w.toLong * h
            var sr = 0L; var sg = 0L; var sb = 0L
            var p = 0
            while (p < n) {
              sr += px(p * 3) & 0xff
              sg += px(p * 3 + 1) & 0xff
              sb += px(p * 3 + 2) & 0xff
              p += 1
            }
            PngFeatures(id, w, h, c, sr.toDouble / n, sg.toDouble / n,
              sb.toDouble / n, is_valid = true)
          case None =>
            PngFeatures(id, 0, 0, 0, 0.0, 0.0, 0.0, is_valid = false)
        }
      })
      .toDF()
  }

  /** The 256-entry palette the GIF corpus builders use: entry i maps to
    * RGB (i, (i+85) mod 256, 255−i) — three DISTINCT channel functions of
    * the index, each a one-liner in oracle SQL, so a swapped channel or a
    * palette-lookup off-by-one hash-fails (a greyscale palette would hide
    * both). */
  private[graft] val GifPalette: Array[Byte] = {
    val p = new Array[Byte](256 * 3)
    var i = 0
    while (i < 256) {
      p(i * 3) = i.toByte
      p(i * 3 + 1) = ((i + 85) % 256).toByte
      p(i * 3 + 2) = (255 - i).toByte
      i += 1
    }
    p
  }

  /** Build REAL GIF89a images from the payload bytes — the palette-indexed
    * corpus for [[decodeGifFeatures]]: a 4-wide, `max(1, len/12)`-tall
    * frame whose pixel k is palette index payload(k) (zero past the end),
    * under [[GifPalette]]. GIF is LOSSLESS, so the oracle mirrors the
    * index→RGB construction analytically and never sees the codec — any
    * defect in the LZW coder, sub-block framing, or color-table walk
    * breaks the round trip and hash-fails. Dimensions match the PNG/QOI
    * builders (4 × len/12) so the three gates carry comparable weight. */
  def encodeGif(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, source) =>
        val out =
          if (payload == null) null
          else {
            val h = math.max(1, payload.length / 12)
            val idx = new Array[Byte](4 * h)
            val n = math.min(idx.length, payload.length)
            System.arraycopy(payload, 0, idx, 0, n)
            Gif.encode(idx, 4, h, GifPalette)
          }
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, "image", out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** One decoded GIF's features — the [[QoiFeatures]] shape. */
  case class GifFeatures(media_id: Long, width: Int, height: Int,
                         channels: Int, mean_r: Double, mean_g: Double,
                         mean_b: Double, is_valid: Boolean)

  /** REAL GIF decode — the [[decodePngFeatures]] contract over
    * [[Gif.decode]]: partition-local typed map, fail-soft, no shuffle. */
  def decodeGifFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        Gif.decode(payload) match {
          case Some((w, h, c, px)) =>
            val n = w.toLong * h
            var sr = 0L; var sg = 0L; var sb = 0L
            var p = 0
            while (p < n) {
              sr += px(p * 3) & 0xff
              sg += px(p * 3 + 1) & 0xff
              sb += px(p * 3 + 2) & 0xff
              p += 1
            }
            GifFeatures(id, w, h, c, sr.toDouble / n, sg.toDouble / n,
              sb.toDouble / n, is_valid = true)
          case None =>
            GifFeatures(id, 0, 0, 0, 0.0, 0.0, 0.0, is_valid = false)
        }
      })
      .toDF()
  }

  /** Build ANIMATED GIF89a streams from the payload bytes — the
    * multi-frame corpus for [[decodeGifFrameFeatures]]: `max(1, min(16,
    * len))` frames on an 8×8 logical screen, frame f a SOLID fill of
    * palette index payload(f) (zero past the end) under [[GifPalette]],
    * with per-frame graphic control extensions and the NETSCAPE looping
    * block — the animation surface a crawl's GIFs actually use. */
  def encodeGifFrames(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"),
        col("meta.source").as("source"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, payload, source) =>
        val out =
          if (payload == null) null
          else {
            val nf = math.max(1, math.min(16, payload.length))
            val frames = (0 until nf).map { f =>
              val v = if (f < payload.length) payload(f) else 0: Byte
              Gif.Frame(Array.fill(64)(v), 0, 0, 8, 8)
            }
            Gif.encodeFrames(frames, 8, 8, GifPalette)
          }
        val sha = if (out == null) null
          else java.security.MessageDigest.getInstance("SHA-256")
            .digest(out).map("%02x".format(_)).mkString
        MediaRow(id, "video", out,
          MediaMeta(if (out == null) 0L else out.length.toLong, sha, source))
      })
      .toDF()
  }

  /** One animated GIF's temporal fingerprint (the GIF sibling of
    * [[Y4mTemporalHash]]). */
  case class GifTemporalHash(media_id: Long, thash: Long, n_bits: Int,
                             n_frames: Long, is_valid: Boolean)

  /** Perceptual fingerprint for ANIMATED GIFs — the temporal brightness
    * envelope over COMPOSITED frames (disposal + transparency applied, so
    * the envelope describes what a viewer sees): per frame, the integer
    * sum of all canvas RGB bytes; frames split into `windows` spans;
    * per-span half-up byte mean; bit b = span b brighter than the
    * envelope's own mean — the [[y4mTemporalHash]] math exactly, so the
    * two containers' fingerprints live in the same Hamming space for
    * banded near-dup joins. Scan-stage typed kernel, zero shuffle. */
  def gifTemporalHash(media: DataFrame, windows: Int = 16): DataFrame = {
    require(windows >= 1 && windows <= 64, "windows must be in [1, 64]")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        Gif.decodeFrames(payload) match {
          case None => GifTemporalHash(id, 0L, 0, 0L, is_valid = false)
          case Some((sw, sh, frames)) =>
            val nBytes = sw * sh * 3
            val sums = frames.map { f =>
              var s = 0L
              var i = 0
              while (i < nBytes) { s += f.canvas(i) & 0xff; i += 1 }
              s
            }
            val nf = sums.length
            val w2 = math.min(windows, nf)
            val means = new Array[Long](w2)
            var tot = 0L
            var b = 0
            while (b < w2) {
              val fs = b * nf / w2; val fe = (b + 1) * nf / w2
              var s = 0L
              var f = fs
              while (f < fe) { s += sums(f); f += 1 }
              val cnt = (fe - fs).toLong * nBytes
              means(b) = (2 * s + cnt) / (2 * cnt)
              tot += means(b)
              b += 1
            }
            var hash = 0L
            b = 0
            while (b < w2) {
              if (w2 * means(b) > tot) hash |= 1L << (w2 - 1 - b)
              b += 1
            }
            GifTemporalHash(id, hash, w2, nf.toLong, is_valid = true)
        }
      })
      .toDF()
  }

  /** One animated-GIF frame's features (the GIF sibling of
    * [[Y4mFrame]]): composited-canvas channel means per frame. */
  case class GifFrameFeatures(media_id: Long, frame_no: Int, width: Int,
                              height: Int, mean_r: Double, mean_g: Double,
                              mean_b: Double, is_valid: Boolean)

  /** REAL animated-GIF frame walk — one row per frame with the
    * COMPOSITED canvas's channel means (disposal methods and transparency
    * applied, so the features describe what a viewer sees, not the raw
    * sub-rectangle). Fail-soft: an undecodable payload yields one
    * invalid row, the [[decodeY4mFrames]] convention. */
  def decodeGifFrameFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        Gif.decodeFrames(payload) match {
          case Some((sw, sh, frames)) =>
            val n = sw.toLong * sh
            frames.map { f =>
              var sr = 0L; var sg = 0L; var sb = 0L
              var p = 0
              while (p < n) {
                sr += f.canvas(p * 3) & 0xff
                sg += f.canvas(p * 3 + 1) & 0xff
                sb += f.canvas(p * 3 + 2) & 0xff
                p += 1
              }
              GifFrameFeatures(id, f.index, sw, sh, sr.toDouble / n,
                sg.toDouble / n, sb.toDouble / n, is_valid = true)
            }
          case None =>
            Seq(GifFrameFeatures(id, -1, 0, 0, 0.0, 0.0, 0.0,
              is_valid = false))
        }
      }
      .toDF()
  }
}

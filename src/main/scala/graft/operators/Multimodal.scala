package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus per-partition feature extraction.
  *
  * IMAGE decode is REAL for 8-bit non-interlaced PNG: [[decodePngFiles]]
  * runs [[PngCodec]] (pure-JVM zlib inflate + full five-filter scanline
  * unfiltering, CRC-verified) over genuinely valid on-disk PNG files and
  * emits true header-derived dimensions and exact pixel statistics.
  * AUDIO decode is REAL for PCM16 WAV: [[decodeWavFiles]] runs
  * [[WavCodec]] (RIFF chunk walk honoring sizes/padding, fmt parse,
  * little-endian sample decode) over genuinely valid on-disk WAV files.
  * VIDEO-style frame sampling is REAL for animated PNG:
  * [[sampleApngFrames]] decodes every frame of genuinely valid APNG
  * containers ([[PngCodec.decodeApng]] — acTL/fcTL/fdAT walk, one zlib
  * stream per frame) and emits stride-sampled per-frame statistics with
  * fcTL-derived timing. Codecs needing external libraries (JPEG entropy
  * coding, compressed audio, H.26x/VPx video) remain STUBBED:
  * `decodeStub` derives deterministic fake features from the raw bytes.
  * Everything around the stub is real and scale-correct:
  *  - ingest: [[readBinaryMedia]] reads genuine on-disk blobs through
  *    Spark's distributed `binaryFile` source (PNG-signature-prefixed
  *    fixture staged by [[writePngFixture]]) — file bytes, not text cast
  *    to binary, flow through the decode path;
  *  - schema: (id, kind, bytes binary, meta struct) — metadata travels in
  *    columns so filters on width/duration prune before any decode;
  *  - execution: `mapPartitions` over a typed Dataset — the decoder is
  *    initialized once per partition (exactly where a JNI codec handle or a
  *    Python worker would live), rows stream through in batch shape;
  *  - partitioning: decode is narrow; no shuffle is introduced.
  */
object Multimodal {

  case class MediaRow(id: Long, kind: String, bytes: Array[Byte],
                      width: Int, height: Int, sample_rate: Int,
                      duration_ms: Int)

  case class MediaFeatures(id: Long, kind: String, n_bytes: Int,
                           checksum: Long, features: Array[Double])

  /** Build a deterministic media table from the documents fixture: the
    * UTF-8 bytes stand in for encoded media payloads. */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480).cast("int").as("height"),
      lit(16000).as("sample_rate"),
      (col("n_chars") * 10).cast("int").as("duration_ms"))
      .as[MediaRow]
  }

  /** The 8-byte PNG file signature (ISO/IEC 15948 §5.2) — the magic every
    * real image pipeline sniffs before decoding. The binary fixture
    * prefixes it to every blob so the staged files are structurally
    * PNG-shaped (signature + payload), not text with a new extension. */
  val PngSignature: Array[Byte] =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

  /** Non-ASCII suffix PLANTED into a deterministic subset of fixture docs
    * (é ° 漢 — 2+2+3 UTF-8 bytes): the multimodal oracles restate every
    * planted byte in OCTET terms (octet_length/hex-pair extraction over
    * encode(text)), so the ASCII restriction the r14 `asciiOnly` guard
    * enforced is gone — and rather than trust that silently, staging
    * APPLIES multi-byte text to ids 3/64/125 on every run, keeping the
    * byte-vs-character divergence permanently exercised on both engines.
    * The SQL mirror is `graft.gates.MultimodalGates.fixtureTextSql`. */
  val NonAsciiSuffix = "é°漢"

  /** The staged-fixture text for a document: the raw text, with
    * [[NonAsciiSuffix]] appended when `id % 61 == 3` (ids 3, 64, 125
    * inside the 128-doc staging bound). */
  def fixtureText(id: Long, text: String): String =
    if (id % 61 == 3) text + NonAsciiSuffix else text

  /** Stage a deterministic BINARY fixture: one `.png` file per document
    * with `doc_id < maxId` and non-empty text, content = PNG signature ++
    * UTF-8 payload bytes. Driver-side file writes, BOUNDED by `maxId`
    * (128 files by default — fixture staging, not a data path; the data
    * path is the distributed `binaryFile` scan that reads them back).
    * Returns the number of files written. */
  def writePngFixture(docs: DataFrame, dir: String, maxId: Long = 128): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val bytes = PngSignature ++
        fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"blob_${r.getLong(0)}%05d.png"), bytes)
    }
    rows.length
  }

  /** A REAL-PNG fixture: one fully valid 8-bit grayscale PNG per document
    * (signature, IHDR, zlib-deflated IDAT with the scanline filter
    * CYCLING through all five types, CRC-verified IEND) — any image tool
    * would open these. Pixels are the document's UTF-8 bytes laid out
    * row-major at width `1 + len % 31`, height `ceil(len / width)`,
    * zero-padded in the last row — a deterministic layout the DuckDB
    * oracle can restate from `documents.text` alone, so the decode gate
    * proves a genuine inflate + unfilter round trip. Bounded driver-side
    * staging like [[writePngFixture]]. */
  def writeRealPngFixture(docs: DataFrame, dir: String,
                          maxId: Long = 128): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val payload =
        fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 1 + payload.length % 31
      val h = (payload.length + w - 1) / w
      val px = java.util.Arrays.copyOf(payload, w * h) // zero padding
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"img_${r.getLong(0)}%05d.png"),
        PngCodec.encode(PngCodec.Image(w, h, 1, px)))
    }
    rows.length
  }

  case class ResizedPng(id: Long, width: Int, height: Int, out_w: Int,
                        out_h: Int, pix_sum: Long, pix_min: Int, pix_max: Int)

  /** REAL image resize through the real decoder — the preprocessing step
    * every vision-training pipeline runs before feature extraction: 2×2
    * box-filter downscale (each output pixel the floor-mean of its input
    * block, the ragged last row/column cropped — the standard
    * power-of-two pyramid step) applied to genuinely decoded PNG pixels
    * inside the per-partition codec seam. Emits the resized image's
    * exact integer statistics so the oracle can restate every output
    * pixel from the document bytes the fixture encodes. Zero shuffle —
    * embarrassingly parallel like every codec path; a 1×N or N×1 image
    * (empty downscale) reports zeroed stats rather than vanishing. */
  def resizePngFiles(spark: SparkSession, dir: String): Dataset[ResizedPng] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = PngCodec.decode(bytes)
          val w2 = img.width / 2
          val h2 = img.height / 2
          if (w2 == 0 || h2 == 0)
            ResizedPng(id, img.width, img.height, w2, h2, 0L, 0, 0)
          else {
            var s = 0L
            var mn = Int.MaxValue
            var mx = -1
            var r = 0
            while (r < h2) {
              var c = 0
              while (c < w2) {
                val base = 2 * r * img.width + 2 * c
                val p = ((img.pixels(base) & 0xff) +
                  (img.pixels(base + 1) & 0xff) +
                  (img.pixels(base + img.width) & 0xff) +
                  (img.pixels(base + img.width + 1) & 0xff)) / 4
                s += p
                if (p < mn) mn = p
                if (p > mx) mx = p
                c += 1
              }
              r += 1
            }
            ResizedPng(id, img.width, img.height, w2, h2, s, mn, mx)
          }
        }
      }
  }

  /** [[writeRealPngFixture]] wrapped with PII-bearing `tEXt` metadata
    * chunks (author email, software tag, comment) — the fixture for the
    * metadata-scrub audit. Chunk values are pure functions of `doc_id`,
    * so the DuckDB oracle restates every removed byte exactly. */
  def writeMetaPngFixture(docs: DataFrame, dir: String,
                          maxId: Long = 128): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val payload =
        fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 1 + payload.length % 31
      val h = (payload.length + w - 1) / w
      val px = java.util.Arrays.copyOf(payload, w * h)
      val png = PngCodec.withTextChunks(
        PngCodec.encode(PngCodec.Image(w, h, 1, px)),
        Seq("Author" -> s"user-$id@example.com",
          "Software" -> "graft-engine",
          "Comment" -> s"doc-$id"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"img_$id%05d.png"), png)
    }
    rows.length
  }

  case class StrippedPng(id: Long, n_chunks_before: Long,
                         n_chunks_after: Long, bytes_removed: Long,
                         pixels_intact: Boolean)

  /** Metadata scrub over staged PNGs — the EXIF-strip analog a privacy
    * pass runs on image corpora: distributed `binaryFile` scan, per file
    * one chunk walk dropping every ancillary chunk
    * ([[PngCodec.stripAncillary]] — tEXt author emails, timestamps,
    * eXIf), then a decode of BOTH versions proving the pixel data
    * survived byte-for-byte. Per-partition seam like every codec path;
    * no shuffle — the scrub is embarrassingly parallel at any corpus
    * size. */
  def stripPngMetadata(spark: SparkSession,
                       dir: String): Dataset[StrippedPng] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val stripped = PngCodec.stripAncillary(bytes)
          val intact = java.util.Arrays.equals(
            PngCodec.decode(bytes).pixels, PngCodec.decode(stripped).pixels)
          StrippedPng(id,
            PngCodec.chunkTags(bytes).length.toLong,
            PngCodec.chunkTags(stripped).length.toLong,
            (bytes.length - stripped.length).toLong, intact)
        }
      }
  }

  /** [[writeRealPngFixture]] plus PLANTED NEAR-DUPLICATE variants: for
    * every `every`-th document a second image (`id + 100000`) identical
    * except pixel 0 forced to 0xFF — a controlled perceptual-near-dup pair
    * (the variant flips only the grid samples that land on pixel 0 plus
    * whatever the mean shift flips), so the image-LSH gate has known
    * positives to find. */
  def writeNearDupPngFixture(docs: DataFrame, dir: String,
                             maxId: Long = 128, every: Int = 4): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val payload =
        fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val w = 1 + payload.length % 31
      val h = (payload.length + w - 1) / w
      def write(id: Long, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"img_$id%05d.png"),
          PngCodec.encode(
            PngCodec.Image(w, h, 1, java.util.Arrays.copyOf(bytes, w * h))))
      write(r.getLong(0), payload)
      if (r.getLong(0) % every == 0) {
        val v = payload.clone()
        v(0) = 0xff.toByte
        write(r.getLong(0) + 100000L, v)
      }
    }
    rows.length
  }

  /** IMAGE near-dup candidate pairs via banded LSH over the 64-bit
    * perceptual hash — the image analog of the text MinHash band join
    * ([[Dedup]]): the hash splits into eight 8-bit bands, images sharing
    * ANY band value become candidates (a pair within Hamming distance d
    * keeps at least one of 8 bands intact whenever d < 8 by pigeonhole,
    * and with high probability well past that), and candidates verify by
    * EXACT Hamming distance <= `maxHamming`. Never all-pairs: candidate
    * generation is an equi-join on (band, value) — shuffle bounded by
    * per-band bucket density, the same scale shape as `dedup_minhash`.
    * Input: `(id, ahash_a, ahash_b)` from [[ahashPngFiles]] (two 32-bit
    * halves, both engines in non-negative BIGINT arithmetic). */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 16): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"imageNearDupPairs: maxHamming in [0, 64], got $maxHamming")
    val bandCols = (0 until 8).map { b =>
      val bv = if (b < 4) expr(s"shiftright(ahash_a, ${b * 8}) & 255")
               else expr(s"shiftright(ahash_b, ${(b - 4) * 8}) & 255")
      struct(lit(b).as("b"), bv.as("bv"))
    }
    val banded = hashes
      .select(col("id"), col("ahash_a"), col("ahash_b"),
        explode(array(bandCols: _*)).as("p"))
      .select(col("id"), col("ahash_a"), col("ahash_b"),
        col("p.b").as("b"), col("p.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.ahash_a").as("aa"), col("x.ahash_b").as("ab"),
        col("y.ahash_a").as("ba"), col("y.ahash_b").as("bb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        (expr("bit_count(aa ^ ba)") + expr("bit_count(ab ^ bb)"))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  case class DecodedPng(id: Long, width: Int, height: Int, n_pix: Long,
                        pixel_sum: Long, mean_gray: Double)

  /** REAL decode over staged PNG files: distributed `binaryFile` scan,
    * then per-partition [[PngCodec.decode]] — actual zlib inflation and
    * scanline unfiltering, not byte-math over an opaque payload. Emits
    * true header-derived dimensions and exact integer pixel statistics
    * (the mean is one IEEE division of exact integers at emission — the
    * cross-engine-safe shape). */
  def decodePngFiles(spark: SparkSession, dir: String): Dataset[DecodedPng] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder seam: a JNI codec handle would init here
        rows.map { case (id, bytes) =>
          val img = PngCodec.decode(bytes)
          var sum = 0L
          var i = 0
          while (i < img.pixels.length) { sum += img.pixels(i) & 0xff; i += 1 }
          val n = img.width.toLong * img.height
          DecodedPng(id, img.width, img.height, n, sum, sum.toDouble / n)
        }
      }
  }

  /** A REAL-WAV fixture: one fully valid PCM16 mono WAV per document
    * ([[WavCodec]] container: RIFF + fmt + a LIST metadata chunk + data,
    * word-aligned). Samples derive deterministically from the document's
    * UTF-8 bytes — `s_i = (b_i - 128) * 256`, the standard 8→16-bit
    * expansion — and the sample rate varies per file
    * (`8000 * (1 + doc_id % 3)`), so the DuckDB oracle can restate every
    * decoded statistic from `documents.text` alone and the gate proves a
    * genuine chunk-walk + LE-PCM16 parse. Bounded driver-side staging
    * like [[writeRealPngFixture]]. */
  def writeRealWavFixture(docs: DataFrame, dir: String,
                          maxId: Long = 128): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val b = fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val samples = b.map(x => (((x & 0xff) - 128) * 256).toShort)
      val rate = 8000 * (1 + (r.getLong(0) % 3).toInt)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"aud_${r.getLong(0)}%05d.wav"),
        WavCodec.encode(WavCodec.Pcm(rate, 1, samples)))
    }
    rows.length
  }

  /** [[writeRealWavFixture]] with PLANTED per-file INFO metadata — an
    * author tag and a comment carrying the document's leading text — the
    * provenance/PII surface the WAV scrub gate must remove. Every tag
    * value is a pure function of (doc_id, text), so the oracle restates
    * each removed byte count from the documents table. */
  def writeMetaWavFixture(docs: DataFrame, dir: String,
                          maxId: Long = 128): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val b = fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val samples = b.map(x => (((x & 0xff) - 128) * 256).toShort)
      val rate = 8000 * (1 + (id % 3).toInt)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"aud_$id%05d.wav"),
        WavCodec.encode(WavCodec.Pcm(rate, 1, samples), Seq(
          "ISFT" -> "graft-engine",
          "IART" -> s"author-$id",
          "ICMT" -> fixtureText(id, r.getString(1)).take(16))))
    }
    rows.length
  }

  case class StrippedWav(id: Long, n_chunks_before: Long,
                         n_chunks_after: Long, bytes_removed: Long,
                         samples_intact: Boolean)

  /** Metadata scrub over staged WAVs — [[stripPngMetadata]]'s audio
    * sibling, completing the privacy pass over both shipped binary
    * formats: distributed `binaryFile` scan, per file one RIFF chunk walk
    * dropping every non-essential chunk ([[WavCodec.stripMetadata]] —
    * LIST/INFO author tags, comments), then a decode of BOTH versions
    * proving the PCM stream survived sample-for-sample. Per-partition
    * seam, no shuffle — embarrassingly parallel at any corpus size. */
  def stripWavMetadata(spark: SparkSession,
                       dir: String): Dataset[StrippedWav] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir)
      .select(
        regexp_extract(col("path"), "aud_(\\d+)\\.wav$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val stripped = WavCodec.stripMetadata(bytes)
          val a = WavCodec.decode(bytes)
          val b = WavCodec.decode(stripped)
          val intact = a.sampleRate == b.sampleRate &&
            a.channels == b.channels &&
            java.util.Arrays.equals(a.samples, b.samples)
          StrippedWav(id,
            WavCodec.chunkIds(bytes).length.toLong,
            WavCodec.chunkIds(stripped).length.toLong,
            (bytes.length - stripped.length).toLong, intact)
        }
      }
  }

  case class DownsampledWav(id: Long, rate_in: Int, rate_out: Int,
                            n_in: Long, n_out: Long, sum_out: Long,
                            min_out: Long, max_out: Long)

  /** REAL audio resample through the real decoder — [[resizePngFiles]]'s
    * audio sibling, the rate-normalization step a speech pipeline runs
    * before feature extraction: decimate-by-two with a 2-tap box filter
    * (each output sample the FLOOR-mean of a consecutive input pair —
    * `Math.floorDiv`, matching the oracle's flooring `//` on negative
    * sums — trailing odd sample dropped). Emits exact integer statistics
    * of the downsampled stream; zero shuffle in the codec seam. */
  def downsampleWavFiles(spark: SparkSession,
                         dir: String): Dataset[DownsampledWav] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir)
      .select(
        regexp_extract(col("path"), "aud_(\\d+)\\.wav$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val pcm = WavCodec.decode(bytes)
          val n = pcm.samples.length
          val m = n / 2
          var s = 0L
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var j = 0
          while (j < m) {
            val v = Math.floorDiv(
              pcm.samples(2 * j).toInt + pcm.samples(2 * j + 1).toInt, 2)
            s += v
            if (v < mn) mn = v
            if (v > mx) mx = v
            j += 1
          }
          if (m == 0) DownsampledWav(id, pcm.sampleRate, pcm.sampleRate / 2,
            n.toLong, 0L, 0L, 0L, 0L)
          else DownsampledWav(id, pcm.sampleRate, pcm.sampleRate / 2,
            n.toLong, m.toLong, s, mn, mx)
        }
      }
  }

  case class DecodedWav(id: Long, sample_rate: Int, channels: Int,
                        n_samples: Long, duration_ms: Long, sample_sum: Long,
                        mean_amp: Double, zero_crossings: Long)

  /** REAL decode over staged WAV files: distributed `binaryFile` scan,
    * then per-partition [[WavCodec.decode]] — an actual RIFF chunk walk
    * and little-endian PCM16 parse. Emits fmt-derived rate/channels and
    * exact integer sample statistics; `mean_amp` (mean absolute
    * amplitude) is ONE IEEE division of exact integers at emission, and
    * `zero_crossings` counts sign flips between consecutive samples —
    * both standard audio-triage features. */
  def decodeWavFiles(spark: SparkSession, dir: String): Dataset[DecodedWav] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir)
      .select(
        regexp_extract(col("path"), "aud_(\\d+)\\.wav$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder seam: an ffmpeg/JNI handle would init here
        rows.map { case (id, bytes) =>
          val pcm = WavCodec.decode(bytes)
          var sum = 0L
          var absSum = 0L
          var crossings = 0L
          var i = 0
          while (i < pcm.samples.length) {
            val s = pcm.samples(i).toLong
            sum += s
            absSum += math.abs(s)
            if (i > 0 && (pcm.samples(i - 1) < 0) != (s < 0)) crossings += 1
            i += 1
          }
          val frames = pcm.samples.length.toLong / pcm.channels
          DecodedWav(id, pcm.sampleRate, pcm.channels, frames,
            frames * 1000L / pcm.sampleRate, sum,
            absSum.toDouble / math.max(frames, 1L), crossings)
        }
      }
  }

  /** [[writeRealWavFixture]] plus PLANTED NEAR-DUPLICATE variants: for
    * every `every`-th document a second file (`id + 100000`) identical
    * except sample 0 forced to -32768 (source byte 0x00) — a controlled
    * acoustic-near-dup pair (the variant shifts only window 0's energy
    * plus whatever the global-mean shift flips), so the audio-LSH gate
    * has known positives to find. */
  def writeNearDupWavFixture(docs: DataFrame, dir: String,
                             maxId: Long = 128, every: Int = 4): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val b = fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val rate = 8000 * (1 + (r.getLong(0) % 3).toInt)
      def write(id: Long, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"aud_$id%05d.wav"),
          WavCodec.encode(WavCodec.Pcm(rate, 1,
            bytes.map(x => (((x & 0xff) - 128) * 256).toShort))))
      write(r.getLong(0), b)
      if (r.getLong(0) % every == 0) {
        val v = b.clone(); v(0) = 0x00
        write(r.getLong(0) + 100000L, v)
      }
    }
    rows.length
  }

  case class AudioFp(id: Long, n_samples: Long, ahash_a: Long,
                     ahash_b: Long)

  /** 64-bit ENERGY-PROFILE fingerprint over the real PCM16 decode — the
    * audio analog of [[ahashPngFiles]]: the sample stream splits into 64
    * floor-boundary windows (`w_i = 64*i div n`, every window non-empty
    * for n >= 64), and bit w is set iff the window's mean absolute
    * amplitude exceeds the file's — compared as the exact integer
    * cross-product `absSum_w * n > total * cnt_w`, no division. Two
    * 32-bit halves keep both engines in non-negative BIGINT arithmetic
    * (the phash rule). Files shorter than 64 samples carry no stable
    * profile and are dropped. */
  def audioFingerprint(spark: SparkSession, dir: String): Dataset[AudioFp] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir)
      .select(
        regexp_extract(col("path"), "aud_(\\d+)\\.wav$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val pcm = WavCodec.decode(bytes)
        val n = pcm.samples.length
        if (n < 64) None
        else {
          val absSum = new Array[Long](64)
          val cnt = new Array[Long](64)
          var total = 0L
          var i = 0
          while (i < n) {
            val a = math.abs(pcm.samples(i).toLong)
            val w = ((64L * i) / n).toInt
            absSum(w) += a; cnt(w) += 1; total += a
            i += 1
          }
          var ha = 0L; var hb = 0L; var w = 0
          while (w < 64) {
            if (absSum(w) * n > total * cnt(w)) {
              if (w < 32) ha |= 1L << w else hb |= 1L << (w - 32)
            }
            w += 1
          }
          Some(AudioFp(id, n.toLong, ha, hb))
        }
      }
  }

  case class WavSegment(id: Long, seg_idx: Long, start_idx: Long,
                        end_idx: Long, n_samples: Long, n_active: Long,
                        peak_amp: Long)

  /** Silence-split segmentation over the REAL PCM16 decode — the
    * VAD-lite curation primitive that turns raw audio into trainable
    * utterance spans (and drops dead air) before transcription. A sample
    * is ACTIVE when `|s| >= threshAmp`; active samples separated by
    * fewer than `minSilence` quiet samples coalesce into one segment
    * (start/end = first/last active sample, 0-based), and a quiet run of
    * `>= minSilence` closes it. All-integer emission (span, active
    * count, peak amplitude): exact on any engine.
    *
    * Runs inside the same per-partition decoder seam as
    * [[decodeWavFiles]] — one sequential pass per file over the decoded
    * samples, no intermediate explode: at 100 TB the segmentation costs
    * nothing beyond the decode scan itself (contrast a
    * posexplode+window restatement, which would shuffle every SAMPLE;
    * the DuckDB oracle does exactly that restatement, which is the
    * point — it is the slow encodable shape the operator avoids). */
  def wavSegments(spark: SparkSession, dir: String, threshAmp: Int = 8192,
                  minSilence: Int = 4): Dataset[WavSegment] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir)
      .select(
        regexp_extract(col("path"), "aud_(\\d+)\\.wav$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val pcm = WavCodec.decode(bytes)
        val out = scala.collection.mutable.ArrayBuffer.empty[WavSegment]
        var segStart = -1L; var segEnd = -1L
        var nActive = 0L; var peak = 0L
        def close(): Unit = if (segStart >= 0) {
          out += WavSegment(id, out.length.toLong, segStart, segEnd,
            segEnd - segStart + 1, nActive, peak)
          segStart = -1; segEnd = -1; nActive = 0; peak = 0
        }
        var i = 0
        while (i < pcm.samples.length) {
          val amp = math.abs(pcm.samples(i).toLong)
          if (amp >= threshAmp) {
            if (segStart >= 0 && i - segEnd - 1 >= minSilence) close()
            if (segStart < 0) segStart = i
            segEnd = i; nActive += 1
            if (amp > peak) peak = amp
          }
          i += 1
        }
        close()
        out
      }
  }

  /** A REAL-APNG fixture: one fully valid ANIMATED PNG per document —
    * acTL/fcTL/fdAT over the same CRC-verified, zlib-deflated,
    * filter-cycled encoding as [[writeRealPngFixture]]; any APNG-aware
    * viewer plays these. The animation is an 8x4 grayscale canvas whose
    * frame f carries the document's UTF-8 bytes [f*32, f*32+32),
    * zero-padded — ceil(len/32) frames — with per-file frame delay
    * (1 + doc_id % 5)/100 s, so the DuckDB oracle restates every decoded
    * per-frame statistic from `documents.text` alone. Bounded driver-side
    * staging like the other fixture writers. */
  def writeApngFixture(docs: DataFrame, dir: String, maxId: Long = 128): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val payload =
        fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val nFrames = math.max(1, (payload.length + 31) / 32)
      val frames = (0 until nFrames).map { f =>
        val px = new Array[Byte](32)
        val from = f * 32
        val n = math.min(32, payload.length - from)
        if (n > 0) System.arraycopy(payload, from, px, 0, n)
        PngCodec.Frame(1 + (r.getLong(0) % 5).toInt, 100, px)
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"vid_${r.getLong(0)}%05d.png"),
        PngCodec.encodeApng(frames, width = 8, height = 4, channels = 1))
    }
    rows.length
  }

  /** [[writeApngFixture]] plus planted near-dup variants (frame 0 pixel 0
    * forced to 0xFF, id+100000, every `every`-th doc) — the video analog
    * of [[writeNearDupWavFixture]], for the temporal near-dup gate. */
  def writeNearDupApngFixture(docs: DataFrame, dir: String,
                              maxId: Long = 128, every: Int = 4): Int = {
    val rows = docs
      .filter(col("doc_id") < maxId && col("text").isNotNull &&
        length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
    rows.foreach { r =>
      val payload =
        fixtureText(r.getLong(0), r.getString(1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val nFrames = math.max(1, (payload.length + 31) / 32)
      def framesOf(perturb: Boolean): Seq[PngCodec.Frame] =
        (0 until nFrames).map { f =>
          val px = new Array[Byte](32)
          val from = f * 32
          val n = math.min(32, payload.length - from)
          if (n > 0) System.arraycopy(payload, from, px, 0, n)
          if (perturb && f == 0) px(0) = 0xff.toByte
          PngCodec.Frame(1 + (r.getLong(0) % 5).toInt, 100, px)
        }
      def write(id: Long, frames: Seq[PngCodec.Frame]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"vid_$id%05d.png"),
          PngCodec.encodeApng(frames, width = 8, height = 4, channels = 1))
      write(r.getLong(0), framesOf(perturb = false))
      if (r.getLong(0) % every == 0)
        write(r.getLong(0) + 100000L, framesOf(perturb = true))
    }
    rows.length
  }

  case class VideoFp(id: Long, n_frames: Int, ahash_a: Long, ahash_b: Long)

  /** 64-bit TEMPORAL fingerprint over the real APNG decode — the VIDEO
    * analog of [[audioFingerprint]], closing the near-dup matrix
    * (text/image/audio/embedding/video). The ORDERED per-frame dHash
    * sequence (GRADIENT hash: bit j set iff pixel j exceeds pixel j+1 —
    * chosen over the threshold-vs-mean aHash because gradient bits are
    * near-unbiased coins across documents, where aHash bits on this
    * corpus sit at p≈0.8 and a brightness-profile variant was measured
    * near-useless, matching ~60% / ~16% of ALL pairs respectively) is
    * resampled onto a fixed 64-slot timeline — slot w reads frame
    * `f = w*nFrames div 64` (the temporal-normalization step every video
    * fingerprint needs so clips of different lengths stay comparable) —
    * and slot w's bit samples hash bit `w mod 31` of its frame, so all
    * 64 emitted bits stay individually informative even for short clips.
    * Ordering is what makes it temporal: the same frames shuffled in
    * time produce a different bit sequence, while a small edit to one
    * frame (re-encode artifact, logo overlay) only touches the slots
    * mapped to that frame — the Hamming-near property banded LSH needs.
    * Clips shorter than `minFrames` frames carry no stable profile and
    * are dropped (with fewer than 4 frames, half the timeline rides one
    * frame and a single-frame edit can exceed the Hamming budget).
    *
    * Runs entirely inside the per-partition decoder seam — one
    * `binaryFile` scan, one sequential decode pass per file, no frame
    * explode shuffle; per-file state is one 64-bit accumulator pair. */
  def videoFingerprint(spark: SparkSession, dir: String,
                       minFrames: Int = 4): Dataset[VideoFp] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "vid_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val anim = PngCodec.decodeApng(bytes)
        val nf = anim.frames.length
        if (nf < minFrames) None
        else {
          // per-frame GRADIENT hash: bit j set iff pixel j > pixel j+1
          val ah = new Array[Long](nf)
          var f = 0
          while (f < nf) {
            val px = anim.frames(f).pixels
            val nb = math.min(63, px.length - 1)
            var h = 0L; var j = 0
            while (j < nb) {
              if ((px(j) & 0xff) > (px(j + 1) & 0xff)) h |= 1L << j
              j += 1
            }
            ah(f) = h
            f += 1
          }
          var ha = 0L; var hb = 0L; var w = 0
          while (w < 64) {
            val fr = ((w.toLong * nf) / 64).toInt
            if (((ah(fr) >>> (w % 31)) & 1L) == 1L) {
              if (w < 32) ha |= 1L << w else hb |= 1L << (w - 32)
            }
            w += 1
          }
          Some(VideoFp(id, nf, ha, hb))
        }
      }
  }

  case class ApngFrame(id: Long, n_frames: Int, frame_idx: Int,
                       delay_ms: Long, pixel_sum: Long, mean_gray: Double)

  /** REAL frame sampling over staged animated PNGs: distributed
    * `binaryFile` scan, per-partition [[PngCodec.decodeApng]] (actual
    * per-frame zlib inflation + unfiltering), then every `stride`-th
    * frame emitted with its fcTL-derived delay and exact pixel
    * statistics — the video-pipeline primitive (decode container ->
    * sample frames -> per-frame features) made real for an actual
    * animated container format. `mean_gray` is ONE IEEE division of
    * exact integers at emission. */
  def sampleApngFrames(spark: SparkSession, dir: String,
                       stride: Int = 2): Dataset[ApngFrame] = {
    require(stride >= 1, s"sampleApngFrames: stride must be >= 1, got $stride")
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "vid_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder seam: an ffmpeg/JNI handle would init here
        rows.flatMap { case (id, bytes) =>
          val anim = PngCodec.decodeApng(bytes)
          anim.frames.zipWithIndex
            .filter { case (_, i) => i % stride == 0 }
            .map { case (fr, i) =>
              var sum = 0L
              var j = 0
              while (j < fr.pixels.length) { sum += fr.pixels(j) & 0xff; j += 1 }
              val n = anim.width.toLong * anim.height
              ApngFrame(id, anim.frames.length, i,
                fr.delayNum * 1000L / fr.delayDen, sum, sum.toDouble / n)
            }
        }
      }
  }

  case class ApngSceneFrame(id: Long, frame_idx: Int, ahash: Long,
                            delta_l1: Long, is_cut: Boolean)

  /** Per-frame perceptual features + SCENE-CUT detection over REAL
    * decoded APNG frames — the video-curation primitive the frame
    * sampler feeds (dedup near-identical frames by hash, segment a clip
    * at content changes): for every frame, a threshold-vs-floor-mean
    * fingerprint (bit j set iff pixel j exceeds the frame's integer mean
    * gray — the aHash rule on the frame's own canvas, first min(63, n)
    * pixels so the BIGINT stays non-negative), the L1 pixel distance to
    * the PREVIOUS frame (frame 0 diffs against black, so its delta is
    * its pixel sum), and the cut decision `delta_l1 > cutThreshold`.
    * All integer arithmetic over genuinely inflated/unfiltered frame
    * bytes; one sequential pass per file holds exactly one previous
    * frame — O(canvas) state however long the animation. */
  def apngSceneCuts(spark: SparkSession, dir: String,
                    cutThreshold: Long = 512L): Dataset[ApngSceneFrame] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "vid_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val anim = PngCodec.decodeApng(bytes)
          var prev: Array[Byte] = null
          anim.frames.zipWithIndex.map { case (fr, i) =>
            val px = fr.pixels
            var sum = 0L
            var j = 0
            while (j < px.length) { sum += px(j) & 0xff; j += 1 }
            val mean = sum / px.length
            val nb = math.min(63, px.length)
            var hash = 0L
            j = 0
            while (j < nb) {
              if ((px(j) & 0xff) > mean) hash |= (1L << j)
              j += 1
            }
            var delta = 0L
            j = 0
            while (j < px.length) {
              val p = if (prev == null) 0 else prev(j) & 0xff
              delta += math.abs((px(j) & 0xff) - p)
              j += 1
            }
            prev = px
            ApngSceneFrame(id, i, hash, delta, delta > cutThreshold)
          }
        }
      }
  }

  case class PngAHash(id: Long, width: Int, height: Int,
                      ahash_a: Long, ahash_b: Long)

  /** Perceptual AVERAGE HASH (aHash — the classic 64-bit perceptual
    * fingerprint: sample an 8×8 grid, threshold each sample against the
    * grid mean) computed through the REAL PNG decode — the
    * image-content analog of [[graft.functions.TextFns.fingerprint]],
    * and the candidate key for image near-dup dedup exactly as MinHash
    * bands are for text. Emitted as two 32-bit halves (`ahash_a` bits
    * 0–31, `ahash_b` bits 32–63) so both engines stay in non-negative
    * BIGINT arithmetic (bit 63 would wrap a signed long). Grid sampling
    * uses integer floor positions `(r·h/8, c·w/8)`; the mean is the
    * floor of the 64-sample sum — all exact integer arithmetic. */
  def ahashPngFiles(spark: SparkSession, dir: String): Dataset[PngAHash] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val img = PngCodec.decode(bytes)
          val w = img.width
          val h = img.height
          val samples = Array.tabulate(64) { k =>
            val r = k / 8
            val c = k % 8
            img.pixels(r * h / 8 * w + c * w / 8) & 0xff
          }
          val mean = samples.sum / 64
          var a = 0L
          var b = 0L
          var k = 0
          while (k < 64) {
            if (samples(k) > mean) {
              if (k < 32) a |= 1L << k else b |= 1L << (k - 32)
            }
            k += 1
          }
          PngAHash(id, w, h, a, b)
        }
      }
  }

  /** Read a directory of staged media blobs through Spark's `binaryFile`
    * source — the REAL ingest path for image/audio payloads (distributed
    * scan, one row per file: path/length/content; filters on path or
    * length prune before any byte is shipped). Ids come back out of the
    * file names; metadata derives from the on-disk length, as it would
    * from a sidecar manifest in production. */
  def readBinaryMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // pathGlobFilter, not a glob path: a glob makes the sink-metadata
    // probe warn on every read (it stats the literal "*.png" path)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "blob_(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("length"), col("content"))
      .select(
        col("id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("id") % 3 + 1).cast("int")).as("kind"),
        col("content").as("bytes"),
        (col("length") % 640).cast("int").as("width"),
        (col("length") % 480).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (col("length") * 10).cast("int").as("duration_ms"))
      .as[MediaRow]
  }

  /** STUB decode + feature extraction. Real system: replace the body of
    * `extract` with the codec call (libjpeg / ffmpeg / torchcodec); the
    * partition shape, schema and determinism contract stay identical.
    *
    * The fake features are chosen to be oracle-expressible: the checksum is
    * a mod-prime rolling hash (no signed-overflow wraparound, so DuckDB can
    * state it exactly — same prime as [[graft.functions.TextFns.fingerprint]]),
    * and each feature lane is an exact integer byte sum divided once at the
    * end in double (no float-accumulation order dependence). */
  def decodeStub(media: Dataset[MediaRow], featureDim: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (once, not per row)
      def extract(bytes: Array[Byte]): (Long, Array[Double]) = {
        var checksum = 0L
        val acc = new Array[Long](featureDim)
        var i = 0
        while (i < bytes.length) {
          checksum = (checksum * 31 + (bytes(i) & 0xff)) % 1000000007L
          acc(i % featureDim) += (bytes(i) & 0xff)
          i += 1
        }
        val n = math.max(1, bytes.length / featureDim)
        (checksum, acc.map(_.toDouble / 255.0 / n))
      }
      rows.map { r =>
        // defensive: a null payload decodes as empty media, not NPE (no
        // current fixture carries one — the oracle's COALESCEs state the
        // same n_bytes=0/checksum=0/f0=0.0 contract so both sides agree
        // the day one appears)
        val bytes = if (r.bytes == null) Array.empty[Byte] else r.bytes
        val (checksum, feats) = extract(bytes)
        MediaFeatures(r.id, r.kind, bytes.length, checksum, feats)
      }
    }
  }

  /** STUB frame sampler: every `stride`-th byte window stands in for video
    * frame sampling; preserves the real operator's output shape
    * (one row per sampled frame, frame index column). */
  def frameSampleStub(media: Dataset[MediaRow], stride: Int = 64,
                      frameLen: Int = 16): DataFrame = {
    media.toDF().select(col("id"), col("kind"),
        posexplode(transform(
          sequence(lit(0), greatest(ceil(length(col("bytes")) / stride) - 1, lit(0))),
          i => substring(col("bytes"), (i * stride + 1).cast("int"), lit(frameLen))))
          .as(Seq("frame_idx", "frame_bytes")))
      .filter(length(col("frame_bytes")) > 0)
  }
}

package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline: media as opaque `binary` columns with typed
  * metadata, decoded per partition (north-star surface).
  *
  * The decode step is a REAL byte-level codec for two genuinely minimal
  * container formats — uncompressed 24-bpp BMP (BITMAPINFOHEADER) and
  * 16-bit PCM WAV (canonical 44-byte RIFF header) — parsed field-by-field
  * with little-endian reads, magic/shape validation, and a pixel/sample
  * array slice. Heavier codecs (JPEG, H.264) are not in this container,
  * but they would occupy exactly this slot: [[MediaCodec.decode]] inside
  * [[decodeAll]]'s `mapPartitions`, one decoder per PARTITION so codec
  * state is reused across a batch of assets, never per row and never on
  * the driver. In PySpark terms this is the `mapInPandas` slot.
  *
  * Determinism contract with the DuckDB oracle: the corpus has no binary
  * media table, so [[assets]] synthesizes real containers whose payload
  * embeds the document's ASCII text bytes as pixel/sample data (truncated
  * to the container's geometry — no padding, so decoded byte i equals
  * text byte i). The decoder sees only the container bytes; the oracle
  * reproduces the same outputs from the generator's geometry formulas,
  * so a header-parse bug on either side breaks the hash compare.
  */
object Multimodal {

  /** One media asset: id + opaque container bytes + envelope type. */
  final case class MediaAsset(doc_id: Long, payload: Array[Byte],
      media_type: String)

  /** Typed decode output: parsed header fields + the decoded byte stream
    * (pixel array for BMP in file order, PCM sample bytes for WAV), each
    * element 0–255. `byte_len` is the CONTAINER size; `data.length` is the
    * decoded length. */
  final case class Decoded(doc_id: Long, fmt: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int, sample_rate: Int,
      channels: Int, data: Array[Int])

  /** Minimal real codecs. Encoders build spec-conformant containers (the
    * corpus synthesizer); [[decode]] parses them back from bytes alone. */
  object MediaCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** BMP width for a doc of `len` text bytes: 4·(len%3+1) ∈ {4,8,12},
      * so the 24-bpp row stride 3·w is 4-byte aligned (no row padding)
      * and ≤ 36 ≤ every corpus doc's length (height ≥ 1). */
    def bmpWidth(len: Int): Int = 4 * (len % 3 + 1)

    /** Uncompressed 24-bpp BMP: 14-byte file header + 40-byte
      * BITMAPINFOHEADER + pixel array (first 3·w·h bytes of `pixels`). */
    def encodeBmp(pixels: Array[Byte], width: Int, height: Int): Array[Byte] = {
      val n = 3 * width * height
      val out = ByteBuffer.allocate(54 + n).order(ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte)
      out.putInt(54 + n)                  // file size
      out.putInt(0)                       // reserved
      out.putInt(54)                      // pixel-array offset
      out.putInt(40)                      // DIB header size
      out.putInt(width).putInt(height)
      out.putShort(1)                     // color planes
      out.putShort(24)                    // bits per pixel
      out.putInt(0)                       // BI_RGB (uncompressed)
      out.putInt(n)                       // image size
      out.putInt(2835).putInt(2835)       // 72 dpi in px/metre
      out.putInt(0).putInt(0)             // palette size / important colors
      out.put(pixels, 0, n)
      out.array()
    }

    /** Canonical 44-byte-header 16-bit mono PCM WAV at 8 kHz; sample data
      * is `samples` truncated to a whole number of 2-byte frames. */
    def encodeWav(samples: Array[Byte]): Array[Byte] = {
      val n = samples.length - samples.length % 2
      val out = ByteBuffer.allocate(44 + n).order(ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII"))
      out.putInt(36 + n)                  // RIFF chunk size
      out.put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII"))
      out.putInt(16)                      // fmt chunk size (PCM)
      out.putShort(1)                     // audio format: PCM
      out.putShort(1)                     // channels
      out.putInt(8000)                    // sample rate
      out.putInt(16000)                   // byte rate = rate · block align
      out.putShort(2)                     // block align = channels · 2
      out.putShort(16)                    // bits per sample
      out.put("data".getBytes("US-ASCII"))
      out.putInt(n)                       // data chunk size
      out.put(samples, 0, n)
      out.array()
    }

    /** Parse a container from its bytes alone: validate magic + shape,
      * read the little-endian header fields, slice the data array. Throws
      * on anything malformed — a real codec's contract, and what routes
      * an asset to the DLQ in a pipeline deployment. */
    def decode(a: MediaAsset): Decoded = {
      val p = a.payload
      require(p.length >= 2, s"doc ${a.doc_id}: empty payload")
      val buf = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      def ascii(off: Int, n: Int) = new String(p, off, n, "US-ASCII")
      if (p(0) == 'B' && p(1) == 'M') {
        require(p.length >= 54, s"doc ${a.doc_id}: truncated BMP header")
        val fileSize = buf.getInt(2)
        val dataOffset = buf.getInt(10)
        val width = buf.getInt(18)
        val height = buf.getInt(22)
        val bpp = buf.getShort(28).toInt
        val compression = buf.getInt(30)
        require(bpp == 24, s"doc ${a.doc_id}: unsupported bpp $bpp")
        require(compression == 0, s"doc ${a.doc_id}: compressed BMP")
        require(width > 0 && height > 0,
          s"doc ${a.doc_id}: non-positive dimensions ${width}x$height")
        // Long arithmetic: a hostile width (~2^30) overflows width*3 to a
        // negative stride in Int, which would slip past the bound check
        val rowBytes = (width.toLong * 3 + 3) / 4 * 4 // rows pad to 4-byte words
        val nL = rowBytes * height
        require(dataOffset >= 54 && dataOffset.toLong + nL <= p.length &&
            fileSize <= p.length,
          s"doc ${a.doc_id}: truncated or out-of-bounds pixel array")
        val n = nL.toInt // nL <= p.length <= Int.MaxValue
        val px = new Array[Int](n)
        var i = 0
        while (i < n) { px(i) = p(dataOffset + i) & 0xff; i += 1 }
        Decoded(a.doc_id, "bmp", p.length, width, height,
          n_frames = 1, sample_rate = 0, channels = 0, data = px)
      } else if (p.length >= 44 && ascii(0, 4) == "RIFF" &&
          ascii(8, 4) == "WAVE") {
        require(ascii(12, 4) == "fmt ", s"doc ${a.doc_id}: missing fmt chunk")
        val audioFormat = buf.getShort(20).toInt
        val channels = buf.getShort(22).toInt
        val sampleRate = buf.getInt(24)
        val bitsPerSample = buf.getShort(34).toInt
        require(audioFormat == 1 && bitsPerSample == 16,
          s"doc ${a.doc_id}: unsupported WAV encoding")
        require(channels > 0, s"doc ${a.doc_id}: zero-channel WAV")
        require(ascii(36, 4) == "data", s"doc ${a.doc_id}: missing data chunk")
        val dataSize = buf.getInt(40)
        // >= 0 guard: a negative size field passes `44 + dataSize <= len`
        // and would surface as NegativeArraySizeException, not the
        // IllegalArgumentException the DLQ-routing contract promises
        require(dataSize >= 0 && 44 + dataSize <= p.length,
          s"doc ${a.doc_id}: truncated or negative-size sample data")
        val sm = new Array[Int](dataSize)
        var i = 0
        while (i < dataSize) { sm(i) = p(44 + i) & 0xff; i += 1 }
        Decoded(a.doc_id, "wav", p.length, width = 0, height = 0,
          n_frames = dataSize / (2 * channels), sample_rate = sampleRate,
          channels = channels, data = sm)
      } else throw new IllegalArgumentException(
        s"doc ${a.doc_id}: unrecognized container magic")
    }
  }

  /** Synthesize real containers from document text bytes — even doc_ids
    * become BMPs (text as the pixel array), odd ones WAVs (text as PCM
    * samples). The payload is opaque to everything downstream, exactly as
    * real media bytes would be; [[Tables.spread]] width-normalizes the
    * scan so encoding parallelizes across cores. */
  def assets(s: SparkSession, dir: String): Dataset[MediaAsset] =
    assetsOf(Tables.spread(s, dir, "documents", "doc_id"))

  /** [[assets]] over an EXPLICIT `(doc_id, text)` frame — the streaming
    * ingest seam: a micro-batch of arriving documents synthesizes its
    * containers identically to the batch scan. */
  def assetsOf(docs: DataFrame): Dataset[MediaAsset] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8") // ASCII corpus: byte i == char i
        // Invariant the oracle's geometry formulas depend on: every doc is
        // long enough for at least one full BMP row at the widest stride
        // (3·12 = 36 bytes), so decoded length is never 0 and the
        // engine/oracle declen=0 conventions never get exercised.
        require(bytes.length >= 36,
          s"doc $id: corpus doc shorter than 36 bytes breaks the " +
            "synthesizer geometry contract")
        if (id % 2 == 0) {
          val w = MediaCodec.bmpWidth(bytes.length)
          val h = bytes.length / (3 * w)
          MediaAsset(id, MediaCodec.encodeBmp(bytes, w, h), "image/bmp")
        } else MediaAsset(id, MediaCodec.encodeWav(bytes), "audio/wav")
      }
  }

  /** The doc-id parity predicate that [[assetsOf]] turns into a modality:
    * even ids encode as BMPs, odd ids as WAVs. A single-modality consumer
    * applies it to the doc frame BEFORE synthesis, so the other half of
    * the corpus is never encoded or decoded at all — the fmt filter
    * pushed through the opaque synthesize+decode maps, which Catalyst
    * cannot do itself (guide §2.3 / §4: project and filter before the
    * opaque operation). Every call site keeps its post-decode
    * `fmt` filter: the parity cut is an optimization, the fmt check
    * remains the contract, and the two agree by [[assetsOf]]'s own
    * dispatch. */
  private def parityDocs(docs: DataFrame, bmp: Boolean): DataFrame =
    docs.filter(if (bmp) col("doc_id") % 2 === 0 else col("doc_id") % 2 =!= 0)

  /** [[assets]] restricted to BMPs via the parity pushdown. */
  private[graft] def bmpAssets(s: SparkSession, dir: String): Dataset[MediaAsset] =
    assetsOf(parityDocs(Tables.spread(s, dir, "documents", "doc_id"), bmp = true))

  /** [[assets]] restricted to WAVs via the parity pushdown. */
  private[graft] def wavAssets(s: SparkSession, dir: String): Dataset[MediaAsset] =
    assetsOf(parityDocs(Tables.spread(s, dir, "documents", "doc_id"), bmp = false))

  /** Distributed decode: one codec per partition (mapPartitions), typed
    * output, no driver involvement. */
  def decodeAll(assets: Dataset[MediaAsset]): Dataset[Decoded] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition setup slot (heavier codec init would go here)
      it.map(MediaCodec.decode)
    }
  }

  /** Resize: nearest-neighbor resample of the DECODED byte stream to a
    * fixed target length — constant-size vector per asset for model
    * input, computed executor-side. A full image resampler swaps the 1-D
    * index arithmetic for a 2-D pixel-grid interpolation in the same
    * slot. */
  def resize(decoded: Dataset[Decoded], target: Int = 64): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.map { d =>
      val len = d.data.length
      val out = Array.tabulate(target)(i =>
        if (len == 0) 0 else d.data((i.toLong * len / target).toInt))
      (d.doc_id, target, out)
    }.toDF("doc_id", "size", "pixels")
  }

  /** Frame sampling: every k-th decoded byte — the batch shape of video
    * frame extraction (every k-th frame of the decoded stream). */
  def sampleFrames(decoded: Dataset[Decoded], everyK: Int): DataFrame = {
    import decoded.sparkSession.implicits._
    decoded.flatMap { d =>
      d.data.indices.by(everyK).map(i => (d.doc_id, i, d.data(i)))
    }.toDF("doc_id", "frame_offset", "frame_byte")
  }

  /** Driver-checkable metadata query: REAL header decode via
    * [[decodeAll]], one row per asset with the parsed container fields.
    * The oracle recomputes them from the synthesizer's geometry. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    decodeAll(assets(s, dir)).toDF()
      .select(col("doc_id"), col("fmt"), col("byte_len"), col("width"),
        col("height"), col("n_frames"), col("sample_rate"), col("channels"))

  /** Driver-checkable resize: the [[resize]] plumbing over decoded bytes
    * with the vector JSON-serialized (raw arrays are unhashable in the
    * driver's compare — the q21 lesson). */
  def resizeQuery(s: SparkSession, dir: String): DataFrame =
    resize(decodeAll(assets(s, dir)), target = 64)
      .select(col("doc_id"), col("size"),
        to_json(col("pixels")).as("pixels_json"))

  /** Driver-checkable frame sampling: every 10th decoded byte. */
  def frameSampleQuery(s: SparkSession, dir: String): DataFrame =
    sampleFrames(decodeAll(assets(s, dir)), everyK = 10)

  /** Driver-checkable 16-bin byte histogram over the DECODED stream,
    * computed inside the per-partition decode pass (one linear scan per
    * asset — the per-asset-feature shape at 100 TB, where an explode
    * would multiply the shuffle by the byte count). Counts (exact
    * integers) ship as JSON; normalized fractions are counts/len, but
    * double JSON formatting is engine-specific while integer JSON is
    * not. */
  def histogramQuery(s: SparkSession, dir: String): DataFrame = {
    val decoded = decodeAll(assets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.map { d =>
      val hist = new Array[Long](16)
      d.data.foreach(v => hist(v >> 4) += 1)
      (d.doc_id, d.data.length, hist)
    }.toDF("doc_id", "len", "hist")
      .select(col("doc_id"), col("len"),
        to_json(col("hist")).as("hist_counts_json"))
  }

  /** Perceptual-hash (aHash) visual dedup — the multimodal twin of d01:
    * resample the decoded stream to 64 values (the [[resize]] grid), set
    * bit_i when value_i exceeds the mean, and group identical 64-bit
    * fingerprints. The mean comparison is the exact integer form
    * `v_i · 64 > Σ v` (a float mean would put boundary values at the
    * mercy of rounding). The dataflow (constant-size fingerprint per
    * asset, hash-shuffle group) is the 100-TB shape; near-dup variants
    * band the 64 bits exactly like d05 bands its hyperplane signs. */
  def perceptualHashQuery(s: SparkSession, dir: String): DataFrame = {
    val px = resize(decodeAll(assets(s, dir)), target = 64)
    px.select(col("doc_id"), col("pixels"),
        aggregate(col("pixels"), lit(0L), (a, x) => a + x).as("st"))
      .select(col("doc_id"),
        array_join(transform(col("pixels"),
          p => when(p * 64 > col("st"), "1").otherwise("0")), "").as("ahash"))
      .groupBy("ahash")
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_assets"))
      .select(col("rep_id"), col("n_assets"), col("ahash"))
  }

  /** Audio energy / clipping analysis over decoded 16-bit PCM — the audio
    * curation pass that drops silent, quiet, or clipped assets before
    * feature extraction. Reassembles signed int16 samples from the
    * decoded little-endian byte stream (a REAL sample decode, not a byte
    * heuristic) and reduces each asset in one linear scan to exact
    * integers: sample count, peak amplitude, clipped-sample count
    * (full-scale ±32767/−32768), and energy as a BIGINT sum of squares —
    * doubles never appear, so the oracle matches bit-for-bit. Per-asset
    * work inside the decode partition pass: the 100-TB shape (an explode
    * would multiply the shuffle by the sample count). */
  def audioStatsQuery(s: SparkSession, dir: String): DataFrame = {
    val decoded = decodeAll(wavAssets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "wav").map { d =>
      val n = d.data.length / 2
      var i = 0; var sumSq = 0L; var peak = 0; var clipped = 0L
      while (i < n) {
        var v = d.data(2 * i) | (d.data(2 * i + 1) << 8)
        if (v > 32767) v -= 65536 // sign wrap: little-endian int16
        val a = math.abs(v)
        if (a > peak) peak = a
        if (v == 32767 || v == -32768) clipped += 1
        sumSq += v.toLong * v
        i += 1
      }
      (d.doc_id, n, peak, clipped, sumSq)
    }.toDF("doc_id", "n_samples", "peak_abs", "n_clipped", "sum_sq")
  }

  /** Decimation factor for [[audioDecimateQuery]]: keep every 2nd sample
    * (the 16 kHz → 8 kHz halving a speech pipeline runs before feature
    * extraction). */
  val DecimationFactor = 2

  /** Audio decimation resample (m10) — downsample decoded 16-bit PCM by
    * keeping every [[DecimationFactor]]-th sample, reporting the
    * decimated stream's exact integer stats (count, peak, energy) plus
    * the energy of the DROPPED samples: straight decimation has no
    * anti-aliasing low-pass, and `sum_sq_dropped` is precisely the
    * signal mass a production resampler's filter would have to handle —
    * the audit that decides whether cheap decimation is acceptable for
    * a corpus. Same one-scan-per-asset dataflow as [[audioStatsQuery]]
    * (all BIGINT arithmetic, no doubles, constant-size output per
    * asset inside the decode pass). */
  def audioDecimateQuery(s: SparkSession, dir: String): DataFrame = {
    val decoded = decodeAll(wavAssets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "wav").map { d =>
      val n = d.data.length / 2
      var i = 0; var nOut = 0; var peak = 0; var sq = 0L; var sqDrop = 0L
      while (i < n) {
        var v = d.data(2 * i) | (d.data(2 * i + 1) << 8)
        if (v > 32767) v -= 65536 // sign wrap: little-endian int16
        if (i % DecimationFactor == 0) {
          nOut += 1
          val a = math.abs(v)
          if (a > peak) peak = a
          sq += v.toLong * v
        } else sqDrop += v.toLong * v
        i += 1
      }
      (d.doc_id, n, nOut, peak, sq, sqDrop)
    }.toDF("doc_id", "n_samples_in", "n_samples_out", "peak_out",
      "sum_sq_out", "sum_sq_dropped")
  }

  /** Image patchify over decoded BMP pixels — the ViT-style prepass that
    * turns a pixel array into per-patch statistics (here a 2×2 quadrant
    * grid of exact integer sums; a model-input pipeline widens the grid
    * and normalizes later, the dataflow is identical). Quadrant
    * membership is pure integer index arithmetic over the row-major
    * pixel array (`2·y ≥ h`, `2·x ≥ rowBytes`), one linear scan per
    * asset inside the decode pass — constant-size output per asset, no
    * per-pixel shuffle.
    *
    * Row order caveat: uncompressed BMP stores pixel rows BOTTOM-UP, and
    * this query indexes rows in FILE order, so quadrants 0/1 are the
    * image's bottom half and 2/3 its top half (the oracle uses the same
    * file-order convention, so parity holds). A consumer that needs
    * image-space quadrants should flip with `height - 1 - y`. */
  def imagePatchQuery(s: SparkSession, dir: String): DataFrame = {
    val decoded = decodeAll(bmpAssets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "bmp").map { d =>
      val rb = 3 * d.width
      val sums = new Array[Long](4)
      var i = 0
      while (i < d.data.length) {
        val q = (if (2 * (i / rb) >= d.height) 2 else 0) +
          (if (2 * (i % rb) >= rb) 1 else 0)
        sums(q) += d.data(i)
        i += 1
      }
      (d.doc_id, d.width, d.height, sums)
    }.toDF("doc_id", "width", "height", "qsums")
      .select(col("doc_id"), col("width"), col("height"),
        to_json(col("qsums")).as("quadrant_sums_json"))
  }

  /** Per-channel image statistics (m09) — the normalization-constant pass
    * a vision pipeline runs over decoded pixels (the per-channel mean/std
    * every model input transform divides by). BMP pixels are interleaved
    * B,G,R in file order, so channel membership is `i mod 3` — one linear
    * scan per asset inside the decode pass reduces each image to exact
    * BIGINT per-channel sums and sums-of-squares; the means are single
    * divisions of exact integers at the boundary (std needs a sqrt, so
    * the sum-of-squares ships instead — the consumer composes it, and
    * the oracle compare stays bit-exact). Constant-size output per asset,
    * no per-pixel shuffle: the m07/m08 shape. */
  def channelStatsQuery(s: SparkSession, dir: String): DataFrame = {
    val decoded = decodeAll(bmpAssets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "bmp").map { d =>
      val sums = new Array[Long](3)
      val sqs = new Array[Long](3)
      var i = 0
      while (i < d.data.length) {
        val v = d.data(i)
        sums(i % 3) += v
        sqs(i % 3) += v.toLong * v
        i += 1
      }
      (d.doc_id, d.data.length / 3, sums(0), sums(1), sums(2),
        sqs(0), sqs(1), sqs(2))
    }.toDF("doc_id", "n_px", "sum_b", "sum_g", "sum_r",
        "sq_b", "sq_g", "sq_r")
      .select(col("doc_id"), col("n_px"),
        col("sum_b"), col("sum_g"), col("sum_r"),
        col("sq_b"), col("sq_g"), col("sq_r"),
        (col("sum_b").cast("double") / col("n_px")).as("mean_b"),
        (col("sum_g").cast("double") / col("n_px")).as("mean_g"),
        (col("sum_r").cast("double") / col("n_px")).as("mean_r"))
  }

  /** Still-segment / silence detection over the DECODED stream — the
    * media-curation pass that finds the longest constant-byte run per
    * asset (static frames in video, silence in PCM audio; a long run
    * means droppable or compressible content). Runs are maximal
    * constant-byte segments, so they are computable in ONE linear scan
    * per asset inside the decode pass — constant-size output per asset,
    * zero exchanges (the m07/m08 shape). The r17 rewrite replaced the
    * original gaps-and-islands dataflow (posexplode every decoded byte →
    * window row_number → two aggregations), which shuffled one row PER
    * DECODED BYTE — a corpus-bytes-sized exchange at 100 TB for a value
    * the scan already sees contiguously. Argmax ties break exactly as
    * before: longest run, then the smallest byte, then the earliest
    * offset (first-seen wins, and the scan visits runs in offset order
    * — fully deterministic). An empty decoded stream emits nothing,
    * matching the explode dataflow's no-rows behavior. */
  def stillSegmentsQuery(s: SparkSession, dir: String): DataFrame = {
    val decoded = decodeAll(assets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.flatMap { d =>
      val n = d.data.length
      if (n == 0) None
      else {
        var nRuns = 0L
        var bestLen = 0L
        var bestV = 0
        var bestStart = 0
        var i = 0
        while (i < n) {
          val v = d.data(i)
          var j = i + 1
          while (j < n && d.data(j) == v) j += 1
          val len = (j - i).toLong
          nRuns += 1
          if (len > bestLen || (len == bestLen && v < bestV)) {
            bestLen = len; bestV = v; bestStart = i
          }
          i = j
        }
        Some((d.doc_id, nRuns, bestLen, bestV, bestStart))
      }
    }.toDF("doc_id", "n_runs", "max_run_len", "max_run_byte",
      "max_run_start")
  }

  // --- m11/m12: visual near-dup through the IVF-PQ index -------------------
  /** PQ grid for the 16-dim image-feature space (M11PqM · M11PqSubDim =
    * 16 histogram bins — the m-family's Dim). */
  val M11PqM = 4
  val M11PqSubDim = 4

  /** Image feature vectors: m04's 16-bin intensity histogram per BMP
    * asset, as the `(vec_id, embedding)` frame the whole similarity
    * family operates on — the composition seam between the multimodal
    * decode pipeline and the ANN index lifecycle. `vec_id = doc_id / 2`
    * (BMPs are the even docs, so the id space is dense and the s15
    * machinery's role conventions — queries, centroid stride, codebook
    * slice — apply unchanged). At 100 TB this is ONE decode pass
    * emitting a constant-width vector per asset; everything downstream
    * is the index's problem, exactly as with text embeddings. */
  private[graft] def imageFeatures(s: SparkSession, dir: String): DataFrame =
    imageFeaturesOf(Tables.spread(s, dir, "documents", "doc_id"))

  /** The m11 feature extraction over an EXPLICIT `(doc_id, text)` frame
    * (decode → 16-bin histogram, `vec_id = doc_id / 2`) — what the
    * streaming visual ingest runs per micro-batch. */
  private[graft] def imageFeaturesOf(docs: DataFrame): DataFrame = {
    // parity pushdown (see parityDocs): skip synthesizing+decoding WAVs
    val decoded = decodeAll(assetsOf(parityDocs(docs, bmp = true)))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "bmp").map { d =>
      val hist = new Array[Float](16)
      d.data.foreach(v => hist(v >> 4) += 1f)
      (d.doc_id / 2, hist.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** m05's aHash fingerprint per BMP asset, keyed into the image
    * vec_id space — the EXACT visual-duplicate truth m12 audits the
    * index against. */
  private[graft] def imageAhash(s: SparkSession, dir: String): DataFrame = {
    val px = resize(decodeAll(bmpAssets(s, dir)).filter(_.fmt == "bmp"),
      target = 64)
    px.select((col("doc_id") / 2).cast("long").as("vec_id"),
        col("pixels"),
        aggregate(col("pixels"), lit(0L), (a, x) => a + x).as("st"))
      .select(col("vec_id"),
        array_join(transform(col("pixels"),
          p => when(p * 64 > col("st"), "1").otherwise("0")), "")
          .as("ahash"))
  }

  /** Exact-duplicate image pairs (directed, both directions): same
    * aHash, different asset. */
  private def imageDupPairs(s: SparkSession, dir: String): DataFrame = {
    val h = imageAhash(s, dir)
    h.as("a").join(h.as("b"),
        col("a.ahash") === col("b.ahash") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("partner"))
  }

  /** m11: visual ANN — every image that has an exact visual duplicate
    * queries the IVF-PQ index built over the image-feature corpus (the
    * m05-at-100-TB story: near-dup retrieval through inverted lists +
    * compressed codes, never an all-pairs scan). The full s16 serving
    * flow at the 16-dim grid: coarse probe → ADC top-[[Similarity
    * .RefineK]] → exact-decimal re-rank to top-3, self excluded.
    * Reference: the reference ships no media pipeline; this extends the
    * engine's own s15/s16 contract to decoded image features. */
  def visualAnnQuery(s: SparkSession, dir: String): DataFrame = {
    val (_, top, cached) = visualAnnFrames(s, dir)
    Similarity.evictAfter(top, cached: _*)
  }

  /** ONE decode pass for both m11/m12 inputs: the 16-bin histogram
    * feature vector AND the m05 aHash fingerprint per BMP asset. Both
    * reduce each image to a constant-size value (16 floats / 64 chars),
    * so sharing the pass persists a SMALL per-asset frame — never the
    * decoded pixels (the guide-§8 rule the m-family follows: cache the
    * lightweight proxy, recompute nothing heavy twice). Bit-identical to
    * composing [[imageFeaturesOf]] + [[imageAhash]]: the histogram loop
    * is imageFeaturesOf's, and the resample/threshold replays [[resize]]
    * (`(i·len/64).toInt` nearest-neighbor) and the exact integer mean
    * test `p·64 > Σp` of [[perceptualHashQuery]]/[[imageAhash]]. */
  private[graft] def imageFeatureAhash(s: SparkSession, dir: String)
      : DataFrame = {
    val decoded = decodeAll(bmpAssets(s, dir))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "bmp").map { d =>
      val hist = new Array[Float](16)
      d.data.foreach(v => hist(v >> 4) += 1f)
      val len = d.data.length
      val px = Array.tabulate(64)(i =>
        if (len == 0) 0 else d.data((i.toLong * len / 64).toInt))
      var st = 0L
      px.foreach(st += _)
      val sb = new java.lang.StringBuilder(64)
      px.foreach(p => sb.append(if (p.toLong * 64 > st) '1' else '0'))
      (d.doc_id / 2, hist.toSeq, sb.toString)
    }.toDF("vec_id", "embedding", "ahash")
  }

  /** The m11 retrieval with its shared inputs PERSISTED for the query's
    * lifetime: ONE decoded feature+fingerprint pass (see
    * [[imageFeatureAhash]]) feeds the dup-pair truth, the candidate
    * side, both quantizer derivations, the LUT, AND the exact refine —
    * unpersisted, every consumer pays its own full decode pass. Returns
    * (dup pairs, top-k frame, cached frames to evict after
    * materialization). */
  private def visualAnnFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val fa = imageFeatureAhash(s, dir).persist()
    val e = Similarity.withNorm(fa.select(col("vec_id"), col("embedding")))
    val h = fa.select(col("vec_id"), col("ahash"))
    val pairs = h.as("a").join(h.as("b"),
        col("a.ahash") === col("b.ahash") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("partner"))
      .persist()
    val queries = e
      .join(pairs.select("qid").distinct(), col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding"))
    val top = Similarity.ivfPqServe(queries, e, Similarity.centsOf(e),
      Similarity.pqCodebook(e, M11PqM, M11PqSubDim),
      m = M11PqM, subDim = M11PqSubDim, excludeSelfIds = true)
    (pairs, top, Seq(fa, pairs))
  }

  /** Audio feature vectors: 16-bin byte histogram per WAV asset over the
    * decoded PCM byte stream — the audio sibling of [[imageFeatures]],
    * making the WHOLE similarity family (index build, serving, CDC
    * maintenance) available to audio dedup with zero new machinery.
    * `vec_id = doc_id / 2` (WAVs are the odd docs; floor division gives
    * a dense id space, so the s15 role conventions apply unchanged). */
  private[graft] def audioFeatures(s: SparkSession, dir: String): DataFrame =
    audioFeaturesOf(Tables.spread(s, dir, "documents", "doc_id"))

  /** The m13 feature extraction over an EXPLICIT `(doc_id, text)` frame
    * (decode → 16-bin PCM-byte histogram, `vec_id = doc_id / 2`) — what
    * the streaming audio ingest runs per micro-batch, mirroring
    * [[imageFeaturesOf]]. */
  private[graft] def audioFeaturesOf(docs: DataFrame): DataFrame = {
    // parity pushdown (see parityDocs): skip synthesizing+decoding BMPs
    val decoded = decodeAll(assetsOf(parityDocs(docs, bmp = false)))
    import decoded.sparkSession.implicits._
    decoded.filter(_.fmt == "wav").map { d =>
      val hist = new Array[Float](16)
      d.data.foreach(v => hist(v >> 4) += 1f)
      (d.doc_id / 2, hist.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** m13: audio ANN — the WAV sibling of m11: the first
    * [[Similarity.NumQueries]] audio vectors query the IVF-PQ index
    * built over the audio-feature corpus at the 16-dim grid (the full
    * s16 serving flow: coarse probe → ADC + exact-code channel → exact
    * re-rank, self excluded). At 100 TB: near-dup audio retrieval
    * through inverted lists + compressed codes, never an all-pairs
    * scan. Reference ships no media pipeline; this extends the engine's
    * s15/s16 contract to decoded audio features. */
  def audioAnnQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.withNorm(audioFeatures(s, dir)).persist()
    val queries = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding"))
    val out = Similarity.ivfPqServe(queries, e, Similarity.centsOf(e),
      Similarity.pqCodebook(e, M11PqM, M11PqSubDim),
      m = M11PqM, subDim = M11PqSubDim, excludeSelfIds = true)
    Similarity.evictAfter(out, e)
  }

  /** m14: m13's recall against the exact brute-force cosine truth over
    * the same audio features — the s06 methodology applied to the audio
    * index (one composed row: hits, possible, recall@3). */
  def audioAnnRecallQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Similarity.withNorm(audioFeatures(s, dir)).persist()
    val queries = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding"))
    val served = Similarity.ivfPqServe(queries, e, Similarity.centsOf(e),
        Similarity.pqCodebook(e, M11PqM, M11PqSubDim),
        m = M11PqM, subDim = M11PqSubDim, excludeSelfIds = true)
      .select("qid", "neighbor_id")
    val bf = Similarity.bruteForceRanked(e)
      .filter(col("rank") <= 3).select("qid", "neighbor_id")
    val nPossible = 3L * Similarity.NumQueries
    val out = served.join(bf, Seq("qid", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(lit("audio_ivfpq").as("method"), col("n_hits"),
        lit(nPossible).as("n_possible"),
        (col("n_hits").cast("double") / nPossible).as("recall_at_3"))
    Similarity.evictAfter(out, e)
  }

  /** m12: the recall audit of m11 against m05's exact truth — one row
    * per (duplicate image, partner): did the index serve the partner in
    * the top-3? The never-lose-the-duplicate property is what makes
    * index-backed visual dedup trustworthy at scale — true by
    * construction since the refine stage's exact-code channel. */
  def visualDupRecallQuery(s: SparkSession, dir: String): DataFrame = {
    val (pairs, top, cached) = visualAnnFrames(s, dir)
    val top3 = top.select(col("qid").as("tqid"), col("neighbor_id"))
    val out = pairs
      .join(top3, col("qid") === col("tqid") &&
        col("partner") === col("neighbor_id"), "left")
      .select(col("qid"), col("partner"),
        col("neighbor_id").isNotNull.as("hit"))
    Similarity.evictAfter(out, cached: _*)
  }
}

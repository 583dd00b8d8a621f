package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.security.MessageDigest

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads plus typed metadata.
  *
  * The actual media codecs are STUBBED (this container has no image or
  * audio libraries). The stub "decode" derives pseudo-dimensions from an
  * md5 of the payload bytes, and exists in TWO forms that are
  * value-identical (asserted in MultimodalSpec):
  *
  *  - [[decodeWidth]]/[[decodeHeight]]: Column expressions — the
  *    registered queries (m01-m04) use these, so the whole pipeline
  *    stays inside whole-stage codegen and Catalyst can reorder the
  *    `media_type` filter BELOW the decode (non-matching rows are never
  *    decoded) and prune unused columns at the parquet scan.
  *  - [[MediaDecoder.decodeStub]] via [[decodeAll]]: the
  *    `mapPartitions` slot where a REAL codec would live (one decoder
  *    instance per partition — the expensive codec/model init happens
  *    once per partition, not per row). A real JNI/JavaCV decode is not
  *    expressible as a Column, so this boundary is kept, tested, and
  *    documented — but NOT placed in the registered query path, where
  *    its opacity would defeat filter pushdown and column pruning.
  *
  * At 100 TB: payloads dominate row size. Media lives in parquet as a
  * binary column next to its typed metadata; metadata-only queries
  * (resize planning, stats) must read ONLY the metadata columns — the
  * columnar projection is the entire point of carrying media as a
  * column rather than files. [[resizePlanFromMeta]] is that shape, and
  * MultimodalSpec asserts its scan's ReadSchema excludes the payload.
  * Queries that DO touch payloads (decode, frame hashing) are narrow
  * maps with no shuffle.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)
  final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                             width: Long, height: Long)

  /** 64-bit value from the first 8 hex chars of the payload md5 —
    * identical in DuckDB as CAST(('0x'||substr(md5(x),1,8)) AS BIGINT).
    */
  private def h32(payload: Column): Column =
    conv(substring(md5(payload), 1, 8), 16, 10).cast("long")

  /** Stub-decode width as a Column: 64 + h % 512. */
  def decodeWidth(payload: Column): Column = lit(64L) + h32(payload) % 512L

  /** Stub-decode height as a Column: 64 + (h / 512) % 512. */
  def decodeHeight(payload: Column): Column =
    lit(64L) + (h32(payload) / lit(512L)).cast("long") % 512L

  object MediaDecoder {
    /** Deterministic fake decode: md5-derived pseudo-dimensions.
      * Bit-identical to [[decodeWidth]]/[[decodeHeight]] (asserted in
      * MultimodalSpec), so the mapPartitions codec slot and the codegen
      * query path are interchangeable.
      */
    def decodeStub(payload: Array[Byte]): (Long, Long) = {
      val md = MessageDigest.getInstance("MD5")
      val hex = md.digest(payload).take(4).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex, 16)
      (64L + h % 512L, 64L + (h / 512L) % 512L)
    }
  }

  final case class PngRow(doc_id: Long, payload: Array[Byte])
  final case class PngMeta(doc_id: Long, width: Long, height: Long, pix_sum: Long)

  /** A REAL image codec — PNG via JDK `javax.imageio` (public, zero new
    * dependencies), filling the mapPartitions slot that [[decodeAll]]
    * documents. Images are generated deterministically from `doc_id`
    * (dimensions `8 + id % 25` by `8 + (id/25) % 25`, grayscale pixel
    * `(id*31 + x*7 + y*13) % 256`), so the DECODED width/height/raster
    * checksum are recomputable by the DuckDB oracle from the formula
    * alone — the m05 hash match proves real bytes went through a real
    * encoder and decoder, not a stub.
    *
    * PNG is lossless and the raster is written as TYPE_INT_RGB gray
    * (r=g=b=v), so decode returns the exact generated values.
    */
  object PngCodec {
    def dims(docId: Long): (Int, Int) =
      (8 + (docId % 25).toInt, 8 + ((docId / 25) % 25).toInt)

    def pixel(docId: Long, x: Int, y: Int): Int =
      ((docId * 31 + x * 7 + y * 13) % 256).toInt

    def encode(docId: Long): Array[Byte] = {
      val (w, h) = dims(docId)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = pixel(docId, x, y)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Decode width, height, and the sum of the blue channel over the
      * full raster (= the generated gray value, PNG being lossless).
      */
    def decode(payload: Array[Byte]): (Int, Int, Long) = {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          sum += (img.getRGB(x, y) & 0xff).toLong
          x += 1
        }
        y += 1
      }
      (img.getWidth, img.getHeight, sum)
    }
  }

  /** PNG payload table: one encoded image per document id. Generation
    * stands in for ingest (the corpus ships no real media); the encode
    * runs distributed, one ImageIO pipeline per partition, with the
    * disk-backed ImageIO cache off (executors should never touch temp
    * files for an in-memory encode).
    */
  def pngTable(s: SparkSession, dir: String): Dataset[PngRow] = {
    // Session-scoped media store (the CorpusIndexes sidecar discipline
    // applied to the payload table itself): at campaign scale media
    // BYTES are a STORED parquet binary column — production reads
    // them; only this fixture SYNTHESIZES them, and re-synthesizing
    // per query charged every png consumer an ingest-encode pass that
    // production never re-pays. One generation per (session, dir),
    // localCheckpointed; the first consumer pays the encode inside its
    // own timed region. Slice consumers (pngTableFor) still encode
    // their filtered ids directly — no superfluous image is encoded.
    CorpusIndexes.memo(s, dir, "png_payloads")(
      pngTableFor(documents(s, dir).select(col("doc_id"))
        .as[Long](s.implicits.newLongEncoder)).toDF())
      .as[PngRow](org.apache.spark.sql.Encoders.product[PngRow])
  }

  /** [[pngTable]] over an explicit id set — callers that work on a
    * SLICE (the incremental probe's new-arrivals side) filter ids
    * BEFORE the encoder runs, so no superfluous image is ever encoded.
    */
  private def pngTableFor(ids: Dataset[Long]): Dataset[PngRow] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map(id => PngRow(id, PngCodec.encode(id)))
    }
  }

  /** The real-codec decode over PNG payloads — the production shape of
    * [[decodeAll]]: opaque per-partition decode, metadata out, payloads
    * never leave the stage (no shuffle touches the binary column).
    */
  def decodePngs(media: Dataset[PngRow]): Dataset[PngMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val (w, h, sum) = PngCodec.decode(r.payload)
        PngMeta(r.doc_id, w.toLong, h.toLong, sum)
      }
    }
  }

  /** Oracle-checked query: encode real PNGs, decode them through the
    * real codec, emit decoded metadata. The oracle recomputes
    * width/height/pix_sum from the generator formula — a hash match
    * means the decoded raster is bit-exact.
    */
  def pngDecodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodePngs(pngTable(s, dir)).toDF().orderBy($"doc_id")
  }

  final case class PngResized(doc_id: Long, out_w: Long, out_h: Long,
      out_sum: Long, out_wsum: Long)

  /** m10 — an EXECUTED image transform over the real codec: m04 plans
    * resizes from metadata; this one decodes the PNG, 2× box-downsamples
    * the raster (output pixel = ⌊mean of its 2×2 block⌋, odd edge rows/
    * columns cropped — all integer math), RE-ENCODES the result as PNG,
    * and decodes THAT to emit the output dimensions, raster sum, and
    * position-weighted raster sum. The weighted sum pins pixel
    * placement, so the oracle hash match certifies the whole
    * decode → transform → encode → decode chain, not just a checksum
    * that a pass-through could fake.
    *
    * Scale shape: one mapPartitions pass (codec init per partition, the
    * U3 pattern), payloads never shuffle, output is 5 longs per image.
    * This is the thumbnail/preprocess stage of a multimodal training
    * pipeline in its production shape.
    */
  def pngResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir).mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        val ow = img.getWidth / 2
        val oh = img.getHeight / 2
        val out = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
        var j = 0
        while (j < oh) {
          var i = 0
          while (i < ow) {
            val v = ((img.getRGB(2 * i, 2 * j) & 0xff) +
              (img.getRGB(2 * i + 1, 2 * j) & 0xff) +
              (img.getRGB(2 * i, 2 * j + 1) & 0xff) +
              (img.getRGB(2 * i + 1, 2 * j + 1) & 0xff)) / 4
            out.setRGB(i, j, (v << 16) | (v << 8) | v)
            i += 1
          }
          j += 1
        }
        val bos = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bos)
        val back = ImageIO.read(new ByteArrayInputStream(bos.toByteArray))
        var sum = 0L
        var wsum = 0L
        var y = 0
        while (y < back.getHeight) {
          var x = 0
          while (x < back.getWidth) {
            val p = (back.getRGB(x, y) & 0xff).toLong
            sum += p
            wsum += p * (y * back.getWidth + x + 1)
            x += 1
          }
          y += 1
        }
        PngResized(r.doc_id, back.getWidth.toLong, back.getHeight.toLong, sum, wsum)
      }
    }.toDF().orderBy($"doc_id")
  }

  final case class AHash(doc_id: Long, ahash_hi: Long, ahash_lo: Long, n_px: Long)

  /** 8×8 average-hash (aHash) of a decoded raster — the standard
    * perceptual fingerprint for image near-dup detection: cell bit = 1
    * iff the cell's mean brightness exceeds the image mean. Both means
    * are compared cross-multiplied in integers (`csum·w·h > total·np`),
    * so the hash is bit-deterministic with no float rounding anywhere.
    * Cell x-bounds are `⌊i·w/8⌋ .. ⌊(i+1)·w/8⌋` (same for y) — the
    * exact quantization the oracle reproduces; note `⌊8x/w⌋` per pixel
    * is a DIFFERENT partition and would not match.
    *
    * The 64-bit hash is emitted as two 32-bit halves: bit 63 would be
    * the sign bit of a BIGINT and engines disagree on signed shift
    * overflow, and the halves double as the band keys a banded
    * hamming-join dedup would bucket on (d09's discipline applied to
    * pixels instead of text).
    */
  private[graft] def ahashOf(img: BufferedImage): (Long, Long) = {
    val w = img.getWidth
    val h = img.getHeight
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { total += (img.getRGB(x, y) & 0xff).toLong; x += 1 }
      y += 1
    }
    var hi = 0L
    var lo = 0L
    var j = 0
    while (j < 8) {
      val y0 = j * h / 8; val y1 = (j + 1) * h / 8
      var i = 0
      while (i < 8) {
        val x0 = i * w / 8; val x1 = (i + 1) * w / 8
        var csum = 0L
        var yy = y0
        while (yy < y1) {
          var xx = x0
          while (xx < x1) { csum += (img.getRGB(xx, yy) & 0xff).toLong; xx += 1 }
          yy += 1
        }
        val np = (x1 - x0).toLong * (y1 - y0).toLong
        if (csum * w * h > total * np) {
          val b = 8 * j + i
          if (b >= 32) hi |= 1L << (b - 32) else lo |= 1L << b
        }
        i += 1
      }
      j += 1
    }
    (hi, lo)
  }

  /** 64-bit dHash (gradient hash) of a decoded raster: a 9×8 grid of
    * integer-boundary cells; bit (8j + i) is set iff row j's cell i
    * mean exceeds cell i+1's — cross-multiplied
    * (csumᵢ·npᵢ₊₁ > csumᵢ₊₁·npᵢ) so the comparison is integer-exact
    * and the oracle can replay it with no division. Where the grid is
    * wider than the image (w = 8 < 9 columns) the empty cells carry
    * (csum, np) = (0, 0) and the comparison is false on both sides —
    * pinned by the oracle's coalesce. aHash (m08) encodes deviation
    * from the GLOBAL mean; dHash encodes LOCAL gradients between
    * adjacent cells — orthogonal failure modes, which is why a
    * production image-dedup stack runs both and ANDs the verdicts.
    */
  private[graft] def dhashOf(img: BufferedImage): (Long, Long) = {
    val w = img.getWidth
    val h = img.getHeight
    var hi = 0L
    var lo = 0L
    val csums = new Array[Long](9)
    val nps = new Array[Long](9)
    var j = 0
    while (j < 8) {
      val y0 = j * h / 8; val y1 = (j + 1) * h / 8
      var i = 0
      while (i < 9) {
        val x0 = i * w / 9; val x1 = (i + 1) * w / 9
        var csum = 0L
        var yy = y0
        while (yy < y1) {
          var xx = x0
          while (xx < x1) { csum += (img.getRGB(xx, yy) & 0xff).toLong; xx += 1 }
          yy += 1
        }
        csums(i) = csum
        nps(i) = (x1 - x0).toLong * (y1 - y0).toLong
        i += 1
      }
      var k = 0
      while (k < 8) {
        if (csums(k) * nps(k + 1) > csums(k + 1) * nps(k)) {
          val b = 8 * j + k
          if (b >= 32) hi |= 1L << (b - 32) else lo |= 1L << b
        }
        k += 1
      }
      j += 1
    }
    (hi, lo)
  }

  /** The (doc_id, dhash_hi, dhash_lo) table as a SESSION sidecar —
    * m21 and m22 share one decode+hash pass per (session, dir).
    */
  private def dhashSidecar(s: SparkSession, dir: String): DataFrame =
    CorpusIndexes.memo(s, dir, "png_dhash") {
      import s.implicits._
      pngTable(s, dir).mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.map { r =>
          val img = ImageIO.read(new ByteArrayInputStream(r.payload))
          val (hi, lo) = dhashOf(img)
          (r.doc_id, hi, lo)
        }
      }.toDF("doc_id", "dhash_hi", "dhash_lo")
    }

  /** The dHash sidecar for the durable-sidecar writer. */
  private[ops] def dhashSidecarFrame(s: SparkSession, dir: String): DataFrame =
    dhashSidecar(s, dir)

  /** m21 — dHash over the REAL decoded PNGs: the m08 pipeline with
    * the gradient hash. Same scale shape: payloads die inside the
    * narrow mapPartitions; 16 bytes/image leave it.
    */
  def pngDHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dhashSidecar(s, dir).orderBy($"doc_id")
  }

  /** m22 — CONSENSUS NEAR-DUPS: m11's aHash-banded verified pairs
    * re-judged by the dHash — the AND-of-orthogonal-signals pattern a
    * production image-dedup stack ships (global-mean deviation AND
    * local gradients must both agree before an image is dropped).
    * Emits every m11 pair with both Hamming distances and the
    * consensus verdict, so the report shows what the second signal
    * VETOES, not just what survives.
    *
    * Scale shape: the pair list is m11's (banded equi-join, hash
    * table only); the dHash attaches by two doc_id equi-joins on the
    * 16-byte sidecar — rasters decode once per session for BOTH
    * hashes combined.
    */
  def consensusDupPairs(s: SparkSession, dir: String,
      maxAHamming: Int = 2, maxDHamming: Int = 2): DataFrame = {
    import s.implicits._
    val dh = dhashSidecar(s, dir)
    imageDupPairsUnsorted(s, dir, maxAHamming)
      .withColumnRenamed("hamming", "a_hamming")
      .join(dh.toDF("doc_a", "a_dhi", "a_dlo"), "doc_a")
      .join(dh.toDF("doc_b", "b_dhi", "b_dlo"), "doc_b")
      .withColumn("d_hamming",
        expr("cast(bit_count(a_dhi ^ b_dhi) + bit_count(a_dlo ^ b_dlo) as bigint)"))
      .withColumn("consensus", $"d_hamming" <= maxDHamming)
      .select($"doc_a", $"doc_b", $"a_hamming", $"d_hamming", $"consensus")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Perceptual hashing over REAL decoded PNGs: encode distributed,
    * decode per partition, hash the raster — payloads never shuffle
    * (the narrow m05 pipeline with a hash instead of a checksum). At
    * 100 TB the (doc_id, ahash) table is what persists; near-dup
    * candidates then come from an equi-join on 16-bit bands of the
    * hash, never from pixel data.
    */
  private def ahashTable(s: SparkSession, dir: String): Dataset[AHash] =
    ahashRows(pngTable(s, dir))

  /** The (doc_id, ahash_hi, ahash_lo, n_px) sidecar as a SESSION
    * sidecar (CorpusIndexes discipline): the corpus is decoded and
    * hashed ONCE per (session, dir); m08/m11/m12/m13/d24 read the
    * checkpointed table. This is the m12 scaladoc's "at 100 TB the
    * sidecar persists and no pass re-reads media" made literal for the
    * whole family — round-12 bench attribution showed each consumer
    * paying its own full decode pass.
    */
  private def ahashSidecar(s: SparkSession, dir: String): DataFrame =
    CorpusIndexes.memo(s, dir, "png_ahash")(ahashTable(s, dir).toDF())

  /** The aHash sidecar for the durable-sidecar writer. */
  private[ops] def ahashSidecarFrame(s: SparkSession, dir: String): DataFrame =
    ahashSidecar(s, dir)

  /** The decode+hash pass over any PNG set — shared by the whole-corpus
    * sidecar build ([[ahashTable]]) and the per-batch probe side of the
    * incremental/streaming dedup ([[imageProbeBatch]]). Payloads are
    * consumed inside this narrow map; only (id, hash halves, n_px)
    * leave it.
    */
  private[ops] def ahashRows(media: Dataset[PngRow]): Dataset[AHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        val (hi, lo) = ahashOf(img)
        // decoded raster size rides along (n_px): the image-dedup report
        // (m12) charges dropped members by REAL decoded pixels, and at
        // 100 TB (hash, dims) is the per-image sidecar that persists.
        AHash(r.doc_id, hi, lo, img.getWidth.toLong * img.getHeight.toLong)
      }
    }
  }

  def pngAHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ahashSidecar(s, dir).select($"doc_id", $"ahash_hi", $"ahash_lo")
      .orderBy($"doc_id")
  }

  /** m11 — image near-duplicate candidate pairs over REAL decoded
    * rasters: the d09 banding discipline applied to m08's perceptual
    * hashes. Each 64-bit aHash splits into 4×16-bit band keys; pairs
    * sharing ANY band equi-join into candidates; total Hamming distance
    * ≤ 2 verifies. This is multimodal dedup end-to-end on real bytes —
    * decode → perceptual hash → banded candidate join — the image twin
    * of the text near-dup family.
    *
    * Scale shape: pixels reduce to 16 bytes/image before anything
    * shuffles (the hash table is what moves, never rasters); the band
    * join is a 2¹⁶-value-per-band equi-join whose buckets dilute as the
    * corpus grows; Hamming verification is a per-row bit_count BEFORE
    * the distinct, so only verified near-dups reach the dedup shuffle
    * (the d09 ordering). The merge hint makes both join branches the
    * same exchange — ReusedExchange runs the decode+hash pipeline once.
    */
  /** [[imageDupPairs]] without the presentation sort — the reusable
    * edge list for graph consumers ([[imageDedupReport]]).
    */
  private def imageDupPairsUnsorted(s: SparkSession, dir: String,
      maxHamming: Int): DataFrame =
    dupPairsFromAHash(s, ahashSidecar(s, dir), maxHamming)

  /** Pair generation from a PRECOMPUTED (doc_id, ahash, n_px) sidecar —
    * the shape a 100 TB deployment actually runs (the sidecar persists;
    * rasters are decoded once, at sidecar-build time). Callers that
    * need both the pairs and the sidecar (m12) checkpoint the sidecar
    * and feed this, so the corpus is decoded exactly once per run.
    */
  /** (doc_id, ahash_hi, ahash_lo) → one row per 16-bit band:
    * (doc_id, ahash_hi, ahash_lo, band, bval) — the shared banding step
    * of the whole-corpus pair join (m11) and the incremental probe.
    */
  private def ahashBands(ahash: DataFrame): DataFrame = {
    val s = ahash.sparkSession
    import s.implicits._
    ahash
      .select($"doc_id", $"ahash_hi", $"ahash_lo",
        explode(expr("array(" +
          "struct(0L as band, ahash_lo & 65535 as bval), " +
          "struct(1L as band, shiftright(ahash_lo, 16) & 65535 as bval), " +
          "struct(2L as band, ahash_hi & 65535 as bval), " +
          "struct(3L as band, shiftright(ahash_hi, 16) & 65535 as bval))")).as("b"))
      .select($"doc_id", $"ahash_hi", $"ahash_lo",
        $"b.band".as("band"), $"b.bval".as("bval"))
  }

  private def dupPairsFromAHash(s: SparkSession, ahash: DataFrame,
      maxHamming: Int): DataFrame = {
    import s.implicits._
    val withBands = ahashBands(ahash)
    val a = withBands.toDF("doc_a", "hi_a", "lo_a", "band_a", "bv_a")
    val b = withBands.toDF("doc_b", "hi_b", "lo_b", "band_b", "bv_b")
    a.join(b.hint("merge"),
        $"band_a" === $"band_b" && $"bv_a" === $"bv_b" && $"doc_a" < $"doc_b")
      .withColumn("hamming",
        expr("cast(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) as bigint)"))
      .filter($"hamming" <= maxHamming)
      .select($"doc_a", $"doc_b", $"hamming").distinct()
  }

  def imageDupPairs(s: SparkSession, dir: String, maxHamming: Int = 2): DataFrame = {
    import s.implicits._
    imageDupPairsUnsorted(s, dir, maxHamming).orderBy($"doc_a", $"doc_b")
  }

  /** m12 — image dedup END-TO-END: m11's verified near-dup pairs run
    * through the same pointer-jumping connected components as the text
    * clusters (d11's loop, shared verbatim), and the labeling
    * materializes into a d19-style campaign report: per cluster the kept
    * representative (the min-id label — the member minimum, as
    * InvariantSpec proves for d19), how many images collapse into it,
    * and how many REAL decoded pixels leave the corpus. This closes the
    * multimodal dedup story: decode → perceptual hash → banded candidate
    * join → Hamming verify → cluster → savings report, all on real
    * bytes.
    *
    * Scale shape: pixels reduce to 16 bytes + one n_px long per image
    * before anything shuffles (rasters never cross an exchange —
    * MultimodalSpec asserts it on the executed plan); the cluster loop
    * is O(log diameter) with per-round block reclamation; the final
    * charge-back join touches (doc_id, n_px) pairs only. The (hash,
    * n_px) sidecar is checkpointed once and feeds both the candidate
    * join and the charge-back join — each PNG decodes exactly once per
    * run; at 100 TB the sidecar table persists and no pass re-reads
    * media.
    */
  def imageDedupReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // One decode pass per SESSION: the (hash, n_px) sidecar and the
    // cluster labels are both session sidecars (CorpusIndexes), shared
    // with m08/m11/m13/d24 — the candidate join and the n_px
    // charge-back read the same checkpointed table.
    val ahash = ahashSidecar(s, dir)
    val labels = imageClusterLabels(s, dir)
    labels
      .join(ahash.select($"doc_id", $"n_px"), Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
           (count(lit(1)) - 1).as("n_dropped"),
           sum(when($"doc_id" =!= $"cluster_id", $"n_px").otherwise(0L)).as("px_dropped"))
      .orderBy($"cluster_id")
  }

  /** The (doc_id, cluster_id) image labeling alone — m12 without the
    * savings charge-back, for consumers that join the label table
    * (d24's cross-modal report). A session sidecar: the CC labeling
    * runs once per (session, dir) and m12/d24 read the result — at
    * scale this IS the persisted label table a campaign writes.
    */
  private[graft] def imageClusterLabels(s: SparkSession, dir: String): DataFrame =
    CorpusIndexes.memo(s, dir, "image_labels") {
      import s.implicits._
      graft.ops.Dedup.connectedComponentsWithRounds(s,
        imageDupPairsUnsorted(s, dir, maxHamming = 2).select($"doc_a", $"doc_b"))._1
    }

  /** d24 — CROSS-MODAL dedup disagreement report: the three modalities
    * dedup independently (d11 text, m12 image), but a curation campaign
    * that keeps one representative per TEXT cluster silently collapses
    * documents whose attached media differ — and vice versa. Per
    * document implicated in either signal: its text-cluster id, its
    * image-cluster id (each defaulting to the doc's own id when that
    * modality saw no duplicate), and the two disagreement flags —
    * `img_split` (this doc's text cluster spans >1 image cluster:
    * text-dups whose images differ) and `text_split` (its image
    * cluster spans >1 text cluster: image-dups whose texts differ).
    * The flagged rows ARE the review queue a cross-modal dedup ships
    * before dropping anything.
    *
    * Scale shape: both inputs are the existing cluster label sidecars
    * (K-sized — only docs implicated in ≥1 near-dup pair appear), so
    * every join and distinct-count here is cluster-sized, never
    * corpus-sized; the per-cluster fan-out tables broadcast. The label
    * table is checkpointed once and feeds the two distinct-count
    * aggregates plus the output join.
    */
  def crossModalReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txt = graft.ops.Dedup.dupClusterLabels(s, dir).toDF("doc_id", "text_cluster")
    val img = imageClusterLabels(s, dir).toDF("doc_id", "image_cluster")
    val all = txt.select($"doc_id").union(img.select($"doc_id")).distinct()
    val j = all
      .join(txt, Seq("doc_id"), "left")
      .join(img, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"text_cluster", $"doc_id").as("text_cluster"),
        coalesce($"image_cluster", $"doc_id").as("image_cluster"))
      .localCheckpoint()
    val t = j.groupBy($"text_cluster").agg(countDistinct($"image_cluster").as("n_img"))
    val i = j.groupBy($"image_cluster").agg(countDistinct($"text_cluster").as("n_txt"))
    j.join(broadcast(t), Seq("text_cluster"))
      .join(broadcast(i), Seq("image_cluster"))
      .select($"doc_id", $"text_cluster", $"image_cluster",
        ($"n_img" > 1).as("img_split"), ($"n_txt" > 1).as("text_split"))
      .orderBy($"doc_id")
  }

  /** One micro-batch of arriving media probing the STATIC perceptual
    * index — the image twin of `Dedup.multiSignalProbe`, and the core
    * the streaming job (`graft.streaming.StreamingImageDedup`) runs per
    * batch. `batch` bears (doc_id, payload: PNG bytes); `index` is the
    * persisted (doc_id, ahash_hi, ahash_lo) sidecar of the historical
    * corpus. The batch decodes and hashes inside one narrow map (no
    * exchange ever sees the payload — asserted on the executed plan in
    * StreamingExtrasSpec), bands join against the index bands, total
    * Hamming ≤ maxHamming verifies, and each matched new image reports
    * its lowest-id historical match.
    *
    * Every output row depends only on its own image versus the index,
    * so per-batch probes compose: the union over any batch partitioning
    * equals one batch run ([[incrementalImageDedup]]) bit for bit.
    *
    * Scale shape: the BATCH side is broadcast (a micro-batch is small
    * by definition; the index is the corpus-sized side and only
    * streams), so probe cost scales with the batch, not the corpus —
    * the index band table is pre-materialized at 100 TB.
    */
  def imageProbeBatch(batch: DataFrame, index: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val bh = ahashRows(batch.select($"doc_id", $"payload").as[PngRow]).toDF()
    val bBands = ahashBands(bh).toDF("doc_id", "hi_a", "lo_a", "band_a", "bv_a")
    val iBands = ahashBands(index).toDF("hist_doc", "hi_b", "lo_b", "band_b", "bv_b")
    val w = Window.partitionBy($"doc_id").orderBy($"hist_doc")
    broadcast(bBands)
      .join(iBands, $"band_a" === $"band_b" && $"bv_a" === $"bv_b")
      .withColumn("hamming",
        expr("cast(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) as bigint)"))
      .filter($"hamming" <= maxHamming)
      .select($"doc_id", $"hist_doc", $"hamming").distinct()
      .withColumn("r", row_number().over(w))
      .filter($"r" === 1)
      .select($"doc_id", $"hist_doc".as("dup_of"), $"hamming")
  }

  /** m13 — incremental IMAGE dedup, the batch form the streaming job's
    * per-batch probes must compose to (the d14/d15 slice convention:
    * doc_id ≡ 0 mod 5 is today's arrivals, the other 80% the persisted
    * index). New images are encoded and hashed only for the new slice
    * (ids filter before the codec), the index side is the m08 sidecar
    * of the historical slice.
    */
  /** The persisted (doc_id, ahash_hi, ahash_lo) sidecar of the
    * HISTORICAL slice (doc_id ≢ 0 mod 5, the d14 convention) — the
    * static index the incremental batch query and the streaming job
    * both probe.
    */
  def historicalAHashIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a filter over the session sidecar: the historical slice is a
    // subset of the corpus sidecar, so no second decode pass runs
    ahashSidecar(s, dir)
      .filter($"doc_id" % 5 =!= 0)
      .select($"doc_id", $"ahash_hi", $"ahash_lo")
  }

  def incrementalImageDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val newPngs = pngTableFor(documents(s, dir).select($"doc_id")
      .filter($"doc_id" % 5 === 0).as[Long]).toDF()
    imageProbeBatch(newPngs, historicalAHashIndex(s, dir)).orderBy($"doc_id")
  }

  final case class WavRow(doc_id: Long, payload: Array[Byte])
  final case class WavMeta(doc_id: Long, n_samples: Long, amp_sum: Long, amp_wsum: Long)

  /** A REAL audio codec — WAV (16-bit signed PCM, mono, little-endian)
    * via JDK `javax.sound.sampled` (public, zero new dependencies) —
    * the audio twin of [[PngCodec]], closing the m01-m04 "audio"
    * modality with actual bytes. Samples are generated
    * deterministically from `doc_id` (`n = 200 + id % 400` samples,
    * `s_i = (id·7919 + i·104729) mod 65536 − 32768`), so the DECODED
    * sample count, amplitude sum, and position-weighted amplitude sum
    * are recomputable by the DuckDB oracle from the formula alone — a
    * hash match on m06 proves real bytes went through a real WAV
    * encoder and decoder in the right order (the weighted sum pins
    * sample ORDER, not just the multiset).
    *
    * PCM is lossless, so decode returns the exact generated values.
    */
  object WavCodec {
    val format = new AudioFormat(8000f, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)

    def nSamples(docId: Long): Int = (200 + docId % 400).toInt

    def sample(docId: Long, i: Int): Int =
      ((docId * 7919L + i * 104729L) % 65536L).toInt - 32768

    def encode(docId: Long): Array[Byte] = {
      val n = nSamples(docId)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(docId, i)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), format, n.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Sample count and sign-change count over the decoded PCM
      * stream — the zero-crossing statistic (m23). A crossing is a
      * strict sign flip between consecutive samples (0 counts as
      * non-negative), so the count is integer-exact and pins sample
      * ORDER as hard as the position-weighted sum does.
      */
    def zeroCrossings(payload: Array[Byte]): (Long, Long) = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var changes = 0L
        var i = 1
        while (i < n) {
          val prev = (bytes(2 * (i - 1) + 1) << 8) | (bytes(2 * (i - 1)) & 0xff)
          val cur = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          if ((prev < 0) != (cur < 0)) changes += 1
          i += 1
        }
        (n.toLong, changes)
      } finally ais.close()
    }

    /** Decode sample count, Σ sᵢ, and Σ sᵢ·(i+1) over the PCM frames. */
    def decode(payload: Array[Byte]): (Long, Long, Long) = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var sum = 0L
        var wsum = 0L
        var i = 0
        while (i < n) {
          val s = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          sum += s
          wsum += s.toLong * (i + 1)
          i += 1
        }
        (n.toLong, sum, wsum)
      } finally ais.close()
    }
  }

  /** WAV payload table: one encoded clip per document id, encoded
    * distributed exactly like [[pngTable]].
    */
  def wavTable(s: SparkSession, dir: String): Dataset[WavRow] = {
    import s.implicits._
    // Session-scoped media store — see [[pngTable]]: stored bytes are
    // read, not re-synthesized, by every consumer past the first.
    CorpusIndexes.memo(s, dir, "wav_payloads")(
      documents(s, dir).select($"doc_id").as[Long].mapPartitions { ids =>
        ids.map(id => WavRow(id, WavCodec.encode(id)))
      }.toDF()).as[WavRow]
  }

  /** The real-codec decode over WAV payloads — same shape as
    * [[decodePngs]]: opaque per-partition decode, metadata out, the
    * binary column never crosses a shuffle.
    */
  def decodeWavs(media: Dataset[WavRow]): Dataset[WavMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (n, sum, wsum) = WavCodec.decode(r.payload)
        WavMeta(r.doc_id, n, sum, wsum)
      }
    }
  }

  /** Oracle-checked query: encode real WAVs, decode them through the
    * real codec, emit decoded metadata. The oracle recomputes
    * n_samples/amp_sum/amp_wsum from the generator formula — a hash
    * match means the decoded PCM stream is bit-exact and in order.
    */
  def wavDecodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeWavs(wavTable(s, dir)).toDF().orderBy($"doc_id")
  }

  /** m23 — ZERO-CROSSING RATE over the REAL decoded WAVs: the classic
    * cheap audio feature (speech/music/noise discrimination, silence
    * detection) as an executed decode → per-sample statistic chain.
    * The crossing count is order-sensitive and integer-exact, so the
    * oracle's generator-formula replay certifies the decoded stream
    * sample for sample — a different certificate from m06's sums (a
    * reordered stream with the same amplitude multiset would pass the
    * plain sum but fail both the weighted sum AND this).
    *
    * Scale shape: the m06 pipeline — payloads die inside the codec
    * mapPartitions; three longs and a double leave it.
    */
  def wavZeroCrossingRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val (n, changes) = WavCodec.zeroCrossings(r.payload)
        (r.doc_id, n, changes, changes.toDouble / (n - 1).toDouble)
      }
    }.toDF("doc_id", "n_samples", "n_changes", "zcr")
      .orderBy($"doc_id")
  }

  final case class WavDecimated(doc_id: Long, n_in: Long, n_out: Long,
      amp_sum: Long, amp_wsum: Long)

  /** m19 — an EXECUTED audio transform over the real codec: the audio
    * twin of m10's executed resize, completing the decode → transform →
    * encode → decode story on the second real-codec modality. Each clip
    * decodes (8 kHz WAV), DECIMATES by 2 (keep every even-index sample
    * — the 8 kHz → 4 kHz export step an audio-curation pipeline runs
    * before a sample-rate-standardized training set), RE-ENCODES the
    * result as a real 4 kHz WAV through `javax.sound.sampled`, and
    * decodes THAT to emit the output sample count, amplitude sum, and
    * position-weighted amplitude sum. The weighted sum pins sample
    * ORDER through the whole chain — a pass-through or multiset-
    * preserving fake cannot match it; the oracle recomputes all three
    * from the generator formula at the decimated indices.
    *
    * (Decimation without a low-pass filter aliases on real audio; on
    * the synthetic corpus the contract is the index arithmetic, which
    * is what the oracle can certify. A production resampler swaps the
    * kernel inside the same codec slot.)
    *
    * Scale shape: one mapPartitions pass (codec init per partition, the
    * U3 pattern), payloads never shuffle, output is 4 longs per clip.
    */
  def wavDecimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(r.payload))
        val bytes = try ais.readAllBytes() finally ais.close()
        val nIn = bytes.length / 2
        val nOut = (nIn + 1) / 2
        val pcm = new Array[Byte](nOut * 2)
        var j = 0
        while (j < nOut) {
          pcm(2 * j) = bytes(4 * j)
          pcm(2 * j + 1) = bytes(4 * j + 1)
          j += 1
        }
        val outFormat = new AudioFormat(4000f, 16, 1, /*signed=*/ true,
          /*bigEndian=*/ false)
        val outAis = new AudioInputStream(new ByteArrayInputStream(pcm),
          outFormat, nOut.toLong)
        val bos = new ByteArrayOutputStream()
        AudioSystem.write(outAis, AudioFileFormat.Type.WAVE, bos)
        val back = AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bos.toByteArray))
        val outBytes = try back.readAllBytes() finally back.close()
        val n = outBytes.length / 2
        var sum = 0L
        var wsum = 0L
        var i = 0
        while (i < n) {
          val sm = (outBytes(2 * i + 1) << 8) | (outBytes(2 * i) & 0xff)
          sum += sm
          wsum += sm.toLong * (i + 1)
          i += 1
        }
        WavDecimated(r.doc_id, nIn.toLong, n.toLong, sum, wsum)
      }
    }.toDF().orderBy($"doc_id")
  }

  final case class WavUpsampled(doc_id: Long, n_in: Long, n_out: Long,
      amp_sum: Long, amp_wsum: Long)

  /** m29 — executed 2× UPSAMPLE (linear interpolation), the inverse
    * direction of m19's decimation and the last arrow in the
    * sample-rate story: decode (8 kHz) → interpolate (out[2i] = s[i],
    * out[2i+1] = (s[i]+s[i+1])/2 with TRUNCATING division — Java `/`
    * and DuckDB `//` both round toward zero on negatives, where an
    * arithmetic shift would floor and drift one low on odd negative
    * sums; the spec witnesses the corner) → RE-ENCODE as a real
    * 16 kHz WAV → decode THAT and report count,
    * amplitude sum, and the position-weighted sum that pins sample
    * order through the chain (the m19 discipline: a multiset-
    * preserving fake cannot match). n_out = 2n−1 — the interpolator
    * emits between pairs, so nothing is invented past the last
    * sample.
    *
    * (A production resampler uses a windowed-sinc kernel; the linear
    * kernel keeps every value integer-exact so the oracle can replay
    * the chain from the generator formula. Same codec slot either
    * way.)
    *
    * Scale shape: one mapPartitions pass, payloads never shuffle,
    * 4 longs out per clip.
    */
  def wavUpsample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(r.payload))
        val bytes = try ais.readAllBytes() finally ais.close()
        val nIn = bytes.length / 2
        val in = new Array[Int](nIn)
        var i = 0
        while (i < nIn) {
          in(i) = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          i += 1
        }
        val nOut = if (nIn == 0) 0 else 2 * nIn - 1
        val pcm = new Array[Byte](nOut * 2)
        var j = 0
        while (j < nOut) {
          val v =
            if (j % 2 == 0) in(j / 2)
            else (in(j / 2) + in(j / 2 + 1)) / 2
          pcm(2 * j) = (v & 0xff).toByte
          pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
          j += 1
        }
        val outFormat = new AudioFormat(16000f, 16, 1, /*signed=*/ true,
          /*bigEndian=*/ false)
        val outAis = new AudioInputStream(new ByteArrayInputStream(pcm),
          outFormat, nOut.toLong)
        val bos = new ByteArrayOutputStream()
        AudioSystem.write(outAis, AudioFileFormat.Type.WAVE, bos)
        val back = AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bos.toByteArray))
        val outBytes = try back.readAllBytes() finally back.close()
        val n = outBytes.length / 2
        var sum = 0L
        var wsum = 0L
        var k = 0
        while (k < n) {
          val sm = (outBytes(2 * k + 1) << 8) | (outBytes(2 * k) & 0xff)
          sum += sm
          wsum += sm.toLong * (k + 1)
          k += 1
        }
        WavUpsampled(r.doc_id, nIn.toLong, n.toLong, sum, wsum)
      }
    }.toDF().orderBy($"doc_id")
  }

  final case class WavNormalized(doc_id: Long, n_samples: Long, peak_in: Long,
      peak_out: Long, amp_sum: Long, amp_wsum: Long)

  /** m24 — EXECUTED PEAK NORMALIZATION through the real WAV codec: the
    * AMPLITUDE-domain transform completing the audio chain family
    * (m19 transforms the TIME axis; this rescales the value axis — the
    * per-clip loudness standardization an audio-curation pipeline runs
    * so training batches don't mix whisper- and clip-level signals).
    * Each clip decodes, measures its integer peak P = max |sᵢ|, maps
    * every sample to sign(s)·((|s|·30000) div P) — all-integer
    * arithmetic, truncation on NON-NEGATIVE operands only, so both
    * engines floor identically and no sample can exceed the 30000
    * target (|s| ≤ P ⇒ scaled ≤ 30000 < 2¹⁵) — re-encodes through
    * `javax.sound.sampled` at the original rate, and decodes THAT.
    * The emitted peak_out, amplitude sum, and position-weighted sum
    * come from the SECOND decode; the oracle recomputes them from the
    * generator formula, so a chain that skips the encode or reorders
    * samples cannot match.
    *
    * Scale shape: one mapPartitions pass (U3 per-partition codec
    * init), payloads never shuffle, 5 longs out per clip.
    */
  def wavNormalize(s: SparkSession, dir: String, target: Int = 30000): DataFrame = {
    import s.implicits._
    wavTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(r.payload))
        val bytes = try ais.readAllBytes() finally ais.close()
        val n = bytes.length / 2
        var peakIn = 0L
        var i = 0
        while (i < n) {
          val sm = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          val a = math.abs(sm.toLong)
          if (a > peakIn) peakIn = a
          i += 1
        }
        val p = math.max(peakIn, 1L)
        val pcm = new Array[Byte](n * 2)
        i = 0
        while (i < n) {
          val sm = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
          val scaled =
            if (sm >= 0) ((sm.toLong * target) / p).toInt
            else (-((-sm.toLong) * target / p)).toInt
          pcm(2 * i) = (scaled & 0xff).toByte
          pcm(2 * i + 1) = ((scaled >> 8) & 0xff).toByte
          i += 1
        }
        val outFormat = new AudioFormat(8000f, 16, 1, /*signed=*/ true,
          /*bigEndian=*/ false)
        val outAis = new AudioInputStream(new ByteArrayInputStream(pcm),
          outFormat, n.toLong)
        val bos = new ByteArrayOutputStream()
        AudioSystem.write(outAis, AudioFileFormat.Type.WAVE, bos)
        val back = AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bos.toByteArray))
        val outBytes = try back.readAllBytes() finally back.close()
        val m = outBytes.length / 2
        var peakOut = 0L
        var sum = 0L
        var wsum = 0L
        i = 0
        while (i < m) {
          val sm = (outBytes(2 * i + 1) << 8) | (outBytes(2 * i) & 0xff)
          val a = math.abs(sm.toLong)
          if (a > peakOut) peakOut = a
          sum += sm
          wsum += sm.toLong * (i + 1)
          i += 1
        }
        WavNormalized(r.doc_id, m.toLong, peakIn, peakOut, sum, wsum)
      }
    }.toDF().orderBy($"doc_id")
  }

  final case class WavFrames(doc_id: Long, n_frames: Long, peak_frame: Long,
      peak_energy: Long, total_energy: Long, n_active: Long)

  /** m09 — audio FEATURE EXTRACTION over the real codec: per-clip
    * frame energies (non-overlapping 64-sample frames, energy = Σ sᵢ²),
    * reduced to the features an audio-curation pipeline filters on —
    * loudest frame (tie → lowest index), its energy, total energy, and
    * the count of above-mean frames (silence/activity detection). The
    * audio twin of m08's image aHash: decode is no longer the end of
    * the pipeline, it feeds a real signal-processing step. All math is
    * 64-bit integer (samples ≤ 2¹⁵ → frame energy ≤ 2³⁶; the
    * above-mean test cross-multiplies `energy·n_frames > total` like
    * e13/m08), so the DuckDB oracle recomputes every value exactly
    * from the generator formula — a hash match certifies real bytes →
    * real decoder → real features.
    *
    * Scale shape: one mapPartitions pass, payloads never shuffle, the
    * feature row is ~48 bytes/clip regardless of clip length.
    */
  def wavFrameEnergy(s: SparkSession, dir: String, frame: Int = 64): DataFrame = {
    import s.implicits._
    wavTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(r.payload))
        val en: Array[Long] =
          try {
            val bytes = ais.readAllBytes()
            val nS = bytes.length / 2
            val nF = (nS + frame - 1) / frame
            val e = new Array[Long](nF)
            var i = 0
            while (i < nS) {
              val sm = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toLong
              e(i / frame) += sm * sm
              i += 1
            }
            e
          } finally ais.close()
        val nF = en.length
        var peak = 0
        var tot = 0L
        var i = 0
        while (i < nF) {
          if (en(i) > en(peak)) peak = i
          tot += en(i)
          i += 1
        }
        val active = en.count(e => e * nF > tot)
        WavFrames(r.doc_id, nF.toLong, peak.toLong, en(peak), tot, active.toLong)
      }
    }.toDF().orderBy($"doc_id")
  }

  final case class AudioFp(doc_id: Long, n_frames: Long, energies: Array[Long])

  /** Per-clip frame-energy FINGERPRINT over the real WAV codec: the
    * m09 frame energies kept as an ordered vector instead of reduced to
    * scalars — the compact audio signature a similarity/dedup pass
    * compares instead of raw PCM. Decode happens once per clip inside
    * the partition (payloads never leave the codec map, the
    * [[decodePngs]] discipline); what emerges is ≤ ⌈599/64⌉ = 10 longs
    * per clip regardless of sample rate — a constant-size signature,
    * the audio analog of the 12-int minhash vector.
    */
  def audioFingerprints(s: SparkSession, dir: String, frame: Int = 64): Dataset[AudioFp] = {
    import s.implicits._
    audioFingerprintsFor(documents(s, dir).select($"doc_id").as[Long], frame)
  }

  /** Fingerprints for an explicit id set — the filter-below-the-codec
    * seam ([[pngTableFor]]'s convention): callers that only need a few
    * clips (the m14 probe set, an incremental batch) pass the filtered
    * ids and decode exactly those, instead of decoding the corpus and
    * filtering above the opaque map.
    */
  def audioFingerprintsFor(ids: Dataset[Long], frame: Int = 64): Dataset[AudioFp] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.map(id => fingerprintOf(id, WavCodec.encode(id), frame))
    }
  }

  /** Fingerprints over a frame of REAL payloads — the form the
    * streaming audio door runs per micro-batch (arriving WAV bytes
    * decode inside this map; payloads never leave it) and the durable
    * index build consumes.
    */
  def audioFingerprintRows(media: Dataset[WavRow], frame: Int = 64): Dataset[AudioFp] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map(r => fingerprintOf(r.doc_id, r.payload, frame))
    }
  }

  /** The one decode+frame-energy loop both fingerprint forms share. */
  private def fingerprintOf(id: Long, payload: Array[Byte], frame: Int): AudioFp = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    val en: Array[Long] =
      try {
        val bytes = ais.readAllBytes()
        val nS = bytes.length / 2
        val nF = (nS + frame - 1) / frame
        val e = new Array[Long](nF)
        var i = 0
        while (i < nS) {
          val sm = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toLong
          e(i / frame) += sm * sm
          i += 1
        }
        e
      } finally ais.close()
    AudioFp(id, en.length.toLong, en)
  }

  /** m14 — audio nearest-neighbor by frame-energy fingerprint: for each
    * probe clip (doc_id < 50), the closest other clip in its DURATION
    * CLASS (equal frame count) by integer L1 distance over the energy
    * vectors — the audio twin of m11's image near-dup probe, closing
    * the third modality's similarity story on real decoded bytes. All
    * arithmetic is 64-bit integer (energies ≤ 2³⁶, L1 sums ≤ 2⁴⁰), so
    * the DuckDB oracle recomputes every distance exactly from the WAV
    * generator formula, and the rank tiebreak is doc_id — fully
    * deterministic.
    *
    * Scale shape: the probe set is broadcast (the small side by
    * definition); the corpus streams once through the codec map and
    * joins on the duration-class key. The only array any exchange
    * carries is the ≤10-long fingerprint (constant-size, the minhash
    * convention); PCM payloads never leave the decode partition —
    * MultimodalSpec asserts it on the executed plan. A production
    * deployment with one duration class would band on quantized
    * energy-profile bits instead (the m11 recipe); the generator's
    * natural 7-way duration key plays that role here.
    */
  /** The (doc_id, n_frames, energies) fingerprint table as a SESSION
    * sidecar (CorpusIndexes discipline): the WAV corpus decodes ONCE
    * per (session, dir) and both audio consumers (m14 nearest-neighbor,
    * m18 incremental dedup) read the checkpointed table — at 100 TB
    * this is the persisted audio-signature sidecar a campaign keeps
    * next to the clips, like png_ahash and gif_frames.
    */
  private[ops] def wavFpSidecar(s: SparkSession, dir: String): DataFrame =
    CorpusIndexes.memo(s, dir, "wav_fp")(audioFingerprints(s, dir).toDF())

  def audioNearestNeighbor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The corpus decodes ONCE; the probe branch filters BELOW the codec
    // (the m13 discipline — a filter above the opaque map cannot push
    // down, and would re-decode every clip to keep 50), so total codec
    // work is corpus + probes, not 2x corpus.
    val fp = wavFpSidecar(s, dir)
    val probes = audioFingerprintsFor(documents(s, dir)
        .select($"doc_id").filter($"doc_id" < 50).as[Long]).toDF()
      .toDF("q_id", "q_n", "q_en")
    val w = Window.partitionBy($"q_id").orderBy($"l1".asc, $"doc_id")
    fp.join(broadcast(probes), $"n_frames" === $"q_n" && $"doc_id" =!= $"q_id")
      .withColumn("l1", expr(
        "aggregate(zip_with(q_en, energies, (x, y) -> abs(x - y)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("r", row_number().over(w))
      .filter($"r" === 1)
      .select($"q_id".as("doc_id"), $"doc_id".as("nn_id"),
        $"q_n".as("n_frames"), $"l1".as("l1_dist"))
      .orderBy($"doc_id")
  }

  /** The audio probe shared by the m18 batch query and the streaming
    * audio door: per probing clip (already fingerprinted — the caller
    * owns the codec slot), its nearest HISTORICAL clip in the same
    * duration class by integer L1, with the duration class and
    * distance; an arrival whose class history never saw carries nulls
    * (the admission-verdict shape — every arrival appears). Every
    * output row depends only on its own clip versus the index, so
    * per-batch probes compose to the batch query bit for bit.
    */
  private def audioProbe(newFp: DataFrame, histFp: DataFrame): DataFrame = {
    val s = newFp.sparkSession
    import s.implicits._
    val arr = newFp.toDF("doc_id", "n_frames", "q_en")
    val hist = histFp.toDF("c_id", "c_n", "c_en")
    val w = Window.partitionBy($"doc_id").orderBy($"l1".asc, $"c_id")
    val best = hist.join(broadcast(arr), $"c_n" === $"n_frames")
      .withColumn("l1", expr(
        "aggregate(zip_with(q_en, c_en, (x, y) -> abs(x - y)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("r", row_number().over(w))
      .filter($"r" === 1)
      .select($"doc_id", $"c_id".as("nn_id"), $"l1".as("l1_dist"))
    arr.select($"doc_id", $"n_frames")
      .join(best, Seq("doc_id"), "left")
  }

  /** m18 — INCREMENTAL audio dedup: the d14 slice convention on the
    * audio modality, completing the incremental-probe family across
    * ALL FOUR media types (text d14/d15, image m13, video m17, audio
    * m18). Arriving clips (doc_id ≡ 0 mod 5) probe the HISTORICAL
    * fingerprint index: per arrival its nearest historical clip in the
    * same duration class by integer L1 over the m09 frame-energy
    * vectors — the re-encode/re-post signal for audio, where a copied
    * clip keeps its energy profile even when container bytes differ.
    * One row per arrival (nulls for an unseen duration class) — the
    * admission-verdict shape.
    *
    * Exactness: all arithmetic is 64-bit integer (energies ≤ 2³⁶, L1
    * sums ≤ 2⁴⁰), rank tiebreak is the candidate id — the DuckDB
    * oracle recomputes every distance from the WAV generator formula.
    *
    * Scale shape: both sides read the shared fingerprint sidecar (ONE
    * decode pass per session feeds m14 and m18); the probe is a
    * duration-class equi-join with the BATCH side broadcast
    * (micro-batches are small by definition), so cost scales with the
    * batch; the only array on any exchange is the ≤10-long
    * fingerprint. The streaming form
    * (`graft.streaming.StreamingAudioDedup`) runs the identical probe
    * per micro-batch.
    */
  def incrementalAudioDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = wavFpSidecar(s, dir)
    audioProbe(fp.filter($"doc_id" % 5 === 0),
        fp.filter($"doc_id" % 5 =!= 0))
      .orderBy($"doc_id")
  }

  /** One micro-batch audio probe for the streaming job: arriving
    * (doc_id, payload: WAV bytes) decode and fingerprint INSIDE the
    * batch's codec slot (payloads never cross an exchange), then
    * probe the static fingerprint index by duration class.
    */
  def audioProbeBatch(batch: DataFrame, histFp: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    audioProbe(
      audioFingerprintRows(batch.select($"doc_id", $"payload").as[WavRow]).toDF(),
      histFp)
  }

  /** The historical fingerprint index, materialized — what the
    * streaming audio job passes per micro-batch.
    */
  def audioFpIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavFpSidecar(s, dir).filter($"doc_id" % 5 =!= 0).localCheckpoint()
  }

  final case class GifRow(doc_id: Long, payload: Array[Byte])
  final case class GifMeta(doc_id: Long, n_frames: Long, width: Long, height: Long,
                           pix_sum: Long, pix_wsum: Long)

  /** A REAL video codec — multi-frame animated GIF via JDK
    * `javax.imageio` (public, zero new dependencies) — the video twin
    * of [[PngCodec]]/[[WavCodec]], closing the last stubbed modality
    * with actual bytes: a container holding an ORDERED frame sequence,
    * decoded frame by frame. Frames are generated deterministically
    * from `doc_id` (`2 + id % 4` frames of `6 + id % 10` ×
    * `6 + (id/10) % 10`, gray pixel `(id·31 + f·17 + x·7 + y·13) mod
    * 256`), so the DECODED frame count, dimensions, raster sum, and
    * frame-index-weighted raster sum are recomputable by the DuckDB
    * oracle from the formula alone. The weighted sum pins frame ORDER —
    * a hash match on m07 proves real bytes went through a real
    * multi-frame encoder and decoder with the sequence intact.
    *
    * GIF stores 8-bit indexed color; TYPE_BYTE_GRAY frames palettize to
    * the 256-gray table losslessly, so decode returns the exact
    * generated values.
    */
  object GifCodec {
    def dims(docId: Long): (Int, Int) =
      (6 + (docId % 10).toInt, 6 + ((docId / 10) % 10).toInt)

    def nFrames(docId: Long): Int = (2 + docId % 4).toInt

    def pixel(docId: Long, f: Int, x: Int, y: Int): Int =
      ((docId * 31 + f * 17 + x * 7 + y * 13) % 256).toInt

    def encode(docId: Long): Array[Byte] = {
      val (w, h) = dims(docId)
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames(docId)) {
          val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, pixel(docId, f, x, y))
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      bos.toByteArray
    }

    /** Decode frame count, first-frame dimensions, Σ pixels over all
      * frames, and Σ (f+1)·(frame-f raster sum) — the last pins the
      * frame sequence order, not just the frame multiset.
      */
    def decode(payload: Array[Byte]): (Long, Long, Long, Long, Long) = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        var w = 0L
        var h = 0L
        var sum = 0L
        var wsum = 0L
        var f = 0
        while (f < n) {
          val img = reader.read(f)
          if (f == 0) { w = img.getWidth.toLong; h = img.getHeight.toLong }
          var frameSum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              frameSum += (img.getRGB(x, y) & 0xff).toLong
              x += 1
            }
            y += 1
          }
          sum += frameSum
          wsum += (f + 1) * frameSum
          f += 1
        }
        (n.toLong, w, h, sum, wsum)
      } finally {
        reader.dispose()
        iis.close()
      }
    }
  }

  /** GIF payload table: one encoded clip per document id, encoded
    * distributed exactly like [[pngTable]] (ImageIO disk cache off —
    * executors never touch temp files for an in-memory encode).
    */
  def gifTable(s: SparkSession, dir: String): Dataset[GifRow] = {
    import s.implicits._
    // Session-scoped media store — see [[pngTable]]: stored bytes are
    // read, not re-synthesized, by every consumer past the first.
    CorpusIndexes.memo(s, dir, "gif_payloads")(
      documents(s, dir).select($"doc_id").as[Long].mapPartitions { ids =>
        ImageIO.setUseCache(false)
        ids.map(id => GifRow(id, GifCodec.encode(id)))
      }.toDF()).as[GifRow]
  }

  /** The real-codec decode over GIF payloads — same shape as
    * [[decodePngs]]: opaque per-partition decode, metadata out, the
    * binary column never crosses a shuffle.
    */
  def decodeGifs(media: Dataset[GifRow]): Dataset[GifMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val (n, w, h, sum, wsum) = GifCodec.decode(r.payload)
        GifMeta(r.doc_id, n, w, h, sum, wsum)
      }
    }
  }

  /** Oracle-checked query: encode real multi-frame GIFs, decode them
    * through the real codec, emit decoded metadata. The oracle
    * recomputes every column from the generator formula — a hash match
    * means the decoded frame sequence is bit-exact and in order.
    */
  def gifDecodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeGifs(gifTable(s, dir)).toDF().orderBy($"doc_id")
  }

  final case class FrameHash(doc_id: Long, frame_no: Long,
                             ahash_hi: Long, ahash_lo: Long)

  /** Earliest-carrier packing factor for m15's `min(doc_id·F + frame)`:
    * must exceed the max frame count of any container or the unpacked
    * (min_doc_id, min_frame) silently corrupts (frame 9 of doc N would
    * decode as a frame of doc N+1 at F=8). 1024 frames per container is
    * far above this corpus (≤ 5) and enforced at decode time below.
    */
  private[graft] val FramePack = 1024L

  /** Per-FRAME perceptual hashes over the real GIF decode — the video
    * modality's dedup sidecar: each container is decoded frame by frame
    * inside the codec slot and every frame gets the same integer-exact
    * 8×8 aHash as the still images ([[ahashOf]]); only (video, frame,
    * hash halves) leave the map — rasters never cross an exchange.
    */
  def gifFrameAHashes(media: Dataset[GifRow]): Dataset[FrameHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(r.payload))
        val reader = ImageIO.getImageReadersByFormatName("gif").next()
        try {
          reader.setInput(iis)
          val nf = reader.getNumImages(true)
          require(nf < FramePack,
            s"container ${r.doc_id} has $nf frames >= packing factor $FramePack")
          (0 until nf).map { f =>
            val (hi, lo) = ahashOf(reader.read(f))
            FrameHash(r.doc_id, f.toLong, hi, lo)
          }
        } finally {
          reader.dispose()
          iis.close()
        }
      }
    }
  }

  /** m15 — VIDEO frame-level dedup report: the d20/d01 repeated-span
    * discipline applied to the third modality. Every video decodes into
    * its ordered frames, every frame gets the m08 perceptual hash, and
    * a hash carried by ≥ 2 distinct videos is a repeated scene (shared
    * intros/outros, static boilerplate frames, re-posted clips) —
    * reported with its video count, total frame occurrences, and the
    * earliest carrier (video, frame). Frame dedup is what makes video
    * corpora trainable: the same title card in ten thousand clips is
    * the video twin of d20's licence-block paragraph.
    *
    * Exactness: grouping is BY THE DIGEST (hamming 0), so the report is
    * a pure digest-keyed aggregate — no pair join anywhere, output
    * bounded by distinct repeated hashes. (Hamming > 0 near-dup frames
    * would reuse the m11 band machinery over the same sidecar — on this
    * corpus every frame shares one gradient structure, so a loose
    * threshold degenerates to all-pairs; the exact-match report is the
    * form whose output stays group-sized at any corpus.) The earliest
    * carrier is min(doc_id·1024 + frame) unpacked — one order-free
    * integer min, engine-exact. The packing factor is far above any
    * plausible frame count (this corpus's GIFs carry ≤ 5 frames); a
    * video exceeding it would corrupt the unpacked carrier, so the
    * codec slot asserts frame_no < 1024 at decode time.
    *
    * Scale shape: pixels reduce to 16 bytes/frame inside the codec
    * slot; two digest-keyed aggregates ((hash, video) then hash — the
    * d20 shape, so a video repeating a frame internally counts once
    * toward n_videos); videos never shuffle whole.
    */
  /** The (doc_id, frame_no, ahash_hi, ahash_lo) per-frame hash table
    * as a SESSION sidecar (CorpusIndexes discipline): the GIF corpus
    * decodes ONCE per (session, dir) and both video-dedup consumers
    * (m15 exact scenes, m16 sequence near-dups) read the checkpointed
    * table — at 100 TB this is the persisted frame-hash sidecar a
    * video campaign keeps next to the clips.
    */
  private[ops] def gifFramesSidecar(s: SparkSession, dir: String): DataFrame =
    CorpusIndexes.memo(s, dir, "gif_frames")(
      gifFrameAHashes(gifTable(s, dir)).toDF())

  def videoFrameDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perVideo = gifFramesSidecar(s, dir)
      .groupBy($"ahash_hi", $"ahash_lo", $"doc_id")
      .agg(count(lit(1)).as("n_occ"),
        min($"doc_id" * FramePack + $"frame_no").as("min_fid"))
    perVideo
      .groupBy($"ahash_hi", $"ahash_lo")
      .agg(count(lit(1)).as("n_videos"), sum($"n_occ").as("n_frames"),
        min($"min_fid").as("min_fid"))
      .filter($"n_videos" >= 2)
      .select($"ahash_hi", $"ahash_lo", $"n_videos", $"n_frames",
        expr(s"min_fid div $FramePack").as("min_doc_id"),
        ($"min_fid" % FramePack).as("min_frame"))
      .orderBy($"ahash_hi", $"ahash_lo")
  }

  /** m20 — SCENE-CHANGE detection over the shared frame-hash sidecar:
    * a cut is a consecutive frame pair whose perceptual hash differs,
    * and the per-video report (frame count, scene count, cut count,
    * longest scene in frames) is the segmentation summary a video
    * curation pipeline filters on — static-image GIFs (1 scene),
    * slideshows (every frame a cut), real motion in between. Rides the
    * ONE decode pass m15/m16/m17 already share: input is the
    * `gif_frames` sidecar (16 bytes/frame), pixels long gone.
    *
    * Scale shape: a lag window + running sum partitioned per video —
    * partitions are clip-length-bounded (never corpus-scale), then a
    * two-level scene aggregate. Exact integer equality on the 64-bit
    * hash; the oracle replays frames from the generator formula
    * through the same gaps-and-islands rewrite.
    */
  def sceneChanges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"frame_no")
    val flags = gifFramesSidecar(s, dir)
      .select($"doc_id", $"frame_no", $"ahash_hi", $"ahash_lo")
      .withColumn("phi", lag($"ahash_hi", 1).over(w))
      .withColumn("plo", lag($"ahash_lo", 1).over(w))
      .withColumn("new_scene",
        when($"phi".isNull || $"phi" =!= $"ahash_hi" || $"plo" =!= $"ahash_lo",
          1L).otherwise(0L))
    flags
      .withColumn("scene_id", sum($"new_scene").over(w))
      .groupBy($"doc_id", $"scene_id").agg(count(lit(1)).as("len"))
      .groupBy($"doc_id")
      .agg(sum($"len").as("n_frames"), count(lit(1)).as("n_scenes"),
        (count(lit(1)) - 1).as("n_cuts"), max($"len").as("longest_scene"))
      .orderBy($"doc_id")
  }

  /** m25 — KEYFRAME EXTRACTION: the artifact m20 only counts. One row
    * per scene: its first frame index (the keyframe a thumbnailer or
    * a frame-sampled vision pipeline ships), the scene length, and the
    * scene's perceptual hash — under m20's cut definition a scene is a
    * maximal run of IDENTICAL frame hashes, so the run's single hash
    * value IS the scene signature (min == max over the run; the
    * aggregate takes min and the spec asserts the equality). The
    * keyframe manifest per video is what the m03 frame-sampling plan
    * becomes once cuts are known: sample one frame per SCENE instead
    * of every k-th frame.
    *
    * Scale shape: rides the shared `gif_frames` sidecar (16
    * bytes/frame, one decode pass per session); one doc-partitioned
    * lag window + a (doc, scene) aggregate; output is scene-sized.
    */
  def keyframes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"frame_no")
    gifFramesSidecar(s, dir)
      .select($"doc_id", $"frame_no", $"ahash_hi", $"ahash_lo")
      .withColumn("phi", lag($"ahash_hi", 1).over(w))
      .withColumn("plo", lag($"ahash_lo", 1).over(w))
      .withColumn("new_scene",
        when($"phi".isNull || $"phi" =!= $"ahash_hi" || $"plo" =!= $"ahash_lo",
          1L).otherwise(0L))
      .withColumn("scene_id", sum($"new_scene").over(w))
      .groupBy($"doc_id", $"scene_id")
      .agg(min($"frame_no").as("keyframe_no"), count(lit(1)).as("scene_len"),
        min($"ahash_hi").as("ahash_hi"), min($"ahash_lo").as("ahash_lo"))
      .orderBy($"doc_id", $"scene_id")
  }

  /** m16 — SEQUENCE-aware video near-duplicates: m15's frame hashes
    * through the shingle discipline. Each video's ordered frame-hash
    * sequence is a document; its word-2-grams (consecutive frame-hash
    * pairs, exact 128-bit keys — no mixing, so the oracle replays them
    * verbatim) are its shingles; videos sharing ≥ 1 rare shingle become
    * candidate pairs scored by shingle Jaccard. This catches what m15's
    * per-frame digest report cannot: re-posted clips and trims that
    * preserve frame RUNS — the d04/d12 discipline on the third
    * modality.
    *
    * Skew bound (the d12 form): 2-grams carried by more than `cap`
    * videos are dropped BEFORE pair generation — a boilerplate
    * intro-outro transition shared by a million clips is exactly the
    * hot key that explodes the inverted index, and it carries no
    * pairing signal. Intersections count only surviving shingles while
    * denominators keep full counts, so scores are conservative,
    * identically in the oracle.
    *
    * Scale shape: pixels reduce to 16 bytes/frame in the codec slot
    * (shared m15 sidecar — one decode pass per session); the 2-gram
    * build is one per-video window (frames of a video are adjacent
    * after one hash-partition on doc_id — no binary on any exchange);
    * pair generation is a banded equi-join on the gram key with the df
    * cap bounding every gram's contribution at cap²; output is
    * pair-sized, never corpus².
    */
  def videoSequenceNearDups(s: SparkSession, dir: String, cap: Int = 64): DataFrame = {
    import s.implicits._
    val fh = gifFramesSidecar(s, dir)
    val w = Window.partitionBy($"doc_id").orderBy($"frame_no")
    val grams = fh
      .withColumn("g2h", lead($"ahash_hi", 1).over(w))
      .withColumn("g2l", lead($"ahash_lo", 1).over(w))
      .filter($"g2h".isNotNull)
      .select($"doc_id", $"ahash_hi".as("g1h"), $"ahash_lo".as("g1l"),
        $"g2h", $"g2l")
      .distinct()
    val gramCols = Seq("g1h", "g1l", "g2h", "g2l")
    val ng = grams.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val rare = grams.groupBy(gramCols.map(col): _*)
      .agg(count(lit(1)).as("df")).filter($"df" <= cap)
      .select(gramCols.map(col): _*)
    // NOTE: a using-columns join moves the join keys FIRST in the
    // output schema; re-select into explicit order before any
    // positional rename or the doc id silently becomes a gram column.
    val capped = grams.join(rare.hint("merge"), gramCols)
      .select(("doc_id" +: gramCols).map(col): _*)
    val a = capped.toDF("doc_a", "a1h", "a1l", "a2h", "a2l")
    val b = capped.toDF("doc_b", "b1h", "b1l", "b2h", "b2l")
    a.join(b.hint("merge"),
        $"a1h" === $"b1h" && $"a1l" === $"b1l" &&
        $"a2h" === $"b2h" && $"a2l" === $"b2l" && $"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(ng.toDF("doc_a", "na"), Seq("doc_a"))
      .join(ng.toDF("doc_b", "nb"), Seq("doc_b"))
      .withColumn("jaccard", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"na", $"nb", $"inter", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** The earliest-carrier frame-digest index over the HISTORICAL
    * videos (doc_id % 5 ≠ 0, the d14 slice convention): per distinct
    * frame aHash, the lowest historical video id carrying it. Derived
    * from the shared frame-hash sidecar — digest-keyed, 24 bytes/row,
    * the video modality's persisted probe table.
    */
  private def histFrameIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    frameIndexOf(gifFramesSidecar(s, dir).filter($"doc_id" % 5 =!= 0))
  }

  /** The earliest-carrier digest aggregate over any (doc_id, frame_no,
    * ahash_hi, ahash_lo) frame table — shared by the session-sidecar
    * path above and the video door's durable index, where it runs over
    * [[DurableIndex.video]]'s served rows: masking BEFORE the aggregate
    * makes a deleted carrier promote the next-earliest, exactly as a
    * rebuild would. Over the persisted `gif_frames` layout (bucketed on
    * ahash_hi) this groupBy runs with ZERO exchanges:
    * HashPartitioning(ahash_hi) satisfies the clustered distribution
    * on (ahash_hi, ahash_lo).
    */
  def frameIndexOf(frames: DataFrame): DataFrame = {
    val s = frames.sparkSession
    import s.implicits._
    frames.groupBy($"ahash_hi", $"ahash_lo").agg(min($"doc_id").as("hist_doc"))
  }

  /** The frame-digest probe shared by the m17 batch query and the
    * streaming video job: per probing video, total decoded frames,
    * distinct frame hashes, how many of those appear in history, the
    * matched fraction, and the earliest historical carrier. Every
    * output row depends only on its own video versus the index, so
    * per-batch probes compose to the batch query bit for bit.
    */
  private def frameProbe(newFrames: DataFrame, histIdx: DataFrame): DataFrame = {
    val s = newFrames.sparkSession
    import s.implicits._
    val counts = newFrames.groupBy($"doc_id").agg(count(lit(1)).as("n_frames"))
    val nd = newFrames.select($"doc_id", $"ahash_hi", $"ahash_lo").distinct()
    val dcounts = nd.groupBy($"doc_id").agg(count(lit(1)).as("n_distinct"))
    val matches = nd.join(histIdx, Seq("ahash_hi", "ahash_lo"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matched"), min($"hist_doc").as("first_hist"))
    counts.join(dcounts, Seq("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select($"doc_id", $"n_frames", $"n_distinct",
        coalesce($"n_matched", lit(0L)).as("n_matched"),
        (coalesce($"n_matched", lit(0L)).cast("double") /
          $"n_distinct".cast("double")).as("match_frac"),
        $"first_hist")
  }

  /** One micro-batch video probe for the streaming job: arriving
    * (doc_id, payload: GIF bytes) decode and frame-hash INSIDE the
    * batch's codec slot (payloads never cross an exchange), then
    * probe the static frame index by exact digest.
    */
  def videoProbeBatch(batch: DataFrame, histIdx: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    frameProbe(
      gifFrameAHashes(batch.select($"doc_id", $"payload").as[GifRow]).toDF(),
      histIdx)
  }

  /** m17 — INCREMENTAL video dedup: the d14 slice convention on the
    * third modality, completing the incremental-probe trio (text
    * d14/d15, image m13, video m17). New arrivals (doc_id ≡ 0 mod 5)
    * probe the HISTORICAL frame-digest index: per arriving video, how
    * many of its distinct frame hashes history already carries, the
    * matched fraction (the trim/re-post signal — a clip that is 80%
    * known frames is a re-edit even if no whole-video digest matches),
    * and the earliest historical carrier. One row per arrival,
    * rejects carry zero/null — the admission-verdict shape.
    *
    * Scale shape: both sides read the shared 16-byte-per-frame
    * sidecar (ONE decode pass per session feeds m15/m16/m17); the
    * probe is a digest equi-join against a digest-keyed history
    * aggregate — no pair join, no binary on any exchange, cost scales
    * with the batch. The streaming form
    * (`graft.streaming.StreamingVideoDedup`) runs the identical
    * frame transform per micro-batch.
    */
  def incrementalVideoDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    frameProbe(gifFramesSidecar(s, dir).filter($"doc_id" % 5 === 0),
        histFrameIndex(s, dir))
      .orderBy($"doc_id")
  }

  /** The historical frame index, materialized — what the streaming
    * video job passes per micro-batch.
    */
  def videoFrameIndex(s: SparkSession, dir: String): DataFrame =
    histFrameIndex(s, dir).localCheckpoint()

  /** The media table: documents' text bytes standing in as payloads,
    * with a deterministic modality assignment.
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    documents(s, dir)
      .select($"doc_id",
        $"text".cast("binary").as("payload"),
        when($"n_chars" % 3 === 0, "image")
          .when($"n_chars" % 3 === 1, "audio")
          .otherwise("video").as("media_type"))
      .as[MediaRow]
  }

  /** The real-codec slot: one decoder instance per partition (U3's
    * lazy-singleton pattern in Dataset form). Kept OUT of the
    * registered queries — an opaque mapPartitions blocks filter
    * pushdown and column pruning, which only a genuine codec justifies.
    */
  def decodeAll(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (w, h) = MediaDecoder.decodeStub(r.payload)
        MediaMeta(r.doc_id, r.media_type, r.payload.length.toLong, w, h)
      }
    }
  }

  /** Decoded metadata via the Column path — one codegen stage over the
    * scan, no opaque boundary.
    */
  private def decodedMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).toDF()
      .select($"doc_id", $"media_type",
        length($"payload").cast("long").as("n_bytes"),
        decodeWidth($"payload").as("width"),
        decodeHeight($"payload").as("height"))
  }

  /** Oracle-checked query: full binary→decode→metadata pipeline. */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodedMeta(s, dir).orderBy($"doc_id")
  }

  /** Frame sampling for "video" payloads: every 1000th byte offset, up
    * to 8 frames. The media_type filter sits below everything (only
    * video rows are touched), the per-row fanout is a bounded explode,
    * and no decode runs at all — only the payload length is read.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).toDF()
      .filter($"media_type" === "video")
      .select($"doc_id", length($"payload").cast("long").as("n_bytes"))
      .select($"doc_id", $"n_bytes",
        explode(expr("sequence(0, least(cast((n_bytes - 1) / 1000 as int), 7))"))
          .as("frame_idx"))
      .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
        ($"frame_idx" * 1000).cast("long").as("byte_offset"))
      .orderBy($"doc_id", $"frame_idx")
  }

  /** Resize planning for image payloads: fit the decoded dimensions
    * into a 256-px box preserving aspect ratio. The image filter runs
    * BELOW the decode (audio/video payloads are never hashed), and the
    * whole query is one codegen stage over the scan.
    */
  def resizePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).toDF()
      .filter($"media_type" === "image")
      .select($"doc_id",
        decodeWidth($"payload").as("width"),
        decodeHeight($"payload").as("height"))
      .withColumn("scale", lit(256.0) / greatest($"width", $"height"))
      .select($"doc_id", $"width", $"height",
        floor($"width" * $"scale").cast("long").as("out_w"),
        floor($"height" * $"scale").cast("long").as("out_h"))
      .orderBy($"doc_id")
  }

  /** The metadata-only form of [[resizePlan]], over a media table whose
    * decode metadata was persisted next to the payload (the production
    * layout at 100 TB — decode once, plan from metadata forever). Takes
    * the persisted frame directly so the spec can assert the payload
    * column is pruned from the scan.
    */
  def resizePlanFromMeta(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media
      .filter($"media_type" === "image")
      .withColumn("scale", lit(256.0) / greatest($"width", $"height"))
      .select($"doc_id", $"width", $"height",
        floor($"width" * $"scale").cast("long").as("out_w"),
        floor($"height" * $"scale").cast("long").as("out_h"))
      .orderBy($"doc_id")
  }

  /** Metadata-only aggregate over the decoded stream. */
  def mediaStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodedMeta(s, dir)
      .groupBy($"media_type")
      .agg(count(lit(1)).as("n"),
           sum($"n_bytes").as("total_bytes"),
           max($"width").as("max_width"),
           min($"height").as("min_height"))
      .orderBy($"media_type")
  }


  final case class TubeletRow(doc_id: Long, tt: Long, py: Long, px: Long,
                              t_sum: Long, t_wsum: Long)

  /** m27 — VIDEO TUBELET MANIFEST: m26's patchify extended along the
    * TIME axis — each clip tiles into T×P×P spatio-temporal blocks
    * (tubelets, the VideoMAE/ViViT tokenization: T=2 consecutive
    * frames × 3×3 pixels here), complete tubelets only, with per-
    * tubelet integer pixel sums and (dt, dy, dx) row-major position
    * weights — so the manifest pins content, pixel order AND frame
    * order inside every block (a clip with two frames swapped matches
    * m26's per-frame sums but not this).
    *
    * Executed over the real GIF codec: all frames of a clip decode
    * once inside the codec slot; the oracle replays the generator
    * raster per tubelet cell.
    *
    * Scale shape: one mapPartitions decode per clip emitting
    * (nf/T)·(w·h)/P² integer rows; frames never cross a shuffle, and
    * the manifest persists beside the media like every other decode
    * sidecar.
    */
  def videoTubelets(s: SparkSession, dir: String,
                    t: Int = 2, p: Int = 3): DataFrame = {
    import s.implicits._
    gifTable(s, dir).mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(r.payload))
        val reader = ImageIO.getImageReadersByFormatName("gif").next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          val frames = (0 until n).map(reader.read)
          val w = frames.head.getWidth
          val h = frames.head.getHeight
          for { tt <- 0 until n / t; py <- 0 until h / p; px <- 0 until w / p } yield {
            var sum = 0L
            var wsum = 0L
            var k = 0
            var dt = 0
            while (dt < t) {
              var dy = 0
              while (dy < p) {
                var dx = 0
                while (dx < p) {
                  val v = (frames(tt * t + dt)
                    .getRGB(px * p + dx, py * p + dy) & 0xff).toLong
                  sum += v
                  wsum += v * (k + 1)
                  k += 1
                  dx += 1
                }
                dy += 1
              }
              dt += 1
            }
            TubeletRow(r.doc_id, tt.toLong, py.toLong, px.toLong, sum, wsum)
          }
        } finally {
          reader.dispose()
          iis.close()
        }
      }
    }.toDF().orderBy($"doc_id", $"tt", $"py", $"px")
  }


  /** m28 — REPEATED-PATCH detector: patch-granular image dedup, the
    * visual analog of d20's chunk dedup — 4×4 patch CONTENT (a
    * polynomial hash over the 16 pixel values in row-major order)
    * grouped across the whole image corpus, keeping keys that recur
    * in ≥ 2 DISTINCT images. On a real corpus the survivors are
    * watermarks, logos, letterboxing bars, UI chrome — sub-image
    * boilerplate that whole-image hashes (m08/m21) structurally
    * cannot see because the surrounding pixels differ. Honest
    * synthetic-corpus note: the generator raster is an affine
    * gradient (pix = (31·id + 7x + 13y) mod 256), so patch content is
    * fully determined by its base offset mod 256 and the patch space
    * COLLAPSES to ≤ 256 classes — the spec proves exactly that
    * collapse from the formula, and the op reports the true
    * recurrence table either way.
    *
    * Executed over the real codec (decode in the mapPartitions slot,
    * pixels never shuffle — only (doc, py, px, key) longs leave);
    * determinism is pure integer arithmetic: the polynomial fold
    * (k·257 + v) mod 2147483647 in pixel order, counts, min-id
    * exemplar.
    *
    * Scale shape: the patch-key aggregate is the d20 shape — keys
    * shuffle as 8-byte values with map-side combine, n_docs is a
    * single-distinct two-phase aggregate, and output is bounded by
    * the number of RECURRING keys. Shares [[patchTable]] with m26 —
    * one decode pass, two consumers, locally AND at 100 TB.
    */
  def repeatedPatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    patchTable(s, dir)
      .groupBy($"pkey")
      .agg(count(lit(1)).as("n_patches"),
        countDistinct($"doc_id").as("n_docs"),
        min($"doc_id").as("first_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"pkey")
  }

  /** The unified 4×4 patch table — ONE decode pass emitting
    * (doc_id, py, px, p_sum, p_wsum, pkey) rows, session-memoized
    * (CorpusIndexes discipline) so the m26 manifest and the m28
    * recurrence audit share the codec work; at 100 TB this IS the
    * persisted patch sidecar both consumers read.
    *
    * The patch size is a CONSTANT, not a parameter: the memo key and
    * the persisted sidecar are both the fixed string "png_patches", so
    * a size parameter would be silently ignored after the first
    * materialization (and could poison the sidecar for every later
    * reader). A variant grid must come with its own memo/sidecar key.
    */
  private val PatchP = 4

  private[ops] def patchTable(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusIndexes.memo(s, dir, "png_patches") {
      import s.implicits._
      val p = PatchP
      pngTable(s, dir).mapPartitions { rows =>
        ImageIO.setUseCache(false)
        rows.flatMap { r =>
          val img = ImageIO.read(new ByteArrayInputStream(r.payload))
          val nx = img.getWidth / p
          val ny = img.getHeight / p
          for { py <- 0 until ny; px <- 0 until nx } yield {
            var sum = 0L
            var wsum = 0L
            var k = 0L
            var dy = 0
            while (dy < p) {
              var dx = 0
              while (dx < p) {
                val v = (img.getRGB(px * p + dx, py * p + dy) & 0xff).toLong
                sum += v
                wsum += v * (dy * p + dx + 1)
                k = (k * 257 + v) % 2147483647L
                dx += 1
              }
              dy += 1
            }
            PatchFull(r.doc_id, py.toLong, px.toLong, sum, wsum, k)
          }
        }
      }.toDF()
    }

  final case class PatchFull(doc_id: Long, py: Long, px: Long,
      p_sum: Long, p_wsum: Long, pkey: Long)

  /** m26 — ViT PATCH MANIFEST: each image tiled into the P×P patch
    * grid a vision transformer ingests (patchify — the first layer of
    * every ViT-family encoder flattens non-overlapping P×P patches
    * into tokens), with per-patch integer pixel sums. Complete patches
    * only (⌊w/P⌋×⌊h/P⌋ — the standard crop-to-multiple preprocessing);
    * `p_wsum` weights each pixel by its row-major position INSIDE the
    * patch, so the manifest pins patch content and pixel ORDER, not
    * just a multiset (the m19 discipline: a reordering fake cannot
    * match).
    *
    * Executed end to end over the real codec: payloads encode and
    * decode through javax.imageio in one mapPartitions slot; the
    * oracle replays the generator raster arithmetic per patch cell.
    *
    * Scale shape: decode happens once per image in the codec slot and
    * emits (w·h)/P² integer rows — pixels never cross a shuffle; the
    * manifest is the artifact the training loader reads, so at 100 TB
    * it persists next to the media like the other sidecars and the
    * decode never re-runs.
    */
  def vitPatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    patchTable(s, dir)
      .select($"doc_id", $"py", $"px", $"p_sum", $"p_wsum")
      .orderBy($"doc_id", $"py", $"px")
  }

  /** m33 — PAYLOAD FORMAT VALIDATION: every media payload's magic
    * bytes checked against its declared container signature — PNG's
    * 8-byte header, RIFF/WAVE's two 4-byte tags, GIF's "GIF8" prefix
    * — entirely WITHOUT decoding (a `substring`+`hex` projection over
    * the binary column). This is the cheap first gate of a media
    * ingest contract: a corrupted or mislabeled object fails here for
    * the cost of reading 12 bytes, long before a codec slot wastes a
    * decode attempt on it. The oracle emits the contract's expected
    * row (all payloads valid), so ANY malformed byte in ANY payload
    * fails the hash compare — the t07/q23 literal-verdict gate
    * applied to binary columns.
    *
    * Scale shape: three narrow projections (codegen substring/hex
    * over the payload column — at 100 TB with parquet this reads only
    * the payload column's pages) and three 1-row aggregates unioned.
    * No decode, no join, no shuffle beyond the final count.
    */
  def payloadValidation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def arm(name: String, payloads: DataFrame, okCol: Column): DataFrame =
      payloads
        .agg(count(lit(1)).as("n"),
          sum(when(okCol, 1L).otherwise(0L)).as("n_valid"))
        .select(lit(name).as("modality"), $"n", $"n_valid",
          ($"n" === $"n_valid").as("all_valid"))
    val png = pngTable(s, dir).toDF()
    val wav = wavTable(s, dir).toDF()
    val gif = gifTable(s, dir).toDF()
    arm("gif", gif, hex(expr("substring(payload, 1, 4)")) === lit("47494638"))
      .union(arm("png", png,
        hex(expr("substring(payload, 1, 8)")) === lit("89504E470D0A1A0A")))
      .union(arm("wav", wav,
        hex(expr("substring(payload, 1, 4)")) === lit("52494646") &&
          hex(expr("substring(payload, 9, 4)")) === lit("57415645")))
      .orderBy($"modality")
  }

  /** m32 — CROSS-MODAL FEATURE CORRELATION: Pearson r between the
    * per-document feature of each modality pair — text length
    * (n_chars), decoded image mass (m05's pix_sum), decoded audio
    * length (m06's n_samples) — the screen a multimodal curator runs
    * to catch degenerate pairings (a caption column perfectly
    * correlated with image size usually means templated captions;
    * near-zero everywhere means the pairing metadata is broken). d24
    * checks crossmodal consistency by HASH; this quantifies the
    * feature-level association.
    *
    * Determinism: every feature is an exact BIGINT off the REAL
    * codecs (the m05/m06 decode paths are reused verbatim), so all
    * five sums per pair are exact integers in any order; r =
    * num / (sqrt(den_a)·sqrt(den_b)) is a fixed three-op IEEE chain
    * over exact-int-valued doubles, identical in both engines. Bounds
    * documented: n·Σ(pix_sum²) at sf0.1 is ~2·10¹⁸ — inside int64 at
    * every bench scale, re-derive before lifting to larger corpora.
    *
    * Scale shape: two codec passes (shared with m05/m06 if their
    * results are cached) + one narrow parquet scan, one doc-keyed
    * 3-way join, ONE global aggregate of nine integer sums, three
    * output rows assembled by an explode over the aggregate row.
    */
  def modalityCorrelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = documents(s, dir).select($"doc_id", $"n_chars".cast("long").as("x"))
    val y = pngDecodeMeta(s, dir).select($"doc_id", $"pix_sum".as("y"))
    val z = wavDecodeMeta(s, dir).select($"doc_id", $"n_samples".as("z"))
    val joined = x.join(y, Seq("doc_id")).join(z, Seq("doc_id"))
    val agg = joined.agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"), sum($"z").as("sz"),
      sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
      sum($"z" * $"z").as("szz"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"z").as("sxz"),
      sum($"y" * $"z").as("syz"))
    agg.select(explode(array(
        struct(lit("chars_pixsum").as("pair"),
          ($"n" * $"sxy" - $"sx" * $"sy").as("num"),
          ($"n" * $"sxx" - $"sx" * $"sx").as("den_a"),
          ($"n" * $"syy" - $"sy" * $"sy").as("den_b")),
        struct(lit("chars_samples").as("pair"),
          ($"n" * $"sxz" - $"sx" * $"sz").as("num"),
          ($"n" * $"sxx" - $"sx" * $"sx").as("den_a"),
          ($"n" * $"szz" - $"sz" * $"sz").as("den_b")),
        struct(lit("pixsum_samples").as("pair"),
          ($"n" * $"syz" - $"sy" * $"sz").as("num"),
          ($"n" * $"syy" - $"sy" * $"sy").as("den_a"),
          ($"n" * $"szz" - $"sz" * $"sz").as("den_b")))).as("p"),
      $"n")
      .select($"p.pair".as("pair"), $"n", $"p.num".as("num"),
        $"p.den_a".as("den_a"), $"p.den_b".as("den_b"))
      .withColumn("r", $"num".cast("double") /
        (sqrt($"den_a".cast("double")) * sqrt($"den_b".cast("double"))))
      .orderBy($"pair")
  }

  final case class PngRotated(doc_id: Long, width: Long, height: Long,
      pix_sum: Long, pos_wsum: Long)

  /** m31 — EXECUTED 90° ROTATION round-trip: decode → rotate
    * clockwise (O(y', x') = I(h−1−x', y'), dims swap to h×w) →
    * re-encode PNG → decode → integer pixel sum AND the row-major
    * position-weighted sum in the ROTATED orientation. Rotation is
    * the augmentation whose bug class is invisible to m05/m02-style
    * multiset stats — any rotation/flip/transpose preserves pix_sum
    * exactly — so the manifest pins ORIENTATION through pos_wsum (the
    * m19/m26 discipline: only a position-weighted sum can tell CW
    * from CCW from transpose; MultimodalSpec proves all four
    * orientations differ on a witness raster).
    *
    * Scale shape: one mapPartitions codec pass, pixels never leave
    * the slot, 4 longs out per image — embarrassingly parallel at any
    * corpus size, like every executed-transform op in the family.
    */
  def pngRotate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir).mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        val w = img.getWidth
        val h = img.getHeight
        val out = new BufferedImage(h, w, BufferedImage.TYPE_INT_RGB)
        var y2 = 0
        while (y2 < w) {
          var x2 = 0
          while (x2 < h) {
            val v = img.getRGB(y2, h - 1 - x2) & 0xff
            out.setRGB(x2, y2, (v << 16) | (v << 8) | v)
            x2 += 1
          }
          y2 += 1
        }
        val bos = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bos)
        val back = ImageIO.read(new ByteArrayInputStream(bos.toByteArray))
        var sum = 0L
        var wsum = 0L
        var y = 0
        while (y < back.getHeight) {
          var x = 0
          while (x < back.getWidth) {
            val p = (back.getRGB(x, y) & 0xff).toLong
            sum += p
            wsum += p * (y * back.getWidth + x + 1)
            x += 1
          }
          y += 1
        }
        PngRotated(r.doc_id, back.getWidth.toLong, back.getHeight.toLong, sum, wsum)
      }
    }.toDF().orderBy($"doc_id")
  }

  final case class PixelEntropy(doc_id: Long, width: Long, height: Long,
      n_pix: Long, n_vals: Long, entropy: Double, flat: Boolean)

  /** m30 — PIXEL-HISTOGRAM ENTROPY: per image, the Shannon entropy of
    * its gray-value distribution — the standard flat-image /
    * compressibility screen a media-curation pass runs before paying
    * for model-based scoring (a near-constant raster carries no
    * training signal; low entropy ⇒ drop). H = ln n − (Σ c·ln c)/n
    * over the 256-bin value histogram (t45's integer-log
    * decomposition: ln only ever sees exact integer counts), plus a
    * `flat` verdict (≤ 16 distinct values — an all-integer bar).
    *
    * Executed over the real PNG codec; the whole histogram AND the
    * entropy fold run INSIDE the decode slot in fixed value order
    * (bins ascending — the same pinned-fold discipline as t20, here
    * enforced by the loop itself), so determinism needs no
    * plan-level sort.
    *
    * Scale shape: the strongest in the m-family — pixels never leave
    * the codec slot at all; per image, exactly 5 longs + 1 double + 1
    * boolean are emitted, and the only downstream op is the
    * presentation sort. At 100 TB this is one embarrassingly parallel
    * pass over the media store.
    */
  def pixelEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir).mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        val w = img.getWidth
        val h = img.getHeight
        val counts = new Array[Long](256)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { counts(img.getRGB(x, y) & 0xff) += 1; x += 1 }
          y += 1
        }
        val n = w.toLong * h
        var sum = 0.0
        var nVals = 0L
        var v = 0
        while (v < 256) {
          val c = counts(v)
          if (c > 0) { nVals += 1; sum += c.toDouble * Math.log(c.toDouble) }
          v += 1
        }
        PixelEntropy(r.doc_id, w.toLong, h.toLong, n, nVals,
          Math.log(n.toDouble) - sum / n.toDouble, nVals <= 16)
      }
    }.toDF().orderBy($"doc_id")
  }

  /** The shared DuckDB GIF frame-aHash replay prefix (d/fr/cells/
    * cs/bits/hx — per (doc_id, f) the 64-bit aHash as hi/lo 32-bit
    * halves, from the generator formula) — ONE copy composed by the
    * m15/m16/m17/m20/m25/m34 oracles, so a formula tweak cannot
    * diverge them (the ccLabelReplaySql discipline).
    */
  private[graft] val gifAhashReplaySql: String = """
        d AS (SELECT doc_id, 6 + doc_id % 10 AS w, 6 + (doc_id // 10) % 10 AS h,
                          2 + doc_id % 4 AS nf FROM documents),
        fr AS (SELECT doc_id, f, w, h,
                 CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                   list_transform(generate_series(0, w - 1), x ->
                     (doc_id * 31 + f * 17 + x * 7 + y * 13) % 256)))) AS BIGINT) AS total
               FROM d, LATERAL unnest(generate_series(0, CAST(nf - 1 AS INTEGER))) AS t(f)),
        cells AS (SELECT doc_id, f, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM fr,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, f, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + f * 17 + x * 7 + y * 13) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, f, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs),
        hx AS (SELECT doc_id, f,
                 CAST(sum(CASE WHEN b >= 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN b < 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM bits GROUP BY doc_id, f)"""

  /** m34 — TEMPORAL ALIGNMENT of video pairs: for every pair of clips
    * sharing at least one (df-capped) frame digest, the MODAL frame
    * offset and its support — the detector for "same clip, trimmed
    * intro / re-cut" that frame-SET similarity (m16's 2-gram Jaccard)
    * cannot express: m16 asks WHETHER the frames match, this asks
    * whether they match AT A CONSTANT SHIFT. A pair whose matches
    * concentrate at one offset is a temporal re-cut; matches smeared
    * over many offsets are a static template sharing frames. The
    * modal offset tie-breaks (support DESC, |off|, off) — the
    * smallest plausible shift wins a tie, exactly replayed.
    *
    * Scale shape: rides the ONE shared decode pass (the `gif_frames`
    * sidecar; pixels long gone), digests df-capped at 64 carriers
    * before pair generation (the d12 rule — a boilerplate intro frame
    * must not explode the join), per-pair offset fan-out is bounded
    * by nf_a x nf_b (<= 25 here; clip-length-bounded in general), and
    * the rank window partitions per pair.
    */
  def videoAlignment(s: SparkSession, dir: String, cap: Int = 64): DataFrame = {
    import s.implicits._
    val fh = gifFramesSidecar(s, dir)
    val rare = fh.groupBy($"ahash_hi", $"ahash_lo", $"doc_id")
      .agg(count(lit(1)).as("nocc"))
      .groupBy($"ahash_hi", $"ahash_lo").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" <= cap)
      .select($"ahash_hi", $"ahash_lo")
    val hc = fh.join(rare, Seq("ahash_hi", "ahash_lo"))
    val a = hc.select($"ahash_hi", $"ahash_lo",
      $"doc_id".as("doc_a"), $"frame_no".as("f_a"))
    val b = hc.select($"ahash_hi", $"ahash_lo",
      $"doc_id".as("doc_b"), $"frame_no".as("f_b"))
    val offs = a.join(b, Seq("ahash_hi", "ahash_lo"))
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b",
        ($"f_b" - $"f_a").cast("long").as("off"))
      .agg(count(lit(1)).as("support"))
    val w = Window.partitionBy($"doc_a", $"doc_b")
      .orderBy($"support".desc, abs($"off"), $"off")
    val best = offs.withColumn("r", row_number().over(w)).filter($"r" === 1)
      .select($"doc_a", $"doc_b", $"off".as("best_offset"), $"support")
    val tot = offs.groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_offsets"), sum($"support").as("n_matches"))
    best.join(tot, Seq("doc_a", "doc_b"))
      .withColumn("aligned", $"support" >= 2L)
      .orderBy($"doc_a", $"doc_b")
  }
}

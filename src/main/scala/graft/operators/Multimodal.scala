package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Multimodal-column plumbing (north-star op; the reference is
  * text-only — SURVEY.md §1.2).
  *
  * Media is modeled as an opaque `binary` column plus typed metadata,
  * processed in partition-sized batches via `mapPartitions` — the
  * Scala analogue of `mapInPandas`: the decode loop sees an iterator
  * of rows per partition, so a real decoder would amortize its codec/
  * model initialization per partition, not per row. The Spark-side
  * plumbing (schema, batching, partitioning, output shape) is real
  * and oracle-tested; [[decodeStub]] — the byte-level "decoder" — is
  * a deterministic stand-in for the image/audio libraries this
  * container does not ship, while [[multimodalPng]] runs the one
  * codec the JDK itself provides: a REAL ImageIO PNG encode → decode
  * round trip, oracle-gated at pixel level.
  *
  * 100 TB notes: binary payloads ride the scan (parquet binary
  * columns), are never shuffled (all derived columns are computed
  * before any wide op), and the decode stage is a narrow map — its
  * cost scales linearly and spills nothing.
  */
object Multimodal {

  /** ImageIO's default disk cache spools every encode/decode through
    * a temp file in java.io.tmpdir — pure I/O overhead when the
    * stream is already an in-memory byte array (every call site
    * here), and a 3-5× wall-clock tax when tmp sits on slow storage.
    * Flipped once per JVM via this lazy val, which each codec
    * closure touches before its first ImageIO call (executors
    * initialize it independently — a cheap idempotent static). */
  private lazy val imageIoNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** The one PNG-decode entry point — routes every call site through
    * the [[imageIoNoCache]] flip before touching ImageIO. */
  private def readPng(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoNoCache
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  /** One decoded media record. `feat` stands in for an embedding /
    * thumbnail / spectrogram a real decoder would emit. */
  case class MediaMeta(
      doc_id: Long, media_len: Long, width: Long, height: Long, feat: Array[Float])

  /** STUB DECODER. A real pipeline would decode image bytes here
    * (e.g. JPEG → WxH + features). Deterministic stand-in: header
    * bytes → dimensions, remaining bytes → features. Keeps the exact
    * batch shape a real decoder needs: one iterator per partition. */
  def decodeStub(rows: Iterator[(Long, Array[Byte])]): Iterator[MediaMeta] =
    rows.map { case (id, bytes) =>
      val b0 = if (bytes.length > 0) bytes(0) & 0xFF else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xFF else 0
      MediaMeta(
        doc_id = id,
        media_len = bytes.length.toLong,
        width = 64L + (b0 % 128),
        height = 64L + (b1 % 128),
        feat =
          if (bytes.isEmpty) Array.fill(8)(0.0f)
          else Array.tabulate(8)(i => (bytes(i % bytes.length) & 0xFF) / 255.0f))
    }

  /** STUB AUDIO DECODER — the audio-modality twin of [[decodeStub]]
    * (this container ships no audio codecs): reinterprets the binary
    * payload as big-endian signed PCM16 samples, the exact batch
    * shape a real decoder (wav/flac → PCM) needs. The Spark-side
    * plumbing — binary column in, per-partition iterator, framed
    * integral features out — is real and oracle-gated; only this
    * byte→sample rule is the stand-in. */
  def audioDecodeStub(rows: Iterator[(Long, Array[Byte])]): Iterator[(Long, Array[Int])] =
    rows.map { case (id, bytes) =>
      val n = bytes.length / 2
      (id, Array.tabulate(n) { i =>
        val v = ((bytes(2 * i) & 0xFF) << 8) | (bytes(2 * i + 1) & 0xFF)
        if (v >= 32768) v - 65536 else v
      })
    }

  /** Per-frame audio energy profile — the feature-extraction pass an
    * audio pipeline runs before VAD/filtering: the 8-sample stub
    * clip frames at 4 samples (2 frames/clip), each frame reporting
    * its exact integral energy Σ sample² (≤ 4·2³⁰ — BIGINT-safe
    * through ~2⁵⁰-sample frames) and peak |sample|. The oracle
    * re-derives every sample from the md5 hex in SQL, so the whole
    * binary → PCM → frame → energy path is hash-gated despite the
    * stub codec. Scale shape: narrow per-partition decode + explode
    * of 2 integral rows per clip — no shuffle at all. */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .flatMap { case (id, samples) =>
        samples.grouped(4).zipWithIndex.map { case (fr, idx) =>
          val energy = fr.map(s => s.toLong * s.toLong).sum
          val peak = fr.map(s => math.abs(s.toLong)).max
          (id, idx.toLong, fr.length.toLong, energy, peak)
        }
      }
      .toDF("doc_id", "frame_idx", "n_samples", "energy", "peak_abs")
  }

  /** Fabricate a deterministic binary "media" column (md5 digest bytes
    * of the text — 16 bytes) and run it through the batch decoder. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(decodeStub)
  }

  /** Metadata extraction over the decoded batch — the oracle recomputes
    * width/height from md5 bytes in SQL, so the full binary → decode →
    * metadata path is correctness-gated even though the decoder is a
    * stub. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"), col("media_len"), col("width"), col("height"))

  /** Feature aggregation: mean feature vector per width bucket —
    * exercises the Array[Float] feature column through a shuffle. */
  def multimodalFeatAgg(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"), col("width"), posexplode(col("feat")))
      .groupBy(col("width"), col("pos"))
      .agg(avg(col("col").cast("double")).as("mean_feat"), count(lit(1)).as("n"))

  /** Oracle-gated form of [[multimodalFeatAgg]]: float means are not
    * bit-stable across engines, but each stub feature is byte/255, so
    * Σbyte is an exact BIGINT (features re-quantized via round(f·255))
    * and the mean is published at a fixed integer scale —
    * (Σb·10⁹) div (255·n) — which both engines compute identically.
    * The float mean stays in [[multimodalFeatAgg]] for library use. */
  def multimodalFeatAggExact(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("width"), posexplode(col("feat")))
      .groupBy(col("width"), col("pos"))
      .agg(
        sum(round(col("col") * 255).cast("long")).as("sum_byte"),
        count(lit(1)).as("n"))
      .select(col("width"), col("pos").cast("long").as("pos"),
        col("sum_byte"), col("n"),
        expr("(sum_byte * 1000000000) DIV (255 * n)").as("mean_feat_e9"))

  /** One REAL-decoded PNG record ([[multimodalPng]]). */
  case class PngMeta(doc_id: Long, png_len: Long, width: Long, height: Long, sum_rgb: Long)

  /** REAL PNG bytes, deterministic per document: dimensions and a
    * full per-pixel RGB gradient derive from the doc's md5 bytes, the
    * raster is compressed by the JDK's ImageIO PNG writer. This is
    * the encode half of the one decoder the container CAN ship — see
    * [[multimodalPng]]. */
  def encodePng(seed: Array[Byte]): Array[Byte] = {
    def b(i: Int) = seed(i) & 0xFF
    val w = 4 + b(0) % 16
    val h = 4 + b(1) % 16
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 7 + y * 13 + b(2)) % 256
        val g = (x * 11 + y * 3 + b(3)) % 256
        val bl = (x * 5 + y * 17 + b(4)) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | bl)
        x += 1
      }
      y += 1
    }
    imageIoNoCache
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL PNG DECODER — not a stub: ImageIO parses the compressed
    * container, inflates the raster, and the features (dimensions +
    * channel sum) come from the decoded pixels. Batch shape identical
    * to [[decodeStub]]: one iterator per partition, so the codec is
    * amortizable state. */
  def decodePng(rows: Iterator[(Long, Array[Byte])]): Iterator[PngMeta] =
    rows.map { case (id, png) =>
      val img = readPng(png)
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
          x += 1
        }
        y += 1
      }
      PngMeta(id, png.length.toLong, img.getWidth.toLong, img.getHeight.toLong, sum)
    }

  /** End-to-end REAL image pipeline: fabricate genuine PNG binaries
    * (deterministic gradient raster per doc), push them through the
    * actual JDK codec, and emit decoded metadata + a whole-raster
    * channel sum. PNG is lossless, so the oracle can replay the
    * EXPECTED decode output — per-doc dimensions and the Σ(r+g+b)
    * gradient sum — from the md5 bytes in SQL: a hash mismatch means
    * the codec round trip corrupted at least one pixel. `png_len`
    * (container size) stays ungated — compressed length is an
    * encoder implementation detail, asserted > 0 in the spec.
    * Scale shape: two chained narrow partition maps (encode, decode);
    * binary never shuffles; the only wide op is Verify's write. */
  def multimodalPng(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) => (id, encodePng(seed)) })
      .mapPartitions(decodePng)
      .select(col("doc_id"), col("width"), col("height"), col("sum_rgb"))
  }

  /** Perceptual average-hash (aHash) of a decoded raster: 8×8
    * nearest-neighbor grayscale samples, bit i set iff sample i is
    * strictly above the integer mean. Every step is integer
    * arithmetic on decoded pixels, so the oracle replays the hash
    * bit-for-bit from the gradient formula. The 64 bits are emitted
    * as two 32-bit BIGINT halves (a single 64-bit word would need
    * the sign bit). */
  def aHash(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    val g = new Array[Long](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val rgb = img.getRGB(x * img.getWidth / 8, y * img.getHeight / 8)
        g(y * 8 + x) = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
        x += 1
      }
      y += 1
    }
    val mean = g.sum / 64
    var lo = 0L; var hi = 0L
    var i = 0
    while (i < 64) {
      if (g(i) > mean) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi, mean)
  }

  /** Perceptual near-dup hashing for media — the image analog of
    * simhash: encode the genuine PNG, DECODE it through the real
    * codec, and aHash the raster ([[aHash]]: 8×8 nearest-neighbor
    * gray, above-mean bits). Two images within a few hamming bits
    * are visual near-dups; the downstream near-dup join is exactly
    * the dedup_simhash pigeonhole machinery over (phash_lo,
    * phash_hi). The oracle recomputes every sampled gray value, the
    * integer mean, and both bit-packed halves from the md5 gradient
    * — a wrong sample coordinate, channel order, or tie rule flips
    * a bit and breaks the hash. Scale shape: chained narrow
    * partition maps (encode→decode→hash); media bytes never shuffle
    * — only (doc_id, two longs) leave the scan. */
  def multimodalPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) =>
        val img = readPng(encodePng(seed))
        val (lo, hi, mean) = aHash(img)
        (id, img.getWidth.toLong, img.getHeight.toLong, lo, hi, mean)
      })
      .toDF("doc_id", "width", "height", "phash_lo", "phash_hi", "mean_gray")
  }

  /** Visual near-duplicate JOIN over [[multimodalPhash]] — the image
    * analog of dedup_simhash, completing hash → pairs: 64 hash bits
    * band into 8×8-bit keys, bucket-mates become candidates, exact
    * hamming ≤ 6 confirms. LOSSLESS by pigeonhole: ≤6 flipped bits
    * touch at most 6 of the 8 bands, so every qualifying pair shares
    * ≥2 untouched bands and is always a candidate. The registered
    * path is [[phashDedupGrouped]] (r18 default flip): an exact-hash
    * pre-group runs the banding over DISTINCT hashes only and
    * expands member pairs at the end — output-IDENTICAL to the
    * per-document banded join (EdgeCaseSpec pins equality with the
    * brute-force hamming join on the fixture and a planted
    * duplication-heavy corpus) while the realistic 100 TB
    * image-corpus shape, where duplicate mass is re-encodes hashing
    * identically, pays Σ bucket² over distinct hashes instead of
    * documents. Hashes compute ONCE (persisted — encode/decode must
    * not rerun for the self-join's two sides), and the wide joins
    * carry only (rep, band, bits) / (doc_id, rep) — never media. */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.CacheScope.ScopedDataset
    phashDedupGrouped(multimodalPhash(spark, dir)
      .select(col("doc_id"), col("phash_lo"), col("phash_hi"))
      .persistScoped())
  }

  /** Operating point: hamming ≤ [[PhashK]] = 6 over
    * [[PhashBands]] = 8 bands of 8 bits — the widest threshold the
    * 64-bit hash supports losslessly with byte-aligned bands (the
    * pigeonhole needs only PhashBands > PhashK: k flips touch ≤ k
    * bands, so one band survives untouched). At a fixed band width
    * the per-band bucket population over near-uniform perceptual
    * hashes grows ~n/2^bits, so per-document candidate volume is
    * ~nBands·n²/2^bits, QUADRATIC in the corpus. The r17 counts2
    * audit priced 8×8 at 3.46M → 35.4G pairs from 1× to 100×, and a
    * k=3, 4×16-bit layout at 8.6× less mass for a lower threshold
    * (PLANS.md §"Round 17"); the shipped answer is the exact-hash
    * pre-group of [[phashDedupGrouped]] (PLANS.md §"Round 18"). */
  private[operators] val PhashK = 6
  private[operators] val PhashBands = 8

  /** Banded phash near-dup join with EXACT-HASH pre-grouping — the
    * linearization for the REALISTIC image-corpus shape (r17): at
    * 100 TB the mass of visual duplicates is re-encodes and mirrors
    * of the SAME image, which hash identically, so the banded
    * self-join's Σ bucket² concentrates in identical-hash groups of
    * size m and pays m² per group. Grouping first makes that part
    * linear: one hash-groupBy picks a min-doc_id representative per
    * DISTINCT hash, banding + hamming verification run over
    * representatives only (the pigeonhole losslessness argument is
    * unchanged — reps are just hashes), and member pairs expand at
    * the end (cross-group pairs inherit their reps' hamming; same-
    * hash pairs are hamming 0). Output-IDENTICAL to the per-document
    * banded join — EdgeCaseSpec pins equality with the brute-force
    * hamming join on the fixture and on a planted 5×-duplicated
    * corpus, where a per-document banded join would pay 25× the
    * candidate mass. The expansion is
    * output-sized (m² pairs among m identical docs is the ANSWER,
    * not overhead). Takes the hash frame directly so corpora with
    * precomputed hashes (and tests) can drive it. */
  private[graft] def phashDedupGrouped(hashes: DataFrame): DataFrame = {
    import graft.CacheScope.ScopedDataset
    val p = hashes.select(col("doc_id"), col("phash_lo"), col("phash_hi"))
      .persistScoped()
    val reps = p.groupBy(col("phash_lo"), col("phash_hi"))
      .agg(min(col("doc_id")).as("rep"))
      .persistScoped()
    val bands = phashBandsOf(
        reps.select(col("rep").as("doc_id"), col("phash_lo"), col("phash_hi")))
      .select(col("doc_id").as("rep"), col("k"), col("bv"))
    val candReps = bands.as("a")
      .join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.bv") === col("b.bv") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .distinct()
    val qual = candReps
      .join(reps.select(col("rep").as("rep_a"),
        col("phash_lo").as("lo_a"), col("phash_hi").as("hi_a")), "rep_a")
      .join(reps.select(col("rep").as("rep_b"),
        col("phash_lo").as("lo_b"), col("phash_hi").as("hi_b")), "rep_b")
      .withColumn("hamming",
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b")))
          + bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("long"))
      .filter(col("hamming") <= PhashK)
      .select(col("rep_a"), col("rep_b"), col("hamming"))
    val members = p.join(reps, Seq("phash_lo", "phash_hi"))
      .select(col("doc_id"), col("rep"))
      .persistScoped()
    val cross = qual
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("ida")), "rep_a")
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("idb")), "rep_b")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    val within = members.as("x")
      .join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** The (doc_id, band k, band value) bucket frame of a supplied
    * (doc_id, phash_lo, phash_hi) frame: band b takes bits
    * [8b, 8b+8) of the combined 64-bit hash (lo | hi<<32) — the
    * historical per-byte layout the oracle replays. */
  private[graft] def phashBandsOf(hashes: DataFrame): DataFrame = {
    val width = 64 / PhashBands
    val bandExprs = (0 until PhashBands).map { b =>
      s"struct(${b}L AS k, shiftrightunsigned(ph, ${b * width}) & ${(1L << width) - 1} AS bv)"
    }
    hashes
      .withColumn("ph", col("phash_lo").bitwiseOR(shiftleft(col("phash_hi"), 32)))
      .select(col("doc_id"), explode(expr(s"array(${bandExprs.mkString(",")})")).as("b"))
      .select(col("doc_id"), col("b.k").as("k"), col("b.bv").as("bv"))
  }

  private val ThumbSide = 4

  /** REAL raster resize: nearest-neighbor on the integer lattice —
    * out (x,y) samples in (x·w div outW, y·h div outH). Integer
    * arithmetic only, so the oracle can replay which source pixel
    * every thumbnail pixel takes. */
  def resizeRaster(img: java.awt.image.BufferedImage,
      outW: Int, outH: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < outH) {
      var x = 0
      while (x < outW) {
        out.setRGB(x, y, img.getRGB(x * img.getWidth / outW, y * img.getHeight / outH))
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL thumbnailing pipeline — the resize analog of
    * [[multimodalPng]], retiring the halve-the-metadata stub for the
    * codec the JDK ships: encode a genuine PNG, DECODE it, resize the
    * actual raster ([[ThumbSide]]² nearest-neighbor), RE-ENCODE the
    * thumbnail, decode it again, and emit the thumbnail's channel
    * sum. Two full codec round trips bracket the resize, so a
    * wrong-pixel lookup, a lossy re-encode, or axis-swapped sampling
    * all break the hash: the oracle recomputes every thumbnail pixel
    * (source coords are integer div) from the gradient formula.
    * Same scale shape: chained narrow partition maps, binary never
    * shuffles. */
  def multimodalThumb(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) =>
        val png = encodePng(seed)
        val img = readPng(png)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(resizeRaster(img, ThumbSide, ThumbSide), "png", bos)
        (id, img.getWidth.toLong, img.getHeight.toLong, bos.toByteArray)
      })
      .toDF("doc_id", "width", "height", "thumb_png")
      .as[(Long, Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, w, h, png) =>
        val t = readPng(png)
        var sum = 0L
        var y = 0
        while (y < t.getHeight) {
          var x = 0
          while (x < t.getWidth) {
            val rgb = t.getRGB(x, y)
            sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        (id, w, h, t.getWidth.toLong, t.getHeight.toLong, sum)
      })
      .toDF("doc_id", "width", "height", "thumb_w", "thumb_h", "thumb_sum")
  }

  /** One sampled "frame" of a media payload. */
  case class Frame(doc_id: Long, frame_idx: Long, frame_off: Long, frame_sig: Long)

  /** STUB FRAME-SAMPLER. A real pipeline decodes video and samples
    * every Nth frame; the stand-in slices the payload into fixed-size
    * chunks and fingerprints each. The Spark shape is the real part:
    * one input row fans out to 0..n frame rows inside a partition
    * iterator (no shuffle), and downstream ops treat frames as plain
    * rows. */
  def frameSample(rows: Iterator[(Long, Array[Byte])], frameBytes: Int): Iterator[Frame] =
    rows.flatMap { case (id, bytes) =>
      bytes.grouped(frameBytes).zipWithIndex.map { case (chunk, i) =>
        var sig = 1125899906842597L
        chunk.foreach(b => sig = sig * 31 + (b & 0xFF))
        Frame(id, i.toLong, i.toLong * frameBytes, sig)
      }
    }

  /** STUB RESIZE. A real decoder scales WxH; the stand-in halves the
    * decoded dimensions (min 1) — the point is that resize is a
    * narrow, per-row map over the decoded batch, never a shuffle. */
  def resize(meta: Iterator[MediaMeta], maxSide: Long): Iterator[MediaMeta] =
    meta.map { m =>
      var (w, h) = (m.width, m.height)
      while (w > maxSide || h > maxSide) { w = math.max(1, w / 2); h = math.max(1, h / 2) }
      m.copy(width = w, height = h)
    }

  /** Frame table: media → 4-byte "frames" with rolling-hash sigs.
    * Oracle-checked structurally (doc_id/frame_idx/frame_off are
    * byte-arithmetic DuckDB can reproduce); frame_sig is asserted
    * deterministic in MultimodalSpec. */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => frameSample(rows, frameBytes = 4))
      .select(col("doc_id"), col("frame_idx"), col("frame_off"))
  }

  /** One sampled frame carrying its raw content (for content-level
    * frame analysis, unlike [[Frame]]'s fingerprint-only form). */
  case class FrameContent(doc_id: Long, frame_idx: Long, frame_bytes: Array[Byte])

  /** Cross-media FRAME dedup — the multimodal counterpart of
    * `dedup_exact`: sample frames from every media payload (the stub
    * slices the binary into 2-byte chunks / 4 hex chars; a real
    * pipeline decodes
    * and perceptual-hashes video frames), group by exact frame
    * content, and report frames appearing in MORE THAN ONE distinct
    * document — shared intros/watermarks/duplicated clips. The
    * decode fan-out is a narrow partition map; the only shuffle
    * carries (frame_hex, doc_id) — 4-hex-char keys, never media
    * bytes. 2-byte frames keep the value space small enough that the
    * gate SF (0.01, which plants no exact-dup TEXTS) still exercises
    * cross-document collisions; a real pipeline's perceptual hash
    * collides the same way by design. At 100 TB the same plan holds
    * (the groupBy key is already a digest). */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        bytes.grouped(2).zipWithIndex.map { case (chunk, i) =>
          FrameContent(id, i.toLong, chunk)
        }
      })
      .select(lower(hex(col("frame_bytes"))).as("frame_hex"), col("doc_id"))
      .groupBy(col("frame_hex"))
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
  }

  /** Thumbnail pipeline — decode PNG, resize via the stub-safe
    * raster path, re-encode; shuffles carry keys/dims, never media
    * bytes (plan-asserted). */
  def multimodalResized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir)
      .mapPartitions(rows => resize(rows, maxSide = 96))
      .select(col("doc_id"), col("width"), col("height"))
  }

  /** Per-sample VAD threshold for [[audioVad]]: |sample| ≥ 2¹³
    * (a quarter of PCM16 full scale) counts as voiced. */
  private[operators] val VadThreshold = 8192L

  /** Voice-activity segmentation over the stub-decoded PCM16 clips —
    * the gaps-and-islands pass a speech pipeline runs after framing
    * ([[audioEnergy]]): samples with |amplitude| ≥ [[VadThreshold]]
    * are voiced, maximal consecutive runs of voiced samples form
    * segments, and each clip reports its voiced-sample count, segment
    * count, and longest run — the features VAD-based filtering and
    * chunking decide on. Clips with NO voiced samples still emit
    * their zero row (left join back to the corpus — a silence-heavy
    * corpus must not vanish from the report). The island key is the
    * classic `sample_idx − row_number()` difference, exact integer
    * arithmetic replayed verbatim by the oracle. Scale shape: narrow
    * decode + explode, ONE doc_id exchange serving the island window
    * and both rollups; media bytes never shuffle (only (doc_id, idx)
    * longs leave the decode stage). */
  def audioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy("doc_id").orderBy("si")
    val voiced = Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .flatMap { case (id, samples) =>
        samples.iterator.zipWithIndex.collect {
          case (s, i) if math.abs(s.toLong) >= VadThreshold => (id, i.toLong)
        }
      }
      .toDF("doc_id", "si")
      .withColumn("grp", col("si") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).as("n_voiced"), count(lit(1)).as("n_segments"),
        max(col("len")).as("longest_run"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(voiced, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_voiced"), lit(0L)).as("n_voiced"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
  }

  /** 16-bucket luma histogram over REAL decoded PNG pixels — the
    * exposure/contrast profile an image-curation pipeline screens on
    * (all-dark, all-blown, low-dynamic-range images are cheap to
    * reject before any model sees them): each clip's PNG round-trips
    * through ImageIO (genuine codec, the [[multimodalPng]] contract),
    * every decoded pixel folds to `((r+g+b) div 3) div 16`, and the
    * operator emits (doc_id, bucket, n_px) counts. The oracle replays
    * the gradient-raster formula per pixel in SQL, so the whole
    * encode→inflate→decode→histogram path is hash-gated despite the
    * real codec. Scale shape: decode + per-image histogram fold
    * happen INSIDE the partition (≤16 rows leave per image — pixels
    * never shuffle); no keyed exchange at all. */
  def imageHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) => (id, encodePng(seed)) })
      .mapPartitions(_.flatMap { case (id, png) =>
        val img = readPng(png)
        val counts = new Array[Long](16)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val luma = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
            counts(luma / 16) += 1L
            x += 1
          }
          y += 1
        }
        counts.iterator.zipWithIndex.collect {
          case (n, b) if n > 0L => (id, b.toLong, n)
        }
      })
      .toDF("doc_id", "bucket", "n_px")
  }

  /** Histogram equalization audit per REAL decoded PNG — the
    * contrast-normalization pass an image-curation pipeline applies
    * before any downstream feature ("stretch each image's luma CDF
    * to uniform"), reported as an audit instead of a re-encode so
    * the whole transform is hash-gateable: per image, the 256-level
    * gray histogram builds inside the decode partition, each level
    * remaps to g' = ((cdf(g) − cdf_min)·255) div (n_px − cdf_min)
    * (the classic integer rule, truncating — both engines), and the
    * row reports pixel count, distinct gray levels, and the exact
    * luma variance NUMERATOR n·Σg² − (Σg)² before and after (the
    * fano_factor denominators-cleared rule; ≤ 2³⁴ at the 20×20 stub
    * raster, ≤ 2⁶³ through ~10⁸-pixel frames). After equalization
    * the mapped range is exactly [0, 255] whenever ≥2 gray levels
    * exist — an EXECUTED EdgeCaseSpec invariant. Scale shape: decode
    * + histogram + both folds all partition-resident (the
    * image_histogram rule); one 5-long row per image; no keyed
    * exchange. */
  def imageEqualize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) => (id, encodePng(seed)) })
      .mapPartitions(_.map { case (id, png) =>
        val img = readPng(png)
        val hist = new Array[Long](256)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            hist((((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3) += 1L
            x += 1
          }
          y += 1
        }
        val nPx = img.getWidth.toLong * img.getHeight
        var cdfMin = 0L; var nGray = 0L
        var s1b = 0L; var s2b = 0L; var s1a = 0L; var s2a = 0L
        var cdf = 0L; var g = 0
        while (g < 256) {
          val c = hist(g)
          if (c > 0L) {
            cdf += c
            if (cdfMin == 0L) cdfMin = cdf // first nonzero cdf
            nGray += 1
            val g2 =
              if (nPx > cdfMin) (cdf - cdfMin) * 255L / (nPx - cdfMin) else 0L
            s1b += c * g; s2b += c * g.toLong * g
            s1a += c * g2; s2a += c * g2 * g2
          }
          g += 1
        }
        (id, nPx, nGray, nPx * s2b - s1b * s1b, nPx * s2a - s1a * s1a)
      })
      .toDF("doc_id", "n_px", "n_gray", "var_num_before", "var_num_after")
  }

  /** Zero-crossing rate over the stub-decoded PCM16 clips — the
    * classic voiced/unvoiced (and music-vs-speech) discriminator next
    * to [[audioEnergy]]'s amplitude view: a sign flip between
    * consecutive samples is one crossing, and the rate normalizes by
    * the sample-pair count on the 2²⁰ lattice (truncating division —
    * both engines). Zero samples are neither positive nor negative
    * (product < 0 is the crossing test, so a zero breaks a run
    * without counting), and `n_nonzero` reports how much of the clip
    * is exactly silent. The oracle re-derives every sample from the
    * md5 hex and replays the lag-product rule, so the byte → sample
    * → feature path is hash-gated end to end. Scale shape: the whole
    * feature folds INSIDE the per-partition decode loop — one narrow
    * map, zero shuffles; only (doc_id, 4 longs) leave the scan. */
  def audioZcr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .map { case (id, samples) =>
        var zc = 0L; var nz = 0L; var i = 0
        while (i < samples.length) {
          if (samples(i) != 0) nz += 1
          if (i > 0 && samples(i - 1).toLong * samples(i).toLong < 0L) zc += 1
          i += 1
        }
        val denom = math.max(samples.length - 1, 1).toLong
        (id, samples.length.toLong, nz, zc, zc * 1048576L / denom)
      }
      .toDF("doc_id", "n_samples", "n_nonzero", "n_zc", "zcr_q")
  }

  /** Decimate-by-2 with the 3-tap [1, 2, 1]/4 FIR, factored for the
    * spec's planted hand-checks: y_j = trunc((x_{2j−1} + 2·x_{2j} +
    * x_{2j+1}) / 4) with edge CLAMP (x_{−1} = x₀, x_n = x_{n−1}).
    * Samples are signed, so the division rule is part of the
    * contract: TRUNCATION toward zero on both engines — JVM Long `/`
    * truncates and so does DuckDB integer `//` (measured:
    * (−3)//4 = 0, (−71919)//4 = −17979; the "`//` floors" folklore
    * holds only for DOUBLE operands). The spec pins the negative-odd
    * case so an engine that switched to floor would fail loudly. */
  private[operators] def resampleClip(x: Array[Int]): Array[Long] =
    Array.tabulate((x.length + 1) / 2) { j =>
      val c = x(2 * j).toLong
      val p = if (2 * j - 1 >= 0) x(2 * j - 1).toLong else c
      val nx = if (2 * j + 1 < x.length) x(2 * j + 1).toLong else c
      (p + 2L * c + nx) / 4L
    }

  /** Anti-aliased 2:1 downsample per clip — the sample-RATE half of
    * audio normalization beside [[audioGainPlan]]'s amplitude half
    * (a 100 TB audio corpus lands at mixed rates; training consumes
    * ONE): each clip decimates through [[resampleClip]]'s half-band
    * FIR (averaging before dropping — plain sample-dropping aliases
    * high frequencies into band; the spec EXECUTES the Nyquist kill:
    * an alternating ±a clip resamples to exact zeros past the edge),
    * reported as n_in/n_out plus three integrity integrals over the
    * output — Σ|y|, max|y|, and the position-weighted checksum
    * Σ(j+1)·y_j that pins every output value AND its position (a
    * swapped or shifted sample breaks it). Scale shape: decode +
    * filter + fold all inside the partition (the audio_zcr rule) —
    * one 6-long row per clip leaves the scan; no shuffle at all. */
  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .map { case (id, x) =>
        val y = resampleClip(x)
        val chk = y.zipWithIndex.map { case (v, j) => (j + 1) * v }.sum
        (id, x.length.toLong, y.length.toLong,
          y.map(math.abs).sum, if (y.isEmpty) 0L else y.map(math.abs).max, chk)
      }
      .toDF("doc_id", "n_in", "n_out", "sum_abs_out", "peak_out", "chk")
  }

  /** Walsh–Hadamard sequency spectrum per clip — the exact-integer
    * spectral feature (the DFT's twiddles are irrational; the WHT's
    * are all ±1, so every coefficient X_k = Σₙ (−1)^popcount(k∧n)·xₙ
    * is a BIGINT both engines reproduce bit-for-bit): over the
    * 8-sample stub clip, the DC coefficient, the dominant non-DC
    * sequency (argmax |X_k|, ties → smallest k), its magnitude, and
    * the spectral energy ΣX_k². Parseval pins the transform against
    * [[audioEnergy]]: ΣX_k² = 8·Σxₙ² — an EXECUTED EdgeCaseSpec
    * invariant, not prose. |X_k| ≤ 8·2¹⁵ → ΣX_k² ≤ 2³⁹, long-safe.
    * Scale shape: decode + transform + fold all inside the
    * partition (the audio_zcr rule) — one 5-long row per clip
    * leaves the scan; no shuffle at all. */
  def audioWht(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .map { case (id, samples) =>
        val n = samples.length // 8 for the 16-byte md5 payload
        val coefs = Array.tabulate(n) { k =>
          var acc = 0L; var i = 0
          while (i < n) {
            val s = samples(i).toLong
            acc += (if (Integer.bitCount(k & i) % 2 == 0) s else -s)
            i += 1
          }
          acc
        }
        var domK = if (n > 1) 1 else 0; var k = 2
        while (k < n) {
          if (math.abs(coefs(k)) > math.abs(coefs(domK))) domK = k
          k += 1
        }
        val specE = coefs.map(c => c * c).sum
        val (dc, domAbs) =
          if (n == 0) (0L, 0L) else (coefs(0), math.abs(coefs(domK)))
        (id, dc, domK.toLong, domAbs, specE)
      }
      .toDF("doc_id", "dc", "dom_seq", "dom_abs", "spec_energy")
  }

  /** Dominant color per REAL decoded PNG — the palette screen an
    * image-curation pipeline runs beside [[imageHistogram]]'s
    * exposure view (synthetic/solid-color/logo images concentrate
    * their pixel mass in one coarse color cell; photographs spread
    * it): every decoded pixel quantizes to a 4×4×4 RGB cell
    * (`(r div 64)·16 + (g div 64)·4 + (b div 64)`), and each image
    * reports its argmax cell (ties → lowest cell id), that cell's
    * pixel count, and how many distinct cells the raster touches.
    * The oracle replays the gradient-raster formula per pixel, so
    * the encode → inflate → decode → quantize → argmax path is
    * hash-gated despite the real codec. Scale shape: identical to
    * [[imageHistogram]] — decode and the 64-cell fold live inside
    * the partition; ONE row per image leaves; no keyed exchange. */
  def imageDominantColor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) => (id, encodePng(seed)) })
      .mapPartitions(_.map { case (id, png) =>
        val img = readPng(png)
        val counts = new Array[Long](64)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val cell = ((rgb >> 16) & 0xFF) / 64 * 16 +
              ((rgb >> 8) & 0xFF) / 64 * 4 + (rgb & 0xFF) / 64
            counts(cell) += 1L
            x += 1
          }
          y += 1
        }
        var dom = 0; var cells = 0L; var i = 0
        while (i < 64) {
          if (counts(i) > 0L) cells += 1
          if (counts(i) > counts(dom)) dom = i
          i += 1
        }
        (id, dom.toLong, counts(dom), cells)
      })
      .toDF("doc_id", "dom_cell", "n_px_dom", "n_cells")
  }

  /** Per-pixel edge threshold for [[imageEdgeDensity]]: horizontal +
    * vertical luma gradient ≥ 64 (a quarter of the 0–255 range). */
  private[operators] val EdgeT = 64L

  /** Edge density over REAL decoded PNG pixels — the sharpness /
    * detail screen beside [[imageHistogram]]'s exposure view and
    * [[imageDominantColor]]'s palette view (blurry, blank, or
    * synthetic-flat images carry almost no gradient mass; busy
    * photographs and text screenshots carry a lot): for every
    * interior pixel the L1 luma gradient |lum(x+1,y)−lum(x,y)| +
    * |lum(x,y+1)−lum(x,y)| thresholds at [[EdgeT]], and each image
    * reports its edge-pixel count, interior size, and edge share on
    * the 2²⁰ lattice. The oracle evaluates the gradient-raster
    * formula at (x,y), (x+1,y), (x,y+1) directly — the Spark side
    * reads the DECODED raster, so a codec corruption or a
    * neighbor-indexing slip breaks the hash. Scale shape: decode +
    * gradient fold stay inside the partition (ONE row per image
    * leaves); no keyed exchange. */
  def imageEdgeDensity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) => (id, encodePng(seed)) })
      .mapPartitions(_.map { case (id, png) =>
        val img = readPng(png)
        def lum(x: Int, y: Int): Long = {
          val rgb = img.getRGB(x, y)
          (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)).toLong / 3L
        }
        var edges = 0L
        var y = 0
        while (y < img.getHeight - 1) {
          var x = 0
          while (x < img.getWidth - 1) {
            if (math.abs(lum(x + 1, y) - lum(x, y)) +
              math.abs(lum(x, y + 1) - lum(x, y)) >= EdgeT) edges += 1L
            x += 1
          }
          y += 1
        }
        val interior = (img.getWidth - 1).toLong * (img.getHeight - 1).toLong
        (id, edges, interior, edges * 1048576L / interior)
      })
      .toDF("doc_id", "n_edge_px", "n_interior_px", "edge_share_q")
  }

  /** Hamming cut threshold for [[sceneCuts]]: ≥ 9 of 16 frame bits
    * flipped between consecutive frames counts as a scene change. */
  private[operators] val CutT = 9L

  /** Scene-cut detection over the sampled frame stream — the shot
    * segmentation a video-curation pipeline runs before per-scene
    * dedup/captioning ([[frameDedup]] finds SHARED content; this
    * finds temporal BOUNDARIES): consecutive 2-byte frames compare
    * by 16-bit Hamming distance, a flip of ≥ [[CutT]] bits is a cut,
    * and each clip reports its frame count, cut count, and the
    * maximum inter-frame distance (the hardest cut). All integer
    * (xor + popcount), replayed from the md5 hex in SQL, and the
    * whole feature folds INSIDE the per-partition decode loop — one
    * row per clip leaves, no keyed exchange. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val frames = bytes.grouped(2)
          .map(ch => ((ch(0) & 0xFF) << 8) | (ch(1) & 0xFF)).toArray
        var cuts = 0L; var maxH = 0L; var i = 1
        while (i < frames.length) {
          val h = java.lang.Integer.bitCount(frames(i - 1) ^ frames(i)).toLong
          if (h >= CutT) cuts += 1L
          if (h > maxH) maxH = h
          i += 1
        }
        (id, frames.length.toLong, cuts, maxH)
      })
      .toDF("doc_id", "n_frames", "n_cuts", "max_hamming")
  }

  /** Per-quadrant raster statistics over the REAL PNG decode — the
    * tiled feature pass a vision-data pipeline runs for crop/layout
    * decisions ("which region carries the detail?") and the spatial
    * refinement of [[imageEqualize]]'s whole-raster histogram: the
    * decoded image splits into a fixed 2×2 quadrant grid
    * (qx = 2x div w — every quadrant nonempty at any w,h ≥ 2), each
    * quadrant reporting exact integral n_px / Σgray / min / max.
    * Spreads + sums only (the clusterStats rule: float means are
    * order-sensitive; these are not). PNG is lossless, so the oracle
    * replays the expected pixels from the md5 seed — a mismatch
    * means the codec, the quadrant rule, or the accumulation broke.
    * Scale shape: the 4 accumulators fold INSIDE the per-partition
    * decode loop — one narrow map, zero shuffle; 4 rows per image
    * leave the scan. */
  def imageTileStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, seed) => (id, encodePng(seed)) })
      .mapPartitions(_.flatMap { case (id, png) =>
        val img = readPng(png)
        val w = img.getWidth; val h = img.getHeight
        val n = new Array[Long](4); val s = new Array[Long](4)
        val mn = Array.fill(4)(256L); val mx = Array.fill(4)(-1L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val gray = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
            val q = (x * 2 / w) + 2 * (y * 2 / h)
            n(q) += 1L; s(q) += gray
            if (gray < mn(q)) mn(q) = gray
            if (gray > mx(q)) mx(q) = gray
            x += 1
          }
          y += 1
        }
        (0 until 4).iterator.map(q =>
          (id, (q % 2).toLong, (q / 2).toLong, n(q), s(q), mn(q), mx(q)))
      })
      .toDF("doc_id", "qx", "qy", "n_px", "sum_gray", "min_gray", "max_gray")
  }

  /** Clipping detector over the stub-decoded PCM16 clips — the
    * third audio-QC screen beside [[audioEnergy]] (amplitude) and
    * [[audioZcr]] (spectral proxy): samples at |s| ≥ 30000 sit in
    * the clip zone, and CONSECUTIVE clipped samples are the
    * distortion signature a recording pipeline quarantines on (one
    * hot sample is a transient; a run is a flattened waveform). Per
    * clip: sample count, clipped count, longest clipped RUN (the
    * gaps-and-islands fold, run inside the decode closure), and the
    * quarantine flag at ≥ 2 clipped samples. The oracle re-derives
    * every sample from the md5 hex and replays the run length via
    * the si − row_number island key. Scale shape: whole feature
    * folds inside the per-partition decode loop — zero shuffle, 5
    * longs per clip out. */
  def audioClipDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .map { case (id, samples) =>
        val clip = samples.map(s => math.abs(s) >= 30000)
        var run = 0L; var maxRun = 0L
        clip.foreach { c =>
          if (c) { run += 1L; if (run > maxRun) maxRun = run } else run = 0L
        }
        val nc = clip.count(identity).toLong
        (id, samples.length.toLong, nc, maxRun, if (nc >= 2L) 1L else 0L)
      }
      .toDF("doc_id", "n_samples", "n_clipped", "max_clip_run", "clip_flag")
  }

  /** Normalization-gain plan per clip — the step an audio pipeline
    * computes before loudness-normalizing a corpus ([[audioEnergy]]
    * measures; this PLANS the fix): target peak 30000 (just under
    * the [[audioClipDetect]] clip zone), gain on the 2²⁰ lattice
    * gain_q = (30000·2²⁰) div peak — >2²⁰ means amplify, <2²⁰
    * attenuate; all-zero clips are flagged silent and get gain 0
    * (amplifying silence is the classic normalize bug). The
    * headroom column reports how far the gained peak lands under
    * the clip zone after the TRUNCATING gain replay — both engines
    * truncate identically, so the planned peak is exact. Zero
    * shuffle: the whole plan folds inside the decode closure. */
  def audioGainPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), unhex(md5(col("text").cast("binary"))).as("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(audioDecodeStub)
      .map { case (id, samples) =>
        val peak = if (samples.isEmpty) 0L else samples.map(s => math.abs(s.toLong)).max
        val silent = if (peak == 0L) 1L else 0L
        val gain = if (peak == 0L) 0L else (30000L * 1048576L) / peak
        val planned = (peak * gain) / 1048576L
        (id, peak, gain, planned, silent)
      }
      .toDF("doc_id", "peak_abs", "gain_q", "planned_peak", "silent")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "image_tile_stats"    -> imageTileStats,
    "audio_clip_detect"   -> audioClipDetect,
    "audio_gain_plan"     -> audioGainPlan,
    "multimodal_meta"     -> multimodalMeta,
    "scene_cuts"          -> sceneCuts,
    "audio_zcr"           -> audioZcr,
    "audio_resample"      -> audioResample,
    "image_dominant_color" -> imageDominantColor,
    "image_edge_density"  -> imageEdgeDensity,
    "multimodal_frames"   -> multimodalFrames,
    "multimodal_resize"   -> multimodalResized,
    "multimodal_feat_agg" -> multimodalFeatAggExact,
    "multimodal_png"      -> multimodalPng,
    "multimodal_phash"    -> multimodalPhash,
    "phash_dedup"         -> phashDedup,
    "multimodal_thumb"    -> multimodalThumb,
    "frame_dedup"         -> frameDedup,
    "audio_energy"        -> audioEnergy,
    "audio_vad"           -> audioVad,
    "audio_wht"           -> audioWht,
    "image_equalize"      -> imageEqualize,
    "image_histogram"     -> imageHistogram)

  /** aHash replay: sampled source coords are integer div, gray is
    * the (r+g+b)//3 of the gradient at those coords, mean is the
    * truncating 64-sample mean, bits pack into two 32-bit halves.
    * Shared verbatim by the phash oracle and the near-dup join's. */
  private def phashReplaySql: String =
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id, w, h, xs.x, ys.y,
        |    (xs.x * w) // 8 AS sx, (ys.y * h) // 8 AS sy, b2, b3, b4
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(8)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(8)) AS y) ys),
        |g AS (
        |  SELECT doc_id, w, h, x, y,
        |    ((sx*7 + sy*13 + b2) % 256 + (sx*11 + sy*3 + b3) % 256
        |     + (sx*5 + sy*17 + b4) % 256) // 3 AS gray
        |  FROM px),
        |m AS (SELECT doc_id, CAST(sum(gray) // 64 AS BIGINT) AS mean FROM g GROUP BY doc_id)
        |SELECT g.doc_id, CAST(max(g.w) AS BIGINT) AS width, CAST(max(g.h) AS BIGINT) AS height,
        |  CAST(coalesce(sum(CASE WHEN gray > mean AND y*8 + x < 32
        |        THEN CAST(1 AS BIGINT) << (y*8 + x) ELSE 0 END), 0) AS BIGINT) AS phash_lo,
        |  CAST(coalesce(sum(CASE WHEN gray > mean AND y*8 + x >= 32
        |        THEN CAST(1 AS BIGINT) << (y*8 + x - 32) ELSE 0 END), 0) AS BIGINT) AS phash_hi,
        |  m.mean AS mean_gray
        |FROM g JOIN m USING (doc_id) GROUP BY g.doc_id, m.mean""".stripMargin

  val oracles: Map[String, String] = Map(
    // the image_equalize px CTE extended with quadrant keys — the
    // lossless-PNG replay gates codec + quadrant rule + accumulation
    "image_tile_stats" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id,
        |    CAST(xs.x * 2 // d.w AS BIGINT) AS qx,
        |    CAST(ys.y * 2 // d.h AS BIGINT) AS qy,
        |    CAST((((xs.x*7 + ys.y*13 + b2) % 256 + (xs.x*11 + ys.y*3 + b3) % 256
        |      + (xs.x*5 + ys.y*17 + b4) % 256) // 3) AS BIGINT) AS gray
        |  FROM d
        |  JOIN (SELECT unnest(range(20)) AS x) xs ON xs.x < d.w
        |  JOIN (SELECT unnest(range(20)) AS y) ys ON ys.y < d.h)
        |SELECT doc_id, qx, qy, count(*) AS n_px,
        |  CAST(sum(gray) AS BIGINT) AS sum_gray,
        |  CAST(min(gray) AS BIGINT) AS min_gray,
        |  CAST(max(gray) AS BIGINT) AS max_gray
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    // sample CTE shared verbatim with audio_energy; gain and the
    // planned peak replay the same truncating lattice
    "audio_gain_plan" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x),
        |p AS (SELECT doc_id, CAST(max(abs(smp)) AS BIGINT) AS peak FROM s GROUP BY 1)
        |SELECT doc_id, peak AS peak_abs,
        |  CAST(CASE WHEN peak = 0 THEN 0
        |       ELSE (CAST(30000 AS BIGINT) * 1048576) // peak END AS BIGINT) AS gain_q,
        |  CAST(CASE WHEN peak = 0 THEN 0
        |       ELSE (peak * ((CAST(30000 AS BIGINT) * 1048576) // peak)) // 1048576 END AS BIGINT) AS planned_peak,
        |  CAST(CASE WHEN peak = 0 THEN 1 ELSE 0 END AS BIGINT) AS silent
        |FROM p""".stripMargin,
    // sample CTE shared verbatim with audio_energy; runs via the
    // si - row_number island key over clipped samples only
    "audio_clip_detect" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x),
        |c AS (SELECT doc_id, si FROM s WHERE abs(smp) >= 30000),
        |r AS (SELECT doc_id,
        |        si - row_number() OVER (PARTITION BY doc_id ORDER BY si ASC) AS grp
        |      FROM c),
        |runs AS (SELECT doc_id, count(*) AS rl FROM r GROUP BY doc_id, grp),
        |mr AS (SELECT doc_id, max(rl) AS max_run FROM runs GROUP BY 1),
        |base AS (
        |  SELECT doc_id, count(*) AS n_samples,
        |    CAST(sum(CASE WHEN abs(smp) >= 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |  FROM s GROUP BY 1)
        |SELECT b.doc_id, b.n_samples, b.n_clipped,
        |  CAST(coalesce(mr.max_run, 0) AS BIGINT) AS max_clip_run,
        |  CAST(CASE WHEN b.n_clipped >= 2 THEN 1 ELSE 0 END AS BIGINT) AS clip_flag
        |FROM base b LEFT JOIN mr ON b.doc_id = mr.doc_id""".stripMargin,
    "multimodal_phash" -> phashReplaySql,
    // banding + exact hamming over the SAME phash replay (derived
    // table) — band membership and the ≤6 threshold all integral
    "phash_dedup" ->
      s"""WITH p AS ($phashReplaySql),
         |bands AS (
         |  SELECT doc_id, phash_lo, phash_hi, k.k,
         |    CASE WHEN k.k < 4 THEN (phash_lo >> (8*k.k)) & 255
         |         ELSE (phash_hi >> (8*(k.k-4))) & 255 END AS bv
         |  FROM p CROSS JOIN (SELECT unnest(range(8)) AS k) k),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(bit_count(xor(pa.phash_lo, pb.phash_lo))
         |     + bit_count(xor(pa.phash_hi, pb.phash_hi)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN p pa ON pa.doc_id = c.doc_a
         |JOIN p pb ON pb.doc_id = c.doc_b
         |WHERE bit_count(xor(pa.phash_lo, pb.phash_lo))
         |    + bit_count(xor(pa.phash_hi, pb.phash_hi)) <= 6""".stripMargin,
    // the EXPECTED decode output of the lossless codec round trip:
    // dimensions + the Σ(r+g+b) gradient sum, all from md5 bytes. A
    // mismatch = ImageIO corrupted at least one pixel.
    "multimodal_png" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id, w, h, b2, b3, b4, xs.x, ys.y
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(20)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(20)) AS y) ys
        |  WHERE xs.x < w AND ys.y < h)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum((x*7 + y*13 + b2) % 256 + (x*11 + y*3 + b3) % 256
        |           + (x*5 + y*17 + b4) % 256) AS BIGINT) AS sum_rgb
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    // the thumbnail replay: every 4×4 output pixel's SOURCE coords are
    // integer division, so the gradient formula evaluates at exactly
    // the pixels nearest-neighbor sampled — two lossless codec round
    // trips in between must preserve them all
    "multimodal_thumb" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id, w, h, b2, b3, b4,
        |    (xs.x * w) // 4 AS sx, (ys.y * h) // 4 AS sy
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(4)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(4)) AS y) ys)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(4 AS BIGINT) AS thumb_w, CAST(4 AS BIGINT) AS thumb_h,
        |  CAST(sum((sx*7 + sy*13 + b2) % 256 + (sx*11 + sy*3 + b3) % 256
        |           + (sx*5 + sy*17 + b4) % 256) AS BIGINT) AS thumb_sum
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    // each PCM16 sample is 4 md5 hex chars (big-endian, signed):
    // the full binary → sample → frame → energy path replays in SQL
    // per-pixel gradient replay (shared formula), per-image cdf via
    // a keyed window, the integer remap rule, then both variance
    // numerators from the (gray, g2, c) histogram relation
    "image_equalize" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id,
        |    CAST((((xs.x*7 + ys.y*13 + b2) % 256 + (xs.x*11 + ys.y*3 + b3) % 256
        |      + (xs.x*5 + ys.y*17 + b4) % 256) // 3) AS BIGINT) AS gray
        |  FROM d
        |  JOIN (SELECT unnest(range(20)) AS x) xs ON xs.x < d.w
        |  JOIN (SELECT unnest(range(20)) AS y) ys ON ys.y < d.h),
        |hh AS (SELECT doc_id, gray, count(*) AS c FROM px GROUP BY 1, 2),
        |cd AS (SELECT doc_id, gray, c,
        |         sum(c) OVER (PARTITION BY doc_id ORDER BY gray ASC
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
        |       FROM hh),
        |st AS (SELECT doc_id, min(cdf) AS cdfmin, max(cdf) AS npx,
        |         CAST(count(*) AS BIGINT) AS n_gray
        |       FROM cd GROUP BY 1),
        |mp AS (SELECT cd.doc_id, cd.gray, cd.c, st.npx, st.n_gray,
        |         CASE WHEN st.npx > st.cdfmin
        |              THEN ((cd.cdf - st.cdfmin) * 255) // (st.npx - st.cdfmin)
        |              ELSE 0 END AS g2
        |       FROM cd JOIN st USING (doc_id))
        |SELECT doc_id, CAST(max(npx) AS BIGINT) AS n_px, max(n_gray) AS n_gray,
        |  CAST(max(npx) * sum(c * gray * gray) - sum(c * gray) * sum(c * gray) AS BIGINT) AS var_num_before,
        |  CAST(max(npx) * sum(c * g2 * g2) - sum(c * g2) * sum(c * g2) AS BIGINT) AS var_num_after
        |FROM mp GROUP BY doc_id""".stripMargin,
    "image_histogram" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id,
        |    (((xs.x*7 + ys.y*13 + b2) % 256 + (xs.x*11 + ys.y*3 + b3) % 256
        |      + (xs.x*5 + ys.y*17 + b4) % 256) // 3) // 16 AS bucket
        |  FROM d
        |  JOIN (SELECT unnest(range(20)) AS x) xs ON xs.x < d.w
        |  JOIN (SELECT unnest(range(20)) AS y) ys ON ys.y < d.h)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_px
        |FROM px GROUP BY 1, 2""".stripMargin,
    "audio_vad" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x),
        |voiced AS (
        |  SELECT doc_id, si,
        |    si - row_number() OVER (PARTITION BY doc_id ORDER BY si) AS grp
        |  FROM s WHERE abs(smp) >= 8192),
        |seg AS (SELECT doc_id, grp, count(*) AS len
        |        FROM voiced GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_voiced,
        |          count(*) AS n_segments, CAST(max(len) AS BIGINT) AS longest_run
        |        FROM seg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(a.n_voiced, 0) AS n_voiced,
        |  coalesce(a.n_segments, 0) AS n_segments,
        |  coalesce(a.longest_run, 0) AS longest_run
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    "audio_energy" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x)
        |SELECT doc_id, CAST(si // 4 AS BIGINT) AS frame_idx,
        |  count(*) AS n_samples,
        |  CAST(sum(smp * smp) AS BIGINT) AS energy,
        |  CAST(max(abs(smp)) AS BIGINT) AS peak_abs
        |FROM s GROUP BY doc_id, si // 4""".stripMargin,
    // 8 2-byte frames from the md5 hex; cut = popcount(xor) >= CutT
    // between consecutive frames
    "scene_cuts" ->
      s"""WITH f AS (
         |  SELECT doc_id, i,
         |    CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v
         |  FROM documents, generate_series(0, 7) AS t(i)),
         |p AS (SELECT doc_id, v,
         |        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |      FROM f)
         |SELECT doc_id, count(*) AS n_frames,
         |  CAST(sum(CASE WHEN prev IS NOT NULL
         |                 AND bit_count(xor(CAST(prev AS BIGINT), CAST(v AS BIGINT))) >= $CutT
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(coalesce(max(CASE WHEN prev IS NOT NULL
         |         THEN bit_count(xor(CAST(prev AS BIGINT), CAST(v AS BIGINT))) END), 0) AS BIGINT) AS max_hamming
         |FROM p GROUP BY doc_id""".stripMargin,
    // sample derivation shared verbatim with audio_energy's s CTE;
    // a crossing is a strictly negative lag product (zeros break
    // runs without counting), rate on the 2^20 lattice over pairs
    "audio_zcr" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x),
        |p AS (SELECT doc_id, smp,
        |        lag(smp) OVER (PARTITION BY doc_id ORDER BY si) AS prev
        |      FROM s)
        |SELECT doc_id, count(*) AS n_samples,
        |  CAST(sum(CASE WHEN smp <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonzero,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev * smp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zc,
        |  CAST((CAST(sum(CASE WHEN prev IS NOT NULL AND prev * smp < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |        * 1048576) // greatest(count(*) - 1, 1) AS BIGINT) AS zcr_q
        |FROM p GROUP BY doc_id""".stripMargin,
    // sample CTE shared verbatim with audio_energy; the FIR taps ride
    // lag/lead with edge clamp; integer `//` truncates toward zero
    // exactly like the Scala side's Long division (spec-pinned)
    "audio_resample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x),
        |w AS (SELECT doc_id, si, smp,
        |        lag(smp) OVER (PARTITION BY doc_id ORDER BY si) AS pr,
        |        lead(smp) OVER (PARTITION BY doc_id ORDER BY si) AS nx
        |      FROM s),
        |y AS (SELECT doc_id, si // 2 AS j,
        |        (coalesce(pr, smp) + 2 * smp + coalesce(nx, smp)) // 4 AS yv
        |      FROM w WHERE si % 2 = 0),
        |n AS (SELECT doc_id, count(*) AS n_in FROM s GROUP BY 1)
        |SELECT y.doc_id, n.n_in, count(*) AS n_out,
        |  CAST(sum(abs(yv)) AS BIGINT) AS sum_abs_out,
        |  CAST(max(abs(yv)) AS BIGINT) AS peak_out,
        |  CAST(sum((j + 1) * yv) AS BIGINT) AS chk
        |FROM y JOIN n ON n.doc_id = y.doc_id
        |GROUP BY y.doc_id, n.n_in""".stripMargin,
    // sample CTE shared verbatim with audio_energy; X_k's sign is
    // the parity of popcount(k AND n) — the Hadamard matrix in
    // natural order, all arithmetic BIGINT
    "audio_wht" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(i AS BIGINT) AS si,
        |    CAST(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS BIGINT) AS smp
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(text), i*4 + 1, 4) AS INTEGER) AS v, i
        |        FROM documents, generate_series(0, 7) AS t(i)) x),
        |co AS (SELECT doc_id, CAST(k AS BIGINT) AS k,
        |         CAST(sum(CASE WHEN bit_count(CAST(k AS BIGINT) & si) % 2 = 0
        |                       THEN smp ELSE -smp END) AS BIGINT) AS c
        |       FROM s CROSS JOIN generate_series(0, 7) AS tk(k)
        |       GROUP BY 1, 2),
        |dom AS (SELECT doc_id, k, abs(c) AS a FROM (
        |          SELECT doc_id, k, c,
        |            row_number() OVER (PARTITION BY doc_id ORDER BY abs(c) DESC, k ASC) AS rk
        |          FROM co WHERE k >= 1) t WHERE rk = 1)
        |SELECT co.doc_id,
        |  CAST(max(CASE WHEN co.k = 0 THEN co.c END) AS BIGINT) AS dc,
        |  CAST(max(dom.k) AS BIGINT) AS dom_seq,
        |  CAST(max(dom.a) AS BIGINT) AS dom_abs,
        |  CAST(sum(co.c * co.c) AS BIGINT) AS spec_energy
        |FROM co JOIN dom ON dom.doc_id = co.doc_id
        |GROUP BY co.doc_id""".stripMargin,
    // gradient-formula luma at (x,y), (x+1,y), (x,y+1) — the oracle
    // never touches the codec; the engine side must decode back to
    // exactly these values
    "image_edge_density" -> {
      def lum(xe: String, ye: String): String =
        s"(((($xe)*7 + ($ye)*13 + b2) % 256 + (($xe)*11 + ($ye)*3 + b3) % 256" +
          s" + (($xe)*5 + ($ye)*17 + b4) % 256) // 3)"
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
         |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
         |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
         |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
         |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
         |  FROM documents),
         |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
         |px AS (
         |  SELECT doc_id, w, h,
         |    CASE WHEN abs(${lum("xs.x + 1", "ys.y")} - ${lum("xs.x", "ys.y")})
         |            + abs(${lum("xs.x", "ys.y + 1")} - ${lum("xs.x", "ys.y")}) >= $EdgeT
         |         THEN 1 ELSE 0 END AS is_edge
         |  FROM d
         |  CROSS JOIN (SELECT unnest(range(19)) AS x) xs
         |  CROSS JOIN (SELECT unnest(range(19)) AS y) ys
         |  WHERE xs.x < w - 1 AND ys.y < h - 1)
         |SELECT doc_id, CAST(sum(is_edge) AS BIGINT) AS n_edge_px,
         |  count(*) AS n_interior_px,
         |  CAST((CAST(sum(is_edge) AS BIGINT) * 1048576) // count(*) AS BIGINT) AS edge_share_q
         |FROM px GROUP BY doc_id""".stripMargin
    },
    // per-pixel gradient replay (the multimodal_png px CTE) quantized
    // to 4x4x4 RGB cells; argmax by (count DESC, cell ASC)
    "image_dominant_color" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS b0,
        |    CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) AS b1,
        |    CAST('0x' || substr(md5(text), 5, 2) AS INTEGER) AS b2,
        |    CAST('0x' || substr(md5(text), 7, 2) AS INTEGER) AS b3,
        |    CAST('0x' || substr(md5(text), 9, 2) AS INTEGER) AS b4
        |  FROM documents),
        |d AS (SELECT doc_id, 4 + b0 % 16 AS w, 4 + b1 % 16 AS h, b2, b3, b4 FROM b),
        |px AS (
        |  SELECT doc_id,
        |    ((xs.x*7 + ys.y*13 + b2) % 256) // 64 * 16
        |      + ((xs.x*11 + ys.y*3 + b3) % 256) // 64 * 4
        |      + ((xs.x*5 + ys.y*17 + b4) % 256) // 64 AS cell
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(20)) AS x) xs
        |  CROSS JOIN (SELECT unnest(range(20)) AS y) ys
        |  WHERE xs.x < w AND ys.y < h),
        |c AS (SELECT doc_id, cell, count(*) AS n FROM px GROUP BY 1, 2),
        |r AS (SELECT doc_id, cell, n,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cell ASC) AS rn,
        |        count(*) OVER (PARTITION BY doc_id) AS n_cells
        |      FROM c)
        |SELECT doc_id, CAST(cell AS BIGINT) AS dom_cell,
        |  CAST(n AS BIGINT) AS n_px_dom, CAST(n_cells AS BIGINT) AS n_cells
        |FROM r WHERE rn = 1""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(16 AS BIGINT) AS media_len,
        |  CAST(64 + CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) % 128 AS BIGINT) AS width,
        |  CAST(64 + CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) % 128 AS BIGINT) AS height
        |FROM documents""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(i*4 AS BIGINT) AS frame_off
        |FROM documents, generate_series(0, 3) AS t(i)""".stripMargin,
    // feature pos i reads digest byte i (16-byte payload, 8 features
    // ⇒ no wraparound); width derives from byte 0 like the meta oracle
    "multimodal_feat_agg" ->
      """SELECT CAST(width AS BIGINT) AS width, CAST(pos AS BIGINT) AS pos,
        |  CAST(sum(b) AS BIGINT) AS sum_byte, count(*) AS n,
        |  (CAST(sum(b) AS BIGINT) * 1000000000) // (255 * count(*)) AS mean_feat_e9
        |FROM (
        |  SELECT 64 + CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) % 128 AS width,
        |         p.pos AS pos,
        |         CAST('0x' || substr(md5(text), 2*p.pos + 1, 2) AS INTEGER) AS b
        |  FROM documents CROSS JOIN (SELECT unnest(range(8)) AS pos) p) t
        |GROUP BY 1, 2""".stripMargin,
    // frame i of the 16-byte digest payload is hex chars [4i+1, 4i+4];
    // only frames shared by >1 distinct doc survive
    "frame_dedup" ->
      """SELECT substr(md5(text), i*4 + 1, 4) AS frame_hex,
        |  count(*) AS n_frames,
        |  count(DISTINCT doc_id) AS n_docs,
        |  min(doc_id) AS min_doc,
        |  max(doc_id) AS max_doc
        |FROM documents, generate_series(0, 7) AS t(i)
        |GROUP BY 1
        |HAVING count(DISTINCT doc_id) > 1""".stripMargin,
    // resize halves BOTH dims while EITHER exceeds 96 (aspect-ratio
    // preserving); one halving always suffices since max dim is 191
    "multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN w > 96 OR h > 96 THEN w // 2 ELSE w END AS BIGINT) AS width,
        |  CAST(CASE WHEN w > 96 OR h > 96 THEN h // 2 ELSE h END AS BIGINT) AS height
        |FROM (SELECT doc_id,
        |        64 + CAST('0x' || substr(md5(text),1,2) AS INTEGER) % 128 AS w,
        |        64 + CAST('0x' || substr(md5(text),3,2) AS INTEGER) % 128 AS h
        |      FROM documents) t""".stripMargin)
}

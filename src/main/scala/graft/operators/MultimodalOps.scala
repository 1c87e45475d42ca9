package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import javax.imageio.ImageIO

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: images/audio/video as opaque `binary`
  * columns with typed metadata, plus REAL decode / feature-extract /
  * resize / frame-sample kernels built on the JDK's own codecs
  * (`javax.imageio` PNG — no external deps).
  *
  * Batch shape: every kernel is `mapPartitions` (one iterator per task,
  * the Scala analog of `mapInPandas` batches) so a heavyweight codec is
  * initialized once per partition, never per row. Per-row failures are
  * isolated with `Try` — one corrupt blob never kills a 100 TB scan task
  * (mirrors the reference's per-row parse isolation,
  * `/root/reference/src/irdai_scraper/parser.py` row loop).
  *
  * Scale notes: blobs never pass through a shuffle in these operators —
  * decode/resize are narrow map stages over the scan, and only compact
  * feature rows (dims + channel means, ~40 bytes) flow downstream. At
  * 100 TB the scan parallelism (`spark.sql.files.maxPartitionBytes`)
  * alone governs memory; no operator here accumulates more than one
  * decoded frame at a time.
  */
object MultimodalOps {

  /** Typed metadata carried alongside every blob. */
  case class MediaMeta(mediaType: String, byteLen: Long, width: Int, height: Int,
                       sampleRateHz: Int, durationMs: Long)

  case class MediaRow(mediaId: Long, content: Array[Byte], meta: MediaMeta)

  /** An opaque encoded image blob. Decode-side operators derive ALL
    * facts from the bytes — nothing is trusted from upstream metadata.
    */
  case class ImageRow(mediaId: Long, content: Array[Byte])

  /** Decoded-image features: dimensions and per-channel means, computed
    * from the actual pixel raster.
    */
  case class DecodedImage(mediaId: Long, width: Int, height: Int,
                          meanR: Double, meanG: Double, meanB: Double)

  // ---------------------------------------------------------------------
  // Deterministic synthetic media (test fixtures the oracle can predict)
  // ---------------------------------------------------------------------

  /** ImageIO defaults to DISK-backed stream caches — one temp file per
    * encode/decode. In-memory caching is strictly better for our
    * byte-array round trips; applied lazily once per JVM (executor).
    */
  private lazy val imageIoInMemory: Unit = ImageIO.setUseCache(false)

  /** The id projection every blob generator maps over, SPREAD across the
    * session's cores when the upstream scan under-parallelizes it
    * ([[KernelSpread]]: a single-row-group parquet file plans as ONE
    * task, which serialized every ImageIO encode/decode in these
    * fixtures onto one core). The exchange this may insert carries ONLY
    * the 8-byte ids — blobs are generated AFTER it, so the
    * blobs-never-shuffle rule is intact; on a production-layout table
    * (scan partitions >= cores) it inserts nothing.
    */
  private def genIds(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[Long] = {
    import spark.implicits._
    KernelSpread.spread(docs.select(col(idCol).cast("long")).as[Long])
  }

  /** Unspread id projection for the CHEAP generators (WAV synthesis and
    * parsing are memcpy-scale — the round-17 full-bench measurement put
    * the audio family +19-37% WITH the spread exchange, while the
    * PNG-codec-backed tables won 2-4× with it; the exchange only pays
    * when the kernel is expensive).
    */
  private def genIdsNarrow(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[Long] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
  }

  /** Channel values for a seed — the ONLY place the fill color is defined;
    * oracle SQL mirrors these three affine formulas.
    */
  private[graft] def channels(seed: Long): (Int, Int, Int) =
    (((seed * 3 + 7)  % 256).toInt,
     ((seed * 5 + 11) % 256).toInt,
     ((seed * 7 + 13) % 256).toInt)

  /** A real PNG: `BufferedImage` filled with a seed-derived solid color,
    * encoded through `ImageIO`. Solid fill keeps every decoded statistic
    * (dims, channel means) exactly reproducible in SQL while the engine
    * still exercises a genuine PNG encode/decode round trip.
    */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    imageIoInMemory
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val (r, g, b) = channels(seed)
    val gfx = img.createGraphics()
    gfx.setColor(new java.awt.Color(r, g, b))
    gfx.fillRect(0, 0, w, h)
    gfx.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic image dims for an id (small: fixtures stay cheap). */
  private[graft] def dimsFor(id: Long): (Int, Int) =
    ((id % 24 + 8).toInt, (id % 16 + 8).toInt)

  /** Synthesize an image table from an id column: one real PNG per row,
    * generated ON THE EXECUTORS (the driver never sees a blob). Stands in
    * for `spark.read.format("binaryFile")` in this container.
    */
  def asImageTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map { id =>
        val (w, h) = dimsFor(id)
        ImageRow(id, syntheticPng(id, w, h))
      }
    }
  }

  /** 8-bit pattern mixer behind the gradient fixtures — the ONLY place
    * the row patterns are defined; oracle SQL mirrors it with `w = v %
    * 999983` then `(w³ mod 999983 · 69069) mod 999983 mod 256`. Two
    * properties matter and were both MEASURED (round 13): the cubic
    * makes it NON-affine — the first version (`(v·M)>>7 & 0xFF`) was
    * affine in v, so consecutive families produced correlated row
    * patterns and 500k images collapsed onto 5,760 distinct hashes
    * (597M candidate pairs, a degenerate near-dup corpus); the cubic
    * yields 499,982 distinct hashes and 1.5M candidates on the same
    * ids. And every intermediate stays below 10¹² — wrap-free in
    * DuckDB's overflow-checked BIGINT arithmetic for ANY doc id, where
    * a 64-bit multiply would error (the oracle's engine does not wrap).
    */
  private[graft] def mix8(v: Long): Int = {
    val p = 999983L
    val w = v % p
    ((((w * w % p) * w % p) * 69069L % p) % 256L).toInt
  }

  /** A real PNG with SPATIAL STRUCTURE for perceptual hashing: 9×8
    * grayscale, each row a luminance walk from 128 stepping ±8 per
    * column so the horizontal gradient directions — exactly what a
    * dHash reads — encode a deterministic 8-bit pattern per row.
    * Rows 0–6 depend only on `id / 3` (the planted near-dup family);
    * row 7 XORs in `id % 3`, so the three family members' 64-bit
    * hashes differ by 1–2 bits: true near-duplicates, resolvable in
    * closed form by the oracle. A solid fill (syntheticPng) would
    * dHash to all-zeros — structurally useless for this operator.
    */
  def syntheticGradientPng(id: Long): Array[Byte] = {
    val family = id / 3
    val variant = (id % 3).toInt
    gradientPng(y => mix8(family * 8 + y) ^ (if (y == 7) variant else 0))
  }

  /** The shared 9×8 gradient painter: row y's luminance walk encodes
    * `rowBits(y)` as gradient DIRECTIONS (start 128, step ±8 per
    * column), so a dHash of the decoded raster reads back exactly those
    * 8 bits per row. [[syntheticGradientPng]] (images, q256 family) and
    * [[syntheticVideoFamily]] (video frames, q263 family) are both this
    * painter under different row-bit formulas.
    */
  private[graft] def gradientPng(rowBits: Int => Int): Array[Byte] = {
    imageIoInMemory
    val img = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      val bits = rowBits(y)
      var lum = 128
      img.setRGB(0, y, (lum << 16) | (lum << 8) | lum)
      var x = 0
      while (x < 8) {
        lum += (if (((bits >> x) & 1) == 1) 8 else -8) // range stays [64, 192]
        img.setRGB(x + 1, y, (lum << 16) | (lum << 8) | lum)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Gradient-image table for the perceptual-hash family (executors
    * generate the blobs, the driver never sees one — same contract as
    * [[asImageTable]]).
    */
  def asGradientImageTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticGradientPng(id)))
    }
  }

  /** One image's dHash, split into four 16-bit bands (kept as 4 ints
    * instead of one packed long: band values are the LSH join keys
    * downstream, and 16-bit ints sidestep the sign bit a 64-bit pack
    * would hit — DuckDB and the JVM disagree on nothing this way).
    */
  case class ImageHash(mediaId: Long, band0: Int, band1: Int, band2: Int, band3: Int)

  // ---------------------------------------------------------------------
  // Real image kernels (javax.imageio)
  // ---------------------------------------------------------------------

  private def readImage(bytes: Array[Byte]): Option[BufferedImage] = {
    imageIoInMemory
    Try(Option(ImageIO.read(new ByteArrayInputStream(bytes)))).toOption.flatten
  }

  /** Per-channel means over the actual raster. */
  private def imageStats(mediaId: Long, img: BufferedImage): DecodedImage = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    DecodedImage(mediaId, w, h, sr / n, sg / n, sb / n)
  }

  /** REAL DECODE: `ImageIO.read` on the blob bytes; emits dimensions and
    * per-channel means from the decoded raster. Undecodable blobs are
    * dropped (per-row `Try` isolation), never fail the task.
    */
  def decodeImages(images: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[DecodedImage] = {
    import spark.implicits._
    images.mapPartitions { it =>
      it.flatMap(row => readImage(row.content).map(imageStats(row.mediaId, _)))
    }
  }

  /** REAL PERCEPTUAL HASH (dHash): decode the blob, read the 9×8 raster,
    * and set bit (y·8 + x) when luminance increases left→right —
    * classic difference hashing, robust to uniform brightness shifts
    * because only gradient DIRECTIONS are kept. Emitted as four 16-bit
    * bands (rows 2b, 2b+1 → band b) — the LSH banding for the Hamming
    * join in [[imageNearDups]]. Blobs ≥ 9×8 are hashed on their
    * top-left window; smaller or undecodable blobs are dropped
    * (per-row isolation, never a failed task). Scale shape: the hash
    * is computed SCAN-SIDE in one pass over the blob — only
    * (id, 4 ints) ever shuffles, the 100 TB rule for multimodal
    * columns (blobs never shuffle).
    */
  def imageDHash(images: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    images.mapPartitions { it =>
      it.flatMap { row =>
        dHashBands(row.content).map(b => ImageHash(row.mediaId, b(0), b(1), b(2), b(3)))
      }
    }
  }

  /** One blob's dHash as the four 16-bit bands (None for undecodable or
    * sub-9×8 blobs) — the per-image kernel [[imageDHash]] maps over the
    * scan and [[videoFingerprint]] applies per FRAME.
    */
  private[graft] def dHashBands(bytes: Array[Byte]): Option[Array[Int]] =
    readImage(bytes).filter(i => i.getWidth >= 9 && i.getHeight >= 8).map { img =>
      def lum(x: Int, y: Int): Int = img.getRGB(x, y) & 0xFF
      val bands = new Array[Int](4)
      var y = 0
      while (y < 8) {
        var rowBits = 0
        var x = 0
        while (x < 8) {
          if (lum(x + 1, y) > lum(x, y)) rowBits |= 1 << x
          x += 1
        }
        bands(y / 2) |= rowBits << (8 * (y % 2))
        y += 1
      }
      bands
    }

  /** REAL HORIZONTAL FLIP: decode, mirror the raster column-wise,
    * re-encode PNG — the fixture-side twin of a mirrored re-upload
    * (same real-image-op precedent as [[resizeImages]]).
    */
  private[graft] def flipHorizontal(bytes: Array[Byte]): Array[Byte] = {
    imageIoInMemory
    val img = readImage(bytes).getOrElse(sys.error("flipHorizontal: undecodable"))
    val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        out.setRGB(img.getWidth - 1 - x, y, img.getRGB(x, y))
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Both orientations' dHash bands from ONE raster pass: `_1` is the
    * image's own dHash, `_2` the dHash its horizontal mirror would
    * produce — read off the same pixels by index reflection
    * (`flipped(x) = orig(W−1−x)`), never by materializing a second
    * image. None for undecodable or sub-9×8 blobs.
    */
  private[graft] def dHashOrientedBands(bytes: Array[Byte]): Option[(Array[Int], Array[Int])] =
    readImage(bytes).filter(i => i.getWidth >= 9 && i.getHeight >= 8).map { img =>
      def lum(x: Int, y: Int): Int = img.getRGB(x, y) & 0xFF
      val a = new Array[Int](4)
      val b = new Array[Int](4)
      var y = 0
      while (y < 8) {
        var rowA = 0
        var rowB = 0
        var x = 0
        while (x < 8) {
          if (lum(x + 1, y) > lum(x, y)) rowA |= 1 << x
          if (lum(7 - x, y) > lum(8 - x, y)) rowB |= 1 << x
          x += 1
        }
        a(y / 2) |= rowA << (8 * (y % 2))
        b(y / 2) |= rowB << (8 * (y % 2))
        y += 1
      }
      (a, b)
    }

  /** ORIENTATION-CANONICAL dHash: a horizontally mirrored re-upload
    * (profile shots, product images, meme flips) produces a dHash that
    * differs from the original in up to all 64 bits — plain [[imageDHash]]
    * dedup is provably blind to it (spec-pinned). The canonical hash is
    * the lexicographically smaller of the image's own dHash and its
    * mirror's dHash (both read off ONE raster pass): since
    * mirror(mirror(h)) = h, an image and its flip reach the SAME
    * canonical value by construction, so exact grouping — and every
    * downstream LSH consumer — becomes orientation-invariant for free.
    * The dihedral trick classic perceptual-hash pipelines apply, kept
    * to the horizontal flip (the only orientation a web re-upload
    * commonly takes). Scale shape identical to [[imageDHash]]:
    * scan-side, only (id, 4 ints) shuffles.
    */
  def imageDHashCanonical(images: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    images.mapPartitions { it =>
      it.flatMap { row =>
        dHashOrientedBands(row.content).map { case (a, b) =>
          val c = if (lexLe(a, b)) a else b
          ImageHash(row.mediaId, c(0), c(1), c(2), c(3))
        }
      }
    }
  }

  /** Lexicographic ≤ over equal-length band arrays (non-negative ints —
    * the same comparison the oracle writes as nested CASEs).
    */
  private def lexLe(a: Array[Int], b: Array[Int]): Boolean = {
    var i = 0
    while (i < a.length) {
      if (a(i) < b(i)) return true
      if (a(i) > b(i)) return false
      i += 1
    }
    true
  }

  /** Gradient-image table with PLANTED MIRROR PAIRS: ids pair up
    * (`id / 2`) — the even id carries a gradient pattern of its own,
    * the odd id carries the REAL horizontal flip of its partner's PNG
    * ([[flipHorizontal]] — decoded, mirrored, re-encoded bytes). Plain
    * dHash separates every pair; [[imageDHashCanonical]] unites them.
    */
  def asMirrorImageTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map { id =>
        val base = gradientPng(y => mix8(id / 2 * 8 + y))
        ImageRow(id, if (id % 2 == 0) base else flipHorizontal(base))
      }
    }
  }

  /** IMAGE NEAR-DUP via banded Hamming LSH over [[imageDHash]] bands:
    * equi-join candidates (never an all-pairs product), then the TRUE
    * Hamming distance over all 64 bits keeps pairs within `maxDist`.
    *
    * OUTPUT IS A SPARSE CERTIFICATE of the near-dup graph, not the
    * all-pairs relation: identical 64-bit hashes are pre-grouped to
    * one representative (min id), members attach to it by STAR edges
    * at distance 0, and the band join runs over DISTINCT hashes only,
    * emitting one representative↔representative edge per close hash
    * pair. Connected components over the certificate are provably
    * identical to components over the full pair set (a full-graph edge
    * (a∈A, b∈B) maps to the path a–rep(A)–rep(B)–b), so every
    * clustering consumer — q258's SemDeDup keep-list included — gets
    * the exact answer, while output and shuffle stay LINEAR where
    * all-pairs is quadratic. A web-crawl corpus with B byte-identical
    * copies of one logo (or B solid fills — the dHash of ANY uniform
    * image is all-zeros) previously put B ids on each of its band
    * keys: ~6·B²/2 candidate rows through a distinct() on a maximally
    * skewed key. Pre-grouping admits ONE row per distinct hash to the
    * band join and emits B−1 star edges instead — the same
    * identical-content reasoning the text path applies (exact dedup
    * owns dist-0 en masse; LSH owns the near misses).
    *
    * Near-identical pileups (many DISTINCT hashes crowding one band
    * key) are the residual degenerate case, and get the text path's
    * guard verbatim ([[graft.functions.CappedList]], the
    * `DedupOps.candidatesFromBandRows` shape): each band bucket's
    * member list is hard-capped at `maxBucketSize+1` during ONE
    * partial-aggregated shuffle, overflowing buckets are detected by
    * size and dropped without ever being held, and a genuinely close
    * pair still surfaces through any of its other ≤5 intact band
    * buckets.
    *
    * BAND-KEY WIDTH is the saturation dial, and the 100× probe
    * measured it (SCALING.md): single 16-bit bands saturate — expected
    * bucket size is n/65536 per band, so candidate generation turned
    * quadratic by 500k images (q257 77.8 s at 100×). For `maxDist ≤ 2`
    * the keys are therefore PAIRS of bands (6 keys of 32 bits per
    * image): ≤2 differing bits damage at most 2 of the 4 bands, so at
    * least one band PAIR is intact — recall for distance ≤ 2 stays
    * EXACT (the post-filter output is provably identical to
    * single-band candidates ∩ the distance ball) while the key
    * alphabet grows 65536-fold, pushing saturation from ~10⁵ to ~10¹⁰
    * images. For `maxDist` 3 (3 damaged bands can leave no intact
    * pair) it falls back to single 16-bit bands, whose recall is exact
    * to distance 3; beyond that an LSH would need a longer hash.
    */
  def imageNearDups(hashes: Dataset[ImageHash], maxDist: Int = 2,
                    maxBucketSize: Int = 1000)
                   (implicit spark: SparkSession): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"exact-recall banding over a 64-bit/4-band dHash covers maxDist <= 3, got $maxDist")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val bandCols = Seq("band0", "band1", "band2", "band3")
    // The hash frame feeds the pre-grouping AND the star join, and its
    // lineage re-decodes every blob per branch; the frame itself is
    // (id, 4 ints) — the persist-when-small-vs-recompute rule
    // (measured at 100×/500k images: 51.6 → 9.8 s). Released by the
    // caller's GraftCache cycle.
    val h = graft.GraftCache.register(
      hashes.toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // One representative per DISTINCT 64-bit hash: a single shuffle
    // keyed by the hash itself (map-side partial min), the only stage
    // where a degenerate identical block concentrates — and min() state
    // is O(1) per key, so it cannot blow up.
    val groups = graft.GraftCache.register(
      h.groupBy(bandCols.map(col): _*).agg(min("mediaId").as("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // dist-0 star edges: B byte-identical images become B−1 edges.
    val starPairs = h.join(groups, bandCols)
      .where(col("mediaId") =!= col("rep"))
      .select(col("rep").as("id_a"), col("mediaId").as("id_b"),
        lit(0).as("hamming"))
    val reps = groups.select((col("rep").as("mediaId") +: bandCols.map(col)): _*)
    val exploded = reps.select(col("mediaId"),
      posexplode(array(bandKeyCols(maxDist): _*)).as(Seq("band_idx", "band_val")))
    // Capped-bucket candidate generation (the DedupOps pattern): one
    // partial-aggregated shuffle, state bounded at maxBucketSize+1,
    // overflowing buckets dropped by size — never held, never collected.
    val cand = exploded.groupBy("band_idx", "band_val")
      .agg(graft.functions.CappedList.cappedIds(maxBucketSize)(col("mediaId")).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    def dist: Column =
      (bit_count(col("a.band0").bitwiseXOR(col("x.band0"))) +
        bit_count(col("a.band1").bitwiseXOR(col("x.band1"))) +
        bit_count(col("a.band2").bitwiseXOR(col("x.band2"))) +
        bit_count(col("a.band3").bitwiseXOR(col("x.band3")))).cast("int")
    // Distinct hashes have Hamming >= 1 by construction, so rep↔rep
    // edges never duplicate a star edge.
    val repPairs = cand
      .join(reps.as("a"), col("id_a") === col("a.mediaId"))
      .join(reps.as("x"), col("id_b") === col("x.mediaId"))
      .select(col("id_a"), col("id_b"), dist.as("hamming"))
      .where(col("hamming") <= maxDist)
    starPairs.unionAll(repPairs)
  }

  /** Band-pair (maxDist ≤ 2) or single-band (maxDist = 3) LSH keys over
    * the four 16-bit dHash bands — the saturation/recall analysis is in
    * [[imageNearDups]]'s scaladoc.
    */
  private def bandKeyCols(maxDist: Int): Seq[Column] =
    if (maxDist <= 2)
      Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)).map { case (i, j) =>
        col(s"band$i").cast("long") * 65536L + col(s"band$j")
      }
    else Seq(col("band0"), col("band1"), col("band2"), col("band3"))
      .map(_.cast("long"))

  /** INCREMENTAL image near-dup: probe a fresh BATCH of image hashes
    * against an existing CORPUS — the admission question every
    * streaming/delta ingest asks ("is this new image a near-dup of
    * anything we already hold?") — without ever self-joining the
    * corpus. The [[DedupOps.minhashProbe]] shape applied to the visual
    * modality:
    *
    *  - the corpus pre-groups identical hashes to a min-id
    *    representative (one row per distinct hash enters the band
    *    join; B byte-identical corpus copies answer as ONE rep — the
    *    round-14 degenerate guard, batch-side output stays linear);
    *  - corpus band buckets aggregate through the CappedList guard
    *    with SINGLETON buckets surviving (a lone corpus image must
    *    still answer a probe — the `>= 2` floor of the self-join form
    *    would drop it), degenerate buckets dropped by size;
    *  - the batch side is banded RAW: batch ids never join each other,
    *    so a degenerate batch (1,000 identical new images) costs 1,000
    *    linear output rows, never a quadratic candidate set.
    *
    * Returns (batch_id, corpus_id, hamming) with corpus_id the
    * representative and hamming ≤ maxDist; exact-content matches
    * surface naturally at distance 0 through the band join. Recall for
    * maxDist ≤ 2 is exact by the intact-band-pair argument (see
    * [[imageNearDups]]).
    */
  def imageNearDupProbe(corpus: Dataset[ImageHash], batch: Dataset[ImageHash],
                        maxDist: Int = 2, maxBucketSize: Int = 1000)
                       (implicit spark: SparkSession): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"exact-recall banding over a 64-bit/4-band dHash covers maxDist <= 3, got $maxDist")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val bandCols = Seq("band0", "band1", "band2", "band3")
    // one representative per distinct corpus hash (re-decoding the
    // corpus per consumer branch is the expensive part — persist the
    // compact (rep, 4 ints) frame, released by the caller's GraftCache
    // cycle)
    val reps = graft.GraftCache.register(
      corpus.toDF().groupBy(bandCols.map(col): _*).agg(min("mediaId").as("rep"))
        .select((col("rep").as("mediaId") +: bandCols.map(col)): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bh = graft.GraftCache.register(
      batch.toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val corpusBuckets = reps
      .select(col("mediaId"), posexplode(array(bandKeyCols(maxDist): _*))
        .as(Seq("band_idx", "band_val")))
      .groupBy("band_idx", "band_val")
      .agg(graft.functions.CappedList.cappedIds(maxBucketSize)(col("mediaId")).as("ids"))
      .where(size(col("ids")) <= maxBucketSize) // singletons SURVIVE
      .select(col("band_idx"), col("band_val"), explode(col("ids")).as("corpus_id"))
    val batchKeyed = bh.select(col("mediaId").as("batch_id"),
      posexplode(array(bandKeyCols(maxDist): _*)).as(Seq("band_idx", "band_val")))
    val cand = batchKeyed.join(corpusBuckets, Seq("band_idx", "band_val"))
      .select("batch_id", "corpus_id")
      .distinct()
    def dist: Column =
      (bit_count(col("b.band0").bitwiseXOR(col("x.band0"))) +
        bit_count(col("b.band1").bitwiseXOR(col("x.band1"))) +
        bit_count(col("b.band2").bitwiseXOR(col("x.band2"))) +
        bit_count(col("b.band3").bitwiseXOR(col("x.band3")))).cast("int")
    cand
      .join(bh.as("b"), col("batch_id") === col("b.mediaId"))
      .join(reps.as("x"), col("corpus_id") === col("x.mediaId"))
      .select(col("batch_id"), col("corpus_id"), dist.as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** REAL RESIZE: decode → aspect-preserving downscale (never upscale)
    * via `Graphics2D.drawImage` → re-encode PNG. Target dims are
    * `max(1, floor(dim * scale))` with `scale = min(maxW/w, maxH/h, 1)`,
    * computed in double precision (oracle mirrors the same IEEE ops).
    */
  def resizeImages(images: Dataset[ImageRow], maxW: Int, maxH: Int)
                  (implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    images.mapPartitions { it =>
      it.flatMap { row =>
        readImage(row.content).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          val scale = math.min(math.min(maxW.toDouble / w, maxH.toDouble / h), 1.0)
          val tw = math.max(1, math.floor(w * scale).toInt)
          val th = math.max(1, math.floor(h * scale).toInt)
          val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
          val gfx = out.createGraphics()
          gfx.drawImage(img, 0, 0, tw, th, null)
          gfx.dispose()
          val bos = new ByteArrayOutputStream()
          ImageIO.write(out, "png", bos)
          ImageRow(row.mediaId, bos.toByteArray)
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Video container: length-prefixed PNG frames (real frame extraction)
  // ---------------------------------------------------------------------

  private val VideoMagic = 0x47564944 // "GVID"

  /** A deterministic "video": `frames` real PNG frames in a simple
    * length-prefixed container (magic, frame count, then per frame a
    * 4-byte length + PNG bytes). Frame f uses seed `id * 1000 + f`.
    */
  def syntheticVideo(id: Long, frames: Int): Array[Byte] = {
    val (w, h) = dimsFor(id)
    videoContainer((0 until frames).map(f => syntheticPng(id * 1000 + f, w, h)))
  }

  /** Wrap encoded frames in the length-prefixed container — the one
    * place the byte layout is defined (writer for every video fixture;
    * [[sampleVideoFrames]] / [[videoFingerprint]] are the readers).
    */
  private[graft] def videoContainer(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(VideoMagic)
    out.writeInt(frames.length)
    frames.foreach { png =>
      out.writeInt(png.length)
      out.write(png)
    }
    out.flush()
    bos.toByteArray
  }

  /** Deterministic frame count for an id. */
  private[graft] def frameCountFor(id: Long): Int = (id % 5 + 2).toInt

  /** Synthesize a video table: one container of real PNG frames per id. */
  def asVideoTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticVideo(id, frameCountFor(id))))
    }
  }

  case class VideoFrame(mediaId: Long, frameIdx: Int, width: Int, height: Int,
                        meanR: Double, meanG: Double, meanB: Double)

  /** Walk a container's frames, yielding (frameIdx, pngBytes) — the ONE
    * reader behind [[sampleVideoFrames]], [[videoFingerprint]] and
    * [[videoShingleRows]]. Every declared length is validated against
    * the REMAINING bytes before allocation: a corrupt length field in a
    * crawled container must fail the row's `Try`, never allocate
    * gigabytes — `OutOfMemoryError` is fatal and would kill the scan
    * task straight through any per-row isolation.
    */
  private def videoFrames(content: Array[Byte]): Iterator[(Int, Array[Byte])] = {
    val in = new DataInputStream(new ByteArrayInputStream(content))
    require(in.readInt() == VideoMagic, "bad magic")
    val n = in.readInt()
    require(n >= 0 && n.toLong * 4 <= content.length,
      s"implausible frame count $n for ${content.length} bytes")
    (0 until n).iterator.map { f =>
      val len = in.readInt()
      require(len >= 0 && len <= in.available(),
        s"frame length $len exceeds remaining bytes")
      val png = new Array[Byte](len)
      in.readFully(png)
      (f, png)
    }
  }

  /** REAL FRAME SAMPLING: parse the container, decode every `stride`-th
    * frame's PNG bytes, emit decoded stats per sampled frame. Frames are
    * decoded one at a time — memory is one frame, not one video.
    */
  def sampleVideoFrames(videos: Dataset[ImageRow], stride: Int)
                       (implicit spark: SparkSession): Dataset[VideoFrame] = {
    import spark.implicits._
    require(stride >= 1, s"stride must be >= 1, got $stride")
    videos.mapPartitions { it =>
      it.flatMap { row =>
        Try {
          videoFrames(row.content).flatMap { case (f, png) =>
            if (f % stride == 0)
              readImage(png).map { img =>
                val s = imageStats(row.mediaId, img)
                VideoFrame(row.mediaId, f, s.width, s.height, s.meanR, s.meanG, s.meanB)
              }
            else None
          }.toVector
        }.toOption.getOrElse(Seq.empty) // corrupt container → skip row, keep task
      }
    }
  }

  /** Row-bit pattern for the video family's frame `f`, row `y` — the
    * single closed form the q263/q264 oracles replay: the cubic mixer
    * ([[mix8]], the q256 decorrelation fix carried over) over a
    * (family, frame, row) seed, with ONLY frame 3's bottom row XOR-ing
    * the variant. Family members therefore share frames 0–2
    * bit-for-bit and differ in 1–2 gradient directions of the last
    * frame — true near-duplicate videos (a re-encode with a changed
    * end card), resolvable in closed form.
    */
  private[graft] def videoFrameBits(family: Long, f: Int, y: Int, variant: Int): Int =
    mix8(family * 32L + f * 8L + y) ^ (if (f == 3 && y == 7) variant else 0)

  /** A video with PLANTED NEAR-DUP STRUCTURE for temporal fingerprinting:
    * 3-member families (`id / 3`), four 9×8 gradient-PNG frames per
    * video ([[gradientPng]] under [[videoFrameBits]]). See
    * [[videoFingerprint]] for why the members' prints land at Hamming
    * distance 1–2, all inside one band.
    */
  def syntheticVideoFamily(id: Long): Array[Byte] = {
    val family = id / 3
    val variant = (id % 3).toInt
    videoContainer((0 until 4).map(f =>
      gradientPng(y => videoFrameBits(family, f, y, variant))))
  }

  /** Video table with planted fingerprint families (executors generate
    * the blobs — same contract as [[asVideoTable]]).
    */
  def asVideoFamilyTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticVideoFamily(id)))
    }
  }

  /** 64-bit VIDEO FINGERPRINT — the dHash idea on the frame axis: parse
    * the container, dHash every decoded frame ([[dHashBands]], one
    * frame in memory at a time), fold each frame's four 16-bit bands
    * into a 16-bit frame signature by XOR (bit positions are preserved
    * mod 16, so a frame pair differing in k dHash bits differs in at
    * most k signature bits), and place frame f's signature in band
    * `f % 4`. The print is TEMPORAL-ORDER-AWARE — the same frames in a
    * different order land in different bands and produce a different
    * print (spec-asserted) — while re-encodes that perturb a single
    * frame damage a single band by a few bits.
    *
    * Emitted as the same (id, 4 × 16-bit bands) shape as [[imageDHash]]
    * and [[audioFingerprint]]: [[imageNearDups]] / [[imageNearDupProbe]]
    * are modality-agnostic over it and are REUSED AS-IS — identical-hash
    * pre-grouping, CappedList bucket guard and the exact-recall
    * band-pair analysis included. Scale shape: computed scan-side in
    * one pass over the blob (memory is one decoded frame, not one
    * video); only (id, 4 ints) ever shuffles. Corrupt containers or
    * videos with no decodable ≥9×8 frame are dropped per-row, never
    * failing the task.
    */
  def videoFingerprint(videos: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    videos.mapPartitions { it =>
      it.flatMap { row =>
        Try {
          val bands = new Array[Int](4)
          var decoded = 0
          videoFrames(row.content).foreach { case (f, png) =>
            dHashBands(png).foreach { b =>
              bands(f % 4) ^= b(0) ^ b(1) ^ b(2) ^ b(3)
              decoded += 1
            }
          }
          require(decoded > 0, "no decodable frame")
          ImageHash(row.mediaId, bands(0), bands(1), bands(2), bands(3))
        }.toOption
      }
    }
  }

  /** Row-bit pattern for the CLIP fixture's content-frame `cf`, row `y`
    * (no variant — clip pairs share frames verbatim): the cubic mixer
    * over a (family, content-frame, row) seed with room for content
    * frames 0–4.
    */
  private[graft] def clipFrameBits(family: Long, cf: Int, y: Int): Int =
    mix8(family * 40L + cf * 8L + y)

  /** A video table with PLANTED CLIP STRUCTURE: ids pair up (`id / 2`),
    * the even id carries content frames 0–3 of its family, the odd id
    * carries content frames 1–4 — the odd video is the even one with
    * its first frame clipped and a new end frame appended (the
    * "re-upload minus the intro" shape). The pair shares 3 of 4 frames
    * IN SEQUENCE but at shifted positions, so the order-aware
    * [[videoFingerprint]] print differs in every band and q264-style
    * near-dup rightly misses it — [[videoClipMatches]] exists for
    * exactly this case.
    */
  def asVideoClipTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map { id =>
        val family = id / 2
        val shift = (id % 2).toInt
        ImageRow(id, videoContainer((0 until 4).map(f =>
          gradientPng(y => clipFrameBits(family, f + shift, y)))))
      }
    }
  }

  /** One video's frame-shingle row: `sigKey` is the full frame-signature
    * sequence (the video's perceptual identity — byte-level re-encodes
    * with identical rasters collapse onto it), `shingles` the DISTINCT
    * consecutive signature pairs.
    */
  case class MediaShingles(mediaId: Long, sigKey: String, shingles: Array[Long])

  /** Scan-side frame shingling for [[videoClipMatches]]: parse the
    * container, dHash each decoded frame, XOR-fold to the 16-bit frame
    * signature (the [[videoFingerprint]] kernel), and emit every
    * DISTINCT consecutive signature pair as a 32-bit shingle
    * (`sig_f · 2¹⁶ + sig_{f+1}`) — n-gram shingling on the TIME axis,
    * the video analog of the text path's token shingles. One decoded
    * frame in memory at a time; blobs never shuffle. Videos with < 2
    * decodable frames have no shingles and never match (dropped here).
    */
  def videoShingleRows(videos: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[MediaShingles] = {
    import spark.implicits._
    videos.mapPartitions { it =>
      it.flatMap { row =>
        Try {
          val sigs = videoFrames(row.content).flatMap { case (_, png) =>
            dHashBands(png).map(b => b(0) ^ b(1) ^ b(2) ^ b(3))
          }.toVector
          require(sigs.length >= 2, "need >= 2 decodable frames for a shingle")
          val shingles = sigs.sliding(2).map(w => w(0).toLong * 65536L + w(1))
            .toArray.distinct
          MediaShingles(row.mediaId, sigs.mkString(","), shingles)
        }.toOption
      }
    }
  }

  /** CLIPPED-VIDEO DETECTION: find video pairs sharing at least
    * `minShared` consecutive-frame shingles — re-uploads that clip an
    * intro, append an end card, or splice a segment, which shift every
    * frame position and therefore defeat the order-aware
    * [[videoFingerprint]] print (by design; spec-asserted both ways).
    *
    * The guarded certificate shape carried from [[imageNearDups]]:
    * videos with an IDENTICAL signature sequence (perceptual re-encodes
    * — the degenerate B-identical block) pre-group onto a min-id
    * representative by `sigKey` and attach as star edges sharing ALL
    * their shingles, so B byte-identical uploads cost B−1 edges, never
    * a B² shingle join. Distinct representatives then equi-join per
    * shingle through the CappedList bucket guard (degenerate shingle
    * buckets — a title card shared by half the corpus — are dropped by
    * size, never held), and surviving pairs keep an exact
    * shared-shingle count. Output (id_a, id_b, shared_shingles) with
    * id_a < id_b. Scale shape: shingles are computed scan-side; only
    * (id, sigKey, ~frames-sized shingle array) rows shuffle, buckets
    * are hard-capped, and the pair count is candidate-bounded.
    */
  def videoClipMatches(videos: Dataset[ImageRow], minShared: Int = 2,
                       maxBucketSize: Int = 1000)
                      (implicit spark: SparkSession): DataFrame =
    shingleMatches(videoShingleRows(videos), minShared, maxBucketSize)

  /** The guarded shingle-match core behind [[videoClipMatches]] (frame
    * shingles) and [[audioClipMatches]] (energy-window shingles) —
    * MODALITY-AGNOSTIC over [[MediaShingles]] rows, exactly as
    * [[imageNearDups]] is over (id, 4 bands). See [[videoClipMatches]]
    * for the certificate semantics and guard analysis.
    */
  def shingleMatches(shingleRows: Dataset[MediaShingles], minShared: Int = 2,
                     maxBucketSize: Int = 1000)
                    (implicit spark: SparkSession): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val rows = graft.GraftCache.register(
      shingleRows.toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val groups = graft.GraftCache.register(
      rows.groupBy("sigKey").agg(min("mediaId").as("rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val starPairs = rows.join(groups, "sigKey")
      .where(col("mediaId") =!= col("rep"))
      .select(col("rep").as("id_a"), col("mediaId").as("id_b"),
        size(col("shingles")).as("shared_shingles"))
    val reps = rows.join(groups, rows("mediaId") === groups("rep"))
      .select(col("rep"), col("shingles"))
    val exploded = reps.select(col("rep"), explode(col("shingles")).as("shingle"))
    // shared-shingle counting rides the SAME capped buckets: each intact
    // bucket contributes one (a, b) row per shared shingle, so the
    // count after the pair groupBy is exact for pairs whose shingles
    // all sit in intact buckets; a dropped degenerate bucket (corpus-
    // wide title card) removes only that shingle's vote — the guard
    // trade the text path documents
    val cand = exploded.groupBy("shingle")
      .agg(graft.functions.CappedList.cappedIds(maxBucketSize)(col("rep")).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
    val repPairs = cand.groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("int").as("shared_shingles"))
      .where(col("shared_shingles") >= minShared)
    starPairs.unionAll(repPairs)
  }

  // ---------------------------------------------------------------------
  // Real audio kernels (javax.sound.sampled — WAV, in the JDK)
  // ---------------------------------------------------------------------

  /** Deterministic signed-16-bit sample value for (seed, index) — the
    * single source of truth the oracle SQL mirrors.
    */
  private[graft] def sampleAt(seed: Long, i: Int): Int =
    (((seed * 31 + i.toLong * 17) % 20001) - 10000).toInt

  /** Deterministic sample count for an id. */
  private[graft] def sampleCountFor(id: Long): Int = (id % 400 + 100).toInt

  /** Encode signed-16-bit mono little-endian PCM samples as a real WAV
    * (canonical 44-byte RIFF/WAVE/fmt/data header).
    *
    * LOCK-FREE BY DESIGN, and that matters: `AudioSystem.write` (and
    * `getAudioInputStream`) route every call through
    * `JDK13Services.getProviders`, which synchronizes on the
    * `JSSecurityManager` class — a JVM-GLOBAL lock. A 32-thread scan
    * generating or parsing WAVs serializes on it: the round-14 probe
    * measured 31/32 executor threads BLOCKED on that monitor and 150k
    * clips took 44 s where the PNG path took 2.3 s. This writer emits
    * the canonical header directly; [[decodeAudio]] (q59) still reads
    * these bytes through the JDK codec — the standing cross-check that
    * they are real WAVs — and the MultimodalOpsSpec interop test pins
    * byte-level agreement between the two decode paths.
    */
  private def wavBytes(samples: Array[Int], sampleRate: Float): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate.toInt)
      .putInt(sampleRate.toInt * 2) // byte rate
      .putShort(2)  // block align
      .putShort(16) // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i).toShort); i += 1 }
    buf.array()
  }

  /** Minimal RIFF/WAVE chunk walker for 16-bit mono little-endian PCM —
    * the lock-free decode twin of [[wavBytes]] for the HOT fingerprint
    * path (see the provider-lock note there). A genuine parser, not a
    * fixture shortcut: it walks the chunk list (tolerating extra
    * chunks like LIST/fact), validates the fmt block, and returns the
    * data chunk's samples; anything malformed throws (callers isolate
    * per-row). [[decodeAudio]] stays on `AudioSystem` — the two paths
    * must agree, and the spec pins that.
    */
  private[graft] def parseWavPcm16Mono(bytes: Array[Byte]): Array[Int] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(buf.remaining() >= 12 && fourCC() == "RIFF", "not RIFF")
    buf.getInt // riff payload length (unchecked: trailing garbage tolerated)
    require(fourCC() == "WAVE", "not WAVE")
    var fmtOk = false
    while (buf.remaining() >= 8) {
      val id = fourCC()
      val len = buf.getInt
      require(len >= 0 && len <= buf.remaining(), s"bad chunk length $len for $id")
      id match {
        case "fmt " =>
          require(len >= 16, "short fmt chunk")
          val p = buf.position()
          require(buf.getShort == 1, "not PCM")
          require(buf.getShort == 1, "not mono")
          buf.getInt // sample rate (not needed by the fingerprint)
          buf.getInt; buf.getShort
          require(buf.getShort == 16, "not 16-bit")
          buf.position(p + len + (len & 1)) // chunks are word-aligned
          fmtOk = true
        case "data" =>
          require(fmtOk, "data chunk before fmt")
          val n = len / 2
          val out = new Array[Int](n)
          var i = 0
          while (i < n) { out(i) = buf.getShort.toInt; i += 1 }
          return out
        case _ =>
          buf.position(buf.position() + len + (len & 1))
      }
    }
    throw new IllegalArgumentException("no data chunk")
  }

  /** A real WAV file: 16-bit mono little-endian PCM with seed-derived
    * samples, written through `AudioSystem` (proper RIFF header).
    */
  def syntheticWav(seed: Long, nSamples: Int, sampleRate: Float = 8000f): Array[Byte] =
    wavBytes(Array.tabulate(nSamples)(i => sampleAt(seed, i)), sampleRate)

  /** Per-window amplitude for the fingerprint fixture — the ONLY place
    * it is defined; oracle SQL mirrors the formula. Driven through the
    * NON-AFFINE cubic mixer [[mix8]] on `(family·65 + window)`: the
    * first draft derived window energies from [[sampleAt]]'s linear
    * ramp, whose |·|-mean over a window barely depends on the family
    * offset — 5,000 clips collapsed onto ~400 distinct prints (one per
    * length), the EXACT affine-degeneracy trap the round-13 image
    * fixture already documented and fixed (the pair-count invariant
    * `clean_pairs == n + const` in the round-14 audio scale probe,
    * SCALING.md, was the tell). The cubic mixer decorrelates windows
    * across families; the last window additionally carries
    * `3000 · variant`. Max amplitude 40·256 + 6000 stays inside 16-bit
    * PCM.
    */
  private[graft] def windowAmp(family: Long, w: Int, variant: Int): Int =
    40 * (mix8(family * 65L + w) + 1) + (if (w == 64) 3000 * variant else 0)

  /** A WAV with PLANTED NEAR-DUP STRUCTURE for audio fingerprinting:
    * 3-member families (`id / 3`) share length and the amplitudes of
    * the first 64 of [[audioFingerprint]]'s 65 windows; only the LAST
    * window's amplitude carries the variant term. Samples in window w
    * are an alternating ±[[windowAmp]] square wave, so every window's
    * mean-|sample| energy is EXACTLY its amplitude and the kernel's
    * cross-multiplied comparison reduces to `amp(w+1) > amp(w)` —
    * members' prints differ in AT MOST bit 63 (distance 0 or 1), and
    * the oracle reproduces every bit from 65 amplitude rows per doc,
    * no per-sample reconstruction.
    */
  def syntheticWavFamily(id: Long): Array[Byte] = {
    val family = id / 3
    val variant = (id % 3).toInt
    val n = (family % 400 + 100).toInt // family-shared length → shared windows
    wavBytes(Array.tabulate(n) { i =>
      val a = windowAmp(family, (i.toLong * 65L / n).toInt, variant)
      if (i % 2 == 0) a else -a
    }, 8000f)
  }

  /** Audio table with planted fingerprint families (executors generate
    * the blobs — same contract as [[asAudioTable]]).
    */
  def asAudioFamilyTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIdsNarrow(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticWavFamily(id)))
    }
  }

  /** 64-bit AUDIO FINGERPRINT — the dHash idea on the time axis: decode
    * the WAV (rate/frames from the RIFF header, never metadata), assign
    * sample i of n to window `i·65/n` (65 windows, all non-empty for
    * n ≥ 65), reduce each window to its mean-|sample| energy, and set
    * bit w when energy RISES window w → w+1. Only energy-delta
    * DIRECTIONS are kept, so the print is robust to uniform gain — the
    * audio analog of dHash's brightness invariance. The comparison is
    * cross-multiplied (`sum(w+1)·cnt(w) > sum(w)·cnt(w+1)`), integer-
    * exact end to end: the oracle reproduces every bit in DuckDB
    * BIGINT arithmetic with no float rounding (max product ≈ 4e6·400,
    * far inside 64 bits). Emitted as the same four 16-bit bands as
    * [[imageDHash]] — [[imageNearDups]] and [[imageNearDupProbe]] are
    * modality-agnostic over (id, 4 bands) and are REUSED AS-IS, guards
    * included. Scale shape: computed scan-side in one pass over the
    * blob; only (id, 4 ints) ever shuffles. Undecodable or sub-65-
    * sample blobs are dropped per-row, never failing the task.
    */
  def audioFingerprint(audio: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    audio.mapPartitions { it =>
      it.flatMap { row =>
        Try {
          // lock-free RIFF parse — AudioSystem's provider lookup holds a
          // JVM-global lock that serializes a 32-thread scan (measured;
          // see wavBytes). decodeAudio keeps the JDK codec as interop proof.
          val samples = parseWavPcm16Mono(row.content)
          val n = samples.length
          require(n >= 65, s"need >= 65 samples for 65 windows, got $n")
          val sums = new Array[Long](65)
          val cnts = new Array[Long](65)
          var i = 0
          while (i < n) {
            val w = (i.toLong * 65L / n).toInt
            sums(w) += math.abs(samples(i))
            cnts(w) += 1
            i += 1
          }
          val bands = new Array[Int](4)
          var w = 0
          while (w < 64) {
            if (sums(w + 1) * cnts(w) > sums(w) * cnts(w + 1))
              bands(w / 16) |= 1 << (w % 16)
            w += 1
          }
          ImageHash(row.mediaId, bands(0), bands(1), bands(2), bands(3))
        }.toOption
      }
    }
  }

  /** Amplitude of the CLIP fixture's content window `cw` — the cubic
    * mixer over a (pair, content-window) seed with room for content
    * windows 0–79 (see [[syntheticWavClipFamily]]).
    */
  private[graft] def clipWindowAmp(pair: Long, cw: Int): Int =
    40 * (mix8(pair * 80L + cw) + 1)

  /** A WAV with PLANTED CLIP STRUCTURE: ids pair up (`id / 2`) — both
    * members are 72 × 50-sample windows (3,600 samples); the even id
    * shows content windows 0–71, the odd id the SAME content shifted by
    * 8 windows (8–79): the re-upload with its first 0.05 s clipped and
    * fresh material appended. Every window position moves, so the
    * LENGTH-relative [[audioFingerprint]] print (65 windows stretched
    * over whatever the clip length is) differs broadly and q262-style
    * near-dup rightly misses the pair — [[audioClipMatches]] exists for
    * exactly this case. Samples alternate ±amp, so each ABSOLUTE
    * 50-sample window's energy is exactly its amplitude and the oracle
    * replays every bit.
    */
  def syntheticWavClipFamily(id: Long): Array[Byte] = {
    val pair = id / 2
    val shift = (id % 2).toInt * 8
    wavBytes(Array.tabulate(72 * 50) { i =>
      val a = clipWindowAmp(pair, i / 50 + shift)
      if (i % 2 == 0) a else -a
    }, 8000f)
  }

  /** Audio table with planted clip pairs (executors generate the blobs —
    * same contract as [[asAudioTable]]).
    */
  def asAudioClipTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIdsNarrow(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticWavClipFamily(id)))
    }
  }

  /** Scan-side energy shingling for [[audioClipMatches]]: ABSOLUTE
    * `windowSamples`-sample windows (trailing partial dropped — equal
    * window sizes make the integer energy-sum comparison exact with no
    * cross-multiplication), bit w set when energy rises window
    * w → w+1, and 32-bit shingles packed from bit runs [i, i+32) at
    * stride 8. The design trade vs [[audioFingerprint]] is deliberate
    * and documented: the fingerprint's LENGTH-relative windows are
    * robust to uniform time-stretch but every boundary moves when the
    * clip is CUT; absolute windows are the converse — a cut shifts the
    * bit sequence whole, and stride-8 shingles re-align as long as the
    * cut is a multiple of 8 windows (finer cuts re-align at the next
    * shingle boundary, costing recall, never precision). sigKey is the
    * full bit string (the clip's absolute-energy identity). Clips with
    * < 33 full windows have no shingle and are dropped per-row.
    */
  def audioShingleRows(audio: Dataset[ImageRow], windowSamples: Int = 50)
                      (implicit spark: SparkSession): Dataset[MediaShingles] = {
    import spark.implicits._
    require(windowSamples >= 1, s"windowSamples must be >= 1, got $windowSamples")
    audio.mapPartitions { it =>
      it.flatMap { row =>
        Try {
          val samples = parseWavPcm16Mono(row.content)
          val nW = samples.length / windowSamples
          require(nW >= 33, s"need >= 33 full windows for one 32-bit shingle, got $nW")
          val sums = new Array[Long](nW)
          var i = 0
          while (i < nW * windowSamples) {
            sums(i / windowSamples) += math.abs(samples(i))
            i += 1
          }
          val nBits = nW - 1
          val bits = new Array[Int](nBits)
          var w = 0
          while (w < nBits) {
            if (sums(w + 1) > sums(w)) bits(w) = 1
            w += 1
          }
          val shingles = (0 to nBits - 32 by 8).map { off =>
            var v = 0L
            var k = 0
            while (k < 32) {
              if (bits(off + k) == 1) v |= 1L << k
              k += 1
            }
            v
          }.toArray.distinct
          MediaShingles(row.mediaId, bits.mkString, shingles)
        }.toOption
      }
    }
  }

  /** CLIPPED-AUDIO DETECTION: [[shingleMatches]] over
    * [[audioShingleRows]] — the audio sibling of [[videoClipMatches]],
    * guards included (identical bit strings pre-group to a min-id rep,
    * degenerate shingle buckets drop through the CappedList cap).
    */
  def audioClipMatches(audio: Dataset[ImageRow], minShared: Int = 3,
                       maxBucketSize: Int = 1000)
                      (implicit spark: SparkSession): DataFrame =
    shingleMatches(audioShingleRows(audio), minShared, maxBucketSize)

  /** Synthesize an audio table: one real WAV per id, built on the
    * executors.
    */
  def asAudioTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIdsNarrow(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticWav(id, sampleCountFor(id))))
    }
  }

  case class DecodedAudio(mediaId: Long, sampleRateHz: Int, nSamples: Long,
                          meanAbs: Double, peak: Int)

  /** REAL AUDIO DECODE: `AudioSystem.getAudioInputStream` parses the RIFF
    * header (sample rate / frame size come from the FILE, not metadata),
    * then the PCM frames are read and reduced to mean-|sample| and peak.
    * Undecodable blobs are dropped per-row.
    */
  def decodeAudio(audio: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    audio.mapPartitions { it =>
      it.flatMap { row =>
        Try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(row.content))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian, s"unsupported PCM layout: $fmt")
          val bytes = ais.readAllBytes()
          val n = bytes.length / fmt.getFrameSize
          var sumAbs = 0L
          var peak = 0
          var i = 0
          while (i < n) {
            val s = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
            val a = math.abs(s)
            sumAbs += a
            if (a > peak) peak = a
            i += 1
          }
          DecodedAudio(row.mediaId, fmt.getSampleRate.toInt, n.toLong,
            sumAbs.toDouble / n, peak)
        }.toOption
      }
    }
  }

  // ---------------------------------------------------------------------
  // Real document-blob kernels (the "PDF extraction" slot): a structured
  // binary container with DEFLATE-compressed text pages (java.util.zip —
  // a real codec, in the JDK), parsed and inflated per page.
  // ---------------------------------------------------------------------

  private val DocMagic = 0x47444F43 // "GDOC"

  /** Deterministic page count / filler-word count for an id — the only
    * definitions; oracle SQL mirrors both formulas.
    */
  private[graft] def pageCountFor(id: Long): Int = (id % 4 + 1).toInt
  private[graft] def fillerWordsFor(id: Long): Int = (id % 7 + 3).toInt

  /** Page p's text — reconstructable in SQL
    * (`'doc ' || id || ' page ' || p || ' ' || rtrim(repeat('word ', k))`),
    * so the EXTRACTED text can be md5-verified end to end.
    */
  private[graft] def pageText(id: Long, p: Int): String =
    s"doc $id page $p " + ("word " * fillerWordsFor(id)).trim

  /** A real compressed document container: magic, page count, then per
    * page (uncompressedLen, compressedLen, DEFLATE bytes). The codec is
    * genuine — extraction must run a real Inflater per page, exactly the
    * shape of a PDF stream-object parse, while the CONTENT stays
    * formula-predictable for the oracle.
    */
  def syntheticDoc(id: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(DocMagic)
    val n = pageCountFor(id)
    out.writeInt(n)
    (0 until n).foreach { p =>
      val raw = pageText(id, p).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw)
      deflater.finish()
      val cbos = new ByteArrayOutputStream()
      val buf = new Array[Byte](512)
      while (!deflater.finished()) {
        val m = deflater.deflate(buf)
        cbos.write(buf, 0, m)
      }
      deflater.end()
      val comp = cbos.toByteArray
      out.writeInt(raw.length)
      out.writeInt(comp.length)
      out.write(comp)
    }
    out.flush()
    bos.toByteArray
  }

  /** Synthesize a document-blob table: one real container per id, built
    * on the executors (the driver never sees a blob).
    */
  def asDocTable(docs: DataFrame, idCol: String)(implicit spark: SparkSession): Dataset[ImageRow] = {
    import spark.implicits._
    genIds(docs, idCol).mapPartitions { it =>
      it.map(id => ImageRow(id, syntheticDoc(id)))
    }
  }

  case class DocText(docId: Long, nPages: Long, nChars: Long, nWords: Long,
                     textMd5: String)

  /** REAL TEXT EXTRACTION: parse the container, inflate every page
    * (genuine DEFLATE decompression), join pages with newlines, reduce to
    * text stats + an md5 of the extracted text (the cross-engine check
    * that extraction reproduced the content byte-for-byte). Pages inflate
    * one at a time — memory is one page, not one document. Corrupt blobs
    * are dropped per-row, never killing the scan task.
    */
  def extractDocText(blobs: Dataset[ImageRow])(implicit spark: SparkSession): Dataset[DocText] = {
    import spark.implicits._
    blobs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { row =>
        Try {
          val in = new DataInputStream(new ByteArrayInputStream(row.content))
          require(in.readInt() == DocMagic, "bad magic")
          val n = in.readInt()
          require(n >= 0 && n.toLong * 8 <= row.content.length,
            s"implausible page count $n for ${row.content.length} bytes")
          val sb = new StringBuilder
          (0 until n).foreach { p =>
            val ulen = in.readInt()
            val clen = in.readInt()
            // both declared lengths are untrusted: clen must fit the
            // remaining bytes, and ulen is a zip-bomb claim unless it
            // respects DEFLATE's maximum expansion (~1032:1) — either
            // way the row fails BEFORE the allocation, because an
            // OutOfMemoryError would kill the task through the Try
            require(clen >= 0 && clen <= in.available(),
              s"page length $clen exceeds remaining bytes")
            require(ulen >= 0 && ulen.toLong <= math.max(1024L, clen.toLong * 1032L),
              s"implausible inflate target $ulen for $clen compressed bytes")
            val comp = new Array[Byte](clen)
            in.readFully(comp)
            val inflater = new java.util.zip.Inflater()
            inflater.setInput(comp)
            val raw = new Array[Byte](ulen)
            val got = inflater.inflate(raw)
            inflater.end()
            require(got == ulen, s"short inflate: $got != $ulen")
            if (p > 0) sb.append('\n')
            sb.append(new String(raw, java.nio.charset.StandardCharsets.UTF_8))
          }
          val text = sb.toString
          val words = text.split("\\s+").count(_.nonEmpty).toLong
          md.reset()
          val hex = md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map(b => f"$b%02x").mkString
          DocText(row.mediaId, n.toLong, text.length.toLong, words, hex)
        }.toOption // corrupt container → skip row, keep task
      }
    }
  }

  // ---------------------------------------------------------------------
  // Metadata plumbing over mixed-modality blobs (q31/q33 shape)
  // ---------------------------------------------------------------------

  /** Wrap a text corpus as opaque binary blobs + typed metadata — the
    * mixed-modality catalog shape (image/audio/video rows side by side).
    * Metadata fields are derived deterministically from the id.
    */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("content"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col(idCol), lit(3)) + 1).cast("int")).as("mediaType"),
        octet_length(encode(col(textCol), "UTF-8")).cast("long").as("byteLen"),
        (pmod(col(idCol), lit(640)) + 32).cast("int").as("width"),
        (pmod(col(idCol), lit(480)) + 32).cast("int").as("height"),
        lit(16000).as("sampleRateHz"),
        (pmod(col(idCol), lit(30000)) + 1000).cast("long").as("durationMs")
      ).as("meta"))

  /** Frame-TIMESTAMP sampling over catalog metadata: one row per sampled
    * timestamp (every `everyMs`, capped at `maxFrames`) — a pure
    * `explode`, no blob access. Plan-side twin of [[sampleVideoFrames]]:
    * use this to schedule which frames to fetch, that one to decode them.
    */
  def sampleFrames(media: DataFrame, everyMs: Long, maxFrames: Int = 32): DataFrame =
    media
      .where(col("meta.mediaType") === "video")
      .select(
        col("media_id"),
        explode(sequence(lit(0L),
          least(col("meta.durationMs"), lit(everyMs * (maxFrames - 1))),
          lit(everyMs))).as("frame_ts_ms"))
}

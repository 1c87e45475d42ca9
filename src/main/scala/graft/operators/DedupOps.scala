package graft.operators

import graft.GraftCache
import graft.functions.{HashFunctions => H, Rounding, TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale corpus curation.
  *
  * Scale notes (what changes at 100 TB):
  *  - Exact dedup groups on a 16-byte digest, never on the document text —
  *    the shuffle carries (digest, id), not payloads.
  *  - MinHash/SimHash candidate generation explodes per-document band keys
  *    and self-joins on the key. Shuffle payload = (id, long) per band.
  *    Bucket skew (a degenerate key shared by thousands of docs) is the
  *    classic failure mode; `maxBucketSize` drops pathological buckets the
  *    way production LSH pipelines do, and AQE skew-join handles the rest.
  *  - Final verification (exact Jaccard) only touches candidate pairs, so
  *    the quadratic step is bounded by bucket size, never corpus size.
  */
object DedupOps {

  /** Exact dedup: one representative (min id) per distinct normalized text.
    * SURVEY §2 A4/U3 analog (distinct-set accumulation) generalized to
    * content hashing.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fingerprint", T.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** (id, distinct word shingles) via one tokenization pass — a
    * `mapPartitions` kernel for the same reason as
    * [[hashedShingleRowsPortable]] (a Catalyst shingle expression over
    * `tokens(...)` re-tokenizes per shingle).
    */
  def wordShingleRows(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NOTE (round 17): a KernelSpread here measured NEGATIVE in the full
    // 295-query bench context (+30-70% on shingle consumers q79/q112/
    // q123/q135/q86) despite neutral-positive isolated probes — the
    // tokenize+shingle kernel is too cheap at this SF to pay for the
    // added exchange + stage fan-out. Left unspread deliberately.
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          val sh: Seq[String] =
            if (toks.length < shingleN) Seq.empty
            else (0 to toks.length - shingleN)
              .map(i => toks.slice(i, i + shingleN).mkString(" ")).distinct
          (id, sh)
        }
      }.toDF("id", "sh")
  }

  // ---- Engine-portable (md5-based) near-dup kernels ----------------
  //
  // Every hash is the portable 60-bit md5 prefix
  // (HashFunctions.portableHash60), every arithmetic step stays inside 60
  // unsigned bits, and band keys are the plain '_'-joined signature
  // strings — so the ENTIRE pipeline, from shingles to verified pairs, is
  // reproducible in any md5-bearing SQL engine and the contract queries
  // built on these are hash-checked against DuckDB rather than rows-only.

  /** Candidate near-duplicate pairs via MinHash + LSH banding over
    * precomputed (id, hs) portable shingle hashes
    * ([[hashedShingleRowsPortable]] output), with the md5-derived
    * permutations the DuckDB oracle re-derives.
    *
    * @param numPerms    MinHash signature length (bands * rowsPerBand)
    * @param bands       LSH bands; collision threshold ≈ (1/bands)^(1/rows)
    * @param maxBucketSize drop degenerate buckets larger than this
    */
  def minhashCandidatesFromHashesPortable(hashed: DataFrame,
                                          numPerms: Int = 64, bands: Int = 16,
                                          maxBucketSize: Int = 1000): DataFrame =
    // The capped bucket aggregation consumes the band rows exactly ONCE
    // (the pre-r11 shape fed three branches and persisted them; that
    // persist would now be dead weight that evicts genuinely shared
    // caches like the hashed-shingle table).
    candidatesFromBandRows(
      minhashBandRowsPortable(hashed, numPerms, bands), maxBucketSize)

  /** Portable minhash SIGNATURE rows (id, sig: array[long]) — the
    * shared state a band-parameter sweep reuses. Signatures are the
    * dominant cost (numPerms multiply-mixes per shingle); computing
    * them ONCE and deriving each (bands, rowsPerBand) config's keys
    * with [[bandRowsFromSig]] keeps an N-config sweep at ~1× signature
    * cost instead of N×.
    */
  def minhashSigRowsPortable(hashed: DataFrame, numPerms: Int): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    hashed.select(col("id").cast("long"), col("hs").cast("array<long>"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, hs) =>
          if (hs.isEmpty) Iterator.empty
          else {
            val sig = Array.fill(numPerms)(Long.MaxValue)
            hs.foreach { h =>
              var i = 0
              while (i < numPerms) {
                val (a, b) = portablePerms(i)
                val mixed = (h * a + b) & Mask60
                if (mixed < sig(i)) sig(i) = mixed
                i += 1
              }
            }
            Iterator.single((id, sig))
          }
        }
      }.toDF("id", "sig")
  }

  /** (id, band, bk) rows for ONE banding config over precomputed
    * signatures — a narrow flatMap; composes with
    * [[candidatesFromBandRows]] exactly like the fused
    * [[minhashBandRowsPortable]] (equality spec-asserted).
    */
  def bandRowsFromSig(sigRows: DataFrame, numPerms: Int, bands: Int): DataFrame = {
    val spark = sigRows.sparkSession
    import spark.implicits._
    val rowsPerBand = numPerms / bands
    sigRows.select(col("id").cast("long"), col("sig").cast("array<long>"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, sig) =>
          (0 until bands).iterator.map { b =>
            (id, b, (b * rowsPerBand until (b + 1) * rowsPerBand)
              .map(sig).mkString("_"))
          }
        }
      }.toDF("id", "band", "bk")
  }

  private val Mask60 = (1L << 60) - 1

  /** Deterministic portable permutation constants, derived from md5 so an
    * oracle can re-derive them without a shared constant table:
    * a_i = portable60("graft_perm_a_i") | 1 (odd), b_i = portable60("graft_perm_b_i").
    */
  private[graft] lazy val portablePerms: Array[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(256) { i =>
      (H.portableHash60JVM(md, s"graft_perm_a_$i") | 1L,
       H.portableHash60JVM(md, s"graft_perm_b_$i"))
    }
  }

  /** (id, distinct sorted portable-60-bit shingle hashes) — ONE fused
    * tokenize+shingle+md5 pass whose output feeds both the signature
    * kernel and the verification Jaccard. Long arrays cache and intersect
    * far cheaper than string shingles.
    *
    * Why a `mapPartitions` kernel and not a Catalyst higher-order-function
    * composition (minhash signature over shingles over tokens)? Lambda
    * arguments in nested HOFs are re-evaluated per element: a 16-band
    * transform re-evaluates the 64-perm signature per band, which
    * re-evaluates the shingle construction per perm — a 1000× per-row
    * blowup that Catalyst cannot common-subexpression away (measured:
    * minutes for 1k docs). The kernels are per-row and shuffle-free, and
    * emit only longs.
    */
  def hashedShingleRowsPortable(docs: DataFrame, idCol: String, textCol: String,
                                shingleN: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NOTE (round 17): a KernelSpread here measured NEGATIVE in the full
    // bench context (q165 +35%, q131 +29% vs unspread) — see
    // wordShingleRows. Left unspread deliberately.
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          val hs: Array[Long] =
            if (toks.length < shingleN) Array.empty
            else (0 to toks.length - shingleN)
              .map(i => H.portableHash60JVM(md, toks.slice(i, i + shingleN).mkString(" ")))
              .distinct.sorted.toArray
          (id, hs)
        }
      }.toDF("id", "hs")
  }

  /** (id, band, bk: string) portable band rows. Signature element i =
    * min over shingle hashes h of the low 60 bits of h*a_i + b_i (low-bit
    * truncation commutes with 64-bit wraparound, so plain Long arithmetic
    * here equals 128-bit-then-mod in SQL); band key = the '_'-joined run
    * of rowsPerBand signature values. Documents with no shingles emit no
    * band rows (matching SQL, where they vanish at the unnest).
    */
  def minhashBandRowsPortable(hashed: DataFrame,
                              numPerms: Int, bands: Int): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    val rowsPerBand = numPerms / bands
    hashed.select(col("id").cast("long"), col("hs").cast("array<long>"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, hs) =>
          if (hs.isEmpty) Iterator.empty
          else {
            val sig = Array.fill(numPerms)(Long.MaxValue)
            hs.foreach { h =>
              var i = 0
              while (i < numPerms) {
                val (a, b) = portablePerms(i)
                val mixed = (h * a + b) & Mask60
                if (mixed < sig(i)) sig(i) = mixed
                i += 1
              }
            }
            (0 until bands).iterator.map { b =>
              (id, b, (b * rowsPerBand until (b + 1) * rowsPerBand)
                .map(sig).mkString("_"))
            }
          }
        }
      }.toDF("id", "band", "bk")
  }

  /** Per-permutation portable MinHash signature values (id, i, s) — the
    * estimator itself, exposed for estimator-quality evaluation (q135):
    * the fraction of matching signature positions between two documents
    * is an unbiased estimate of their Jaccard similarity, and auditing
    * that estimate against the exact value on known pairs is how a
    * pipeline picks numPerms/bands before trusting LSH at scale.
    */
  def minhashSignatureRows(hashed: DataFrame, numPerms: Int): DataFrame = {
    val spark = hashed.sparkSession
    import spark.implicits._
    hashed.select(col("id").cast("long"), col("hs").cast("array<long>"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, hs) =>
          if (hs.isEmpty) Iterator.empty
          else {
            val sig = Array.fill(numPerms)(Long.MaxValue)
            hs.foreach { h =>
              var i = 0
              while (i < numPerms) {
                val (a, b) = portablePerms(i)
                val mixed = (h * a + b) & Mask60
                if (mixed < sig(i)) sig(i) = mixed
                i += 1
              }
            }
            (0 until numPerms).iterator.map(i => (id, i, sig(i)))
          }
        }
      }.toDF("id", "i", "s")
  }

  /** Candidate pairs from persisted band rows: degenerate-bucket guard +
    * banded self-join. Key type agnostic (long or string `bk`).
    */
  private[graft] def candidatesFromBandRows(keyed: DataFrame,
                                            maxBucketSize: Int): DataFrame = {
    // ONE partial-aggregated shuffle builds every bucket's member list
    // with state hard-capped at maxBucketSize+1 (graft.functions
    // .CappedList) — an overflowing (degenerate) bucket is detected by
    // size and dropped without ever being held, and the pair explosion
    // runs over the surviving ≤cap arrays in place. The previous shape
    // (oversized-key groupBy + broadcast-anti + a/b self-join) shuffled
    // `keyed` twice AND collected the oversized set to the driver; the
    // 100× scale probe showed that set is DATA-dependent (identical
    // cross-copy texts → every bucket oversized → >1 GiB broadcast →
    // maxResultSize abort). This form never involves the driver.
    keyed.groupBy("band", "bk")
      .agg(graft.functions.CappedList.cappedIds(maxBucketSize)(col("id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, verified with exact n-gram Jaccard over
    * the candidate set only. Every hash is md5-derived — the pairs AND
    * the Jaccard scores are reproducible in DuckDB, so the contract query
    * is hash-checked, not rows-only.
    */
  def minhashNearDupsPortable(docs: DataFrame, idCol: String, textCol: String,
                              threshold: Double = 0.8, shingleN: Int = 3,
                              numPerms: Int = 64, bands: Int = 16,
                              maxBucketSize: Int = 1000): DataFrame = {
    val hs = GraftCache.register(
      hashedShingleRowsPortable(docs, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // band rows have a single consumer since the capped aggregation;
    // only the 3-consumer shingle table (hs) stays persisted
    val cands = candidatesFromBandRows(
      minhashBandRowsPortable(hs, numPerms, bands), maxBucketSize)
    cands
      .join(hs.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "sh_a"), "id_a")
      .join(hs.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "sh_b"), "id_b")
      .withColumn("jaccard", H.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.half4(col("jaccard")).as("jaccard"))
  }

  /** INCREMENTAL near-dup probe: which documents of a NEW batch
    * near-duplicate an EXISTING corpus — without the corpus self-join a
    * full dedup pays. This is the daily-ingest shape at 100 TB: corpus
    * band rows are corpus state computed once (materialize them like the
    * IVF index in production), batch band rows are small, and the
    * candidate join is band-bucketed corpus x batch, so candidate volume
    * scales with the BATCH, not the corpus. The degenerate-bucket guard
    * applies to the corpus side (the skew source). Verification is exact
    * Jaccard over candidate pairs only. Every hash is md5-portable, so
    * the whole probe is reproducible in DuckDB.
    *
    * Returns (batch_id, corpus_id, jaccard) for every batch doc whose
    * similarity to some corpus doc clears `threshold`.
    */
  def minhashProbe(corpus: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double = 0.8, shingleN: Int = 3,
                   numPerms: Int = 64, bands: Int = 16,
                   maxBucketSize: Int = 1000): DataFrame = {
    val ch = GraftCache.register(
      hashedShingleRowsPortable(corpus, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val bh = GraftCache.register(
      hashedShingleRowsPortable(batch, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val ck = minhashBandRowsPortable(ch, numPerms, bands)
    val bk = minhashBandRowsPortable(bh, numPerms, bands)
    // corpus-side bucket guard via the capped-list aggregation (see
    // candidatesFromBandRows): one shuffle, O(cap) state, no driver-
    // collected oversized set. Singleton corpus buckets survive — a
    // lone corpus doc can still match a batch row.
    val cands = ck.groupBy("band", "bk")
      .agg(graft.functions.CappedList.cappedIds(maxBucketSize)(col("id")).as("ids"))
      .where(size(col("ids")) <= maxBucketSize)
      .select(col("band"), col("bk"), explode(col("ids")).as("corpus_id"))
      .join(bk.select(col("band"), col("bk"), col("id").as("batch_id")),
        Seq("band", "bk"))
      .select("batch_id", "corpus_id")
      .distinct()
    cands
      .join(bh.select(col("id").as("batch_id"), col("hs").as("sh_b")), "batch_id")
      .join(ch.select(col("id").as("corpus_id"), col("hs").as("sh_c")), "corpus_id")
      .withColumn("jaccard", H.jaccard(col("sh_b"), col("sh_c")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"),
        Rounding.half4(col("jaccard")).as("jaccard"))
  }

  /** Portable 60-bit SimHash sketches: per-token portable md5 hash votes
    * on 60 counters. Tokenless documents sketch to all-ones (every
    * counter 0 >= 0), mirrored explicitly by the oracle. A kernel, not
    * the Catalyst `aggregate`/`zip_with` form, which boxes one lambda
    * evaluation per counter per token (measured ~2 ms/row).
    */
  def simhashSketchesPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          val counters = new Array[Int](60)
          toks.foreach { t =>
            val h = H.portableHash60JVM(md, t)
            var j = 0
            while (j < 60) {
              if (((h >>> j) & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
              j += 1
            }
          }
          var sh = 0L
          var j = 0
          while (j < 60) { if (counters(j) >= 0) sh |= (1L << j); j += 1 }
          (id, sh)
        }
      }.toDF("id", "sh")
  }

  /** SimHash near-dup pairs: 60-bit sketch, candidates by 15-bit band
    * equality (4 bands ⇒ guaranteed recall for hamming <= 3), verified by
    * exact hamming distance — fully DuckDB-reproducible.
    */
  def simhashNearDupsPortable(docs: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3): DataFrame = {
    val sketched = GraftCache.register(
      simhashSketchesPortable(docs, idCol, textCol)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val banded = sketched.select(
      col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        call_function("shiftright", col("sh"), b * lit(15)).bitwiseAND(lit(0x7FFFL))
      )).as(Seq("band", "bk")))
    val a = banded.select(col("band"), col("bk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bk"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b")
      .distinct()
      .withColumn("hamming", H.hamming(col("sh_a"), col("sh_b")))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Winnowing fingerprints (the MOSS rolling-hash scheme): polynomial
    * rolling hash over char k-grams of the normalized text, then the
    * rightmost-minimum hash of each length-w window, distinct. Two
    * documents sharing any fingerprint share a k-gram run — the standard
    * containment/plagiarism detector. Guarantee: any shared substring of
    * length ≥ w + k - 1 produces at least one shared fingerprint.
    *
    * Kernel-shaped like [[minhashBandRowsPortable]]: per-row,
    * shuffle-free, emits (id, array<long>); at 100 TB the downstream
    * overlap join shuffles only (fingerprint, id) longs.
    */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // KernelSpread: single-row-group scans plan ONE task (guide §2.5) —
    // spread the narrow (id, text) input so the kernel uses every core;
    // no-op when the scan already has >= cores partitions.
    KernelSpread.spread(
      docs.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val B = 1000003L // polynomial base (prime)
        it.map { case (id, raw) =>
          val text = Option(raw).getOrElse("").trim
            .replaceAll("\\s+", " ").toLowerCase
          if (text.length < k) (id, Seq.empty[Long])
          else {
            // rolling hashes of all k-grams
            var pow = 1L
            var i = 1
            while (i < k) { pow *= B; i += 1 }
            val n = text.length - k + 1
            val hs = new Array[Long](n)
            var h = 0L
            i = 0
            while (i < k) { h = h * B + text.charAt(i); i += 1 }
            hs(0) = h
            i = 1
            while (i < n) {
              h = (h - text.charAt(i - 1) * pow) * B + text.charAt(i + k - 1)
              hs(i) = h
              i += 1
            }
            // winnow: rightmost minimum of each w-window
            val picked = scala.collection.mutable.LinkedHashSet[Long]()
            var j = 0
            val lastWindow = n - w
            while (j <= math.max(lastWindow, 0)) {
              var minIdx = j
              var m = j
              val end = math.min(j + w, n)
              while (m < end) { if (hs(m) <= hs(minIdx)) minIdx = m; m += 1 }
              picked += hs(minIdx)
              j += 1
            }
            (id, picked.toSeq)
          }
        }
      }.toDF("id", "fingerprints")
  }

  /** Document pairs whose winnowing-fingerprint CONTAINMENT —
    * shared / min(|A|, |B|) — reaches `minContainment`.
    *
    * Two scale guards, both essential:
    *  - posting-list cap: a fingerprint appearing in more than
    *    `maxPostings` documents is a non-discriminative common substring
    *    (boilerplate); it would fan the self-join out quadratically and
    *    adds no signal, so it is dropped — the same degenerate-bucket
    *    treatment as the LSH `maxBucketSize` guard;
    *  - raw shared-count alone is length-biased (long docs share common
    *    fragments by chance); containment normalizes by the smaller
    *    fingerprint set, so verbatim-inclusion pairs score ~1.0 regardless
    *    of vocabulary overlap noise.
    */
  def fingerprintOverlap(docs: DataFrame, idCol: String, textCol: String,
                         minContainment: Double = 0.9, maxPostings: Int = 100,
                         k: Int = 8, w: Int = 4): DataFrame = {
    // fp has a single consumer since the capped aggregation (rare, the
    // 3-consumer frame, stays persisted below)
    val fp = winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col("id"), explode(col("fingerprints")).as("fp"))
    // containment numerator AND denominator both use the post-cap (rare)
    // sets — mixing the two underestimates containment for docs rich in
    // boilerplate fingerprints. Capped-list aggregation (see
    // candidatesFromBandRows): the boilerplate-fp set is DATA-dependent,
    // so it must never ride a driver-collected broadcast; surviving
    // posting lists (≤ maxPostings) explode back in place.
    val rare = GraftCache.register(
      fp.groupBy("fp")
        .agg(graft.functions.CappedList.cappedIds(maxPostings)(col("id")).as("ids"))
        .where(size(col("ids")) <= maxPostings)
        .select(col("fp"), explode(col("ids")).as("id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = rare.groupBy("id").agg(count(lit(1)).as("nfp"))
    val a = rare.select(col("fp"), col("id").as("id_a"))
    val b = rare.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_fingerprints"))
      .join(sizes.select(col("id").as("id_a"), col("nfp").as("nfp_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nfp").as("nfp_b")), "id_b")
      .withColumn("containment", Rounding.half4(
        col("shared_fingerprints").cast("double") / least(col("nfp_a"), col("nfp_b"))))
      .where(col("containment") >= minContainment)
      .select("id_a", "id_b", "shared_fingerprints", "containment")
  }

  /** Exact n-gram Jaccard similarity for explicitly given id pairs
    * (deterministic, oracle-checkable).
    */
  def pairwiseJaccard(docs: DataFrame, idCol: String, textCol: String,
                      pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = wordShingleRows(docs, idCol, textCol, shingleN)
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Rounding.half4(H.jaccard(col("sh_a"), col("sh_b"))).as("jaccard"))
  }

  /** Connected components over an undirected (id_a, id_b) edge list —
    * the cluster-resolution step a dedup pipeline needs AFTER pair
    * detection: survivors are picked per component, not per pair.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
    * rewrites the edge set:
    *  - large-star: every node u connects its strictly-LARGER neighbors to
    *    m(u) = min(neighbors(u) ∪ u);
    *  - small-star: every node u (edges oriented larger→smaller) connects
    *    its smaller neighbors and itself to the minimum.
    * Both preserve connectivity; their joint fixpoints are rooted stars
    * (every node pointing straight at its component minimum), reached in
    * O(log n) rounds — diameter-independent, unlike min-label propagation
    * whose round count is the component diameter (a chain of length d
    * needs d rounds; this needs ~log d). Each round is ONE Spark action:
    * the (count, splitmix64-xor) set checksum that detects the fixpoint is
    * computed by the same aggregation that materializes the round's
    * persist, so there is no separate "changed" job.
    *
    * Edge payloads are (long, long) pairs throughout — never documents.
    * Returns (id, component = min id reachable); isolated nodes (no
    * edges) are not emitted.
    *
    * The inner loop runs on `RDD[(Long, Long)]` with one shared
    * `HashPartitioner`, not on DataFrames, deliberately:
    *  - every per-round plan would generate FRESH Janino/codegen classes
    *    (new expression ids each round), so an N-round run Janino-compiles
    *    and C2-JITs ~6N classes that execute once — measured as multi-
    *    second background JIT per bench rep dwarfing the actual shuffle
    *    work. The RDD loop compiles nothing per round.
    *  - co-partitioning makes every per-round `reduceByKey`/`join` a
    *    NARROW dependency: each round shuffles exactly three times (the
    *    symmetric view, the large-star output, the canonicalized round
    *    output) and the joins reuse those shuffle files.
    *  - `reduceByKey(min)` keeps map-side combine, so a hot node's
    *    adjacency collapses before the shuffle — the skew profile of
    *    web-scale dedup graphs (celebrity pages, empty documents) is why
    *    a groupBy-then-window form is the wrong trade.
    * Shuffle volume per round is identical to the DataFrame form; at
    * 100 TB the three shuffles carry (long, long) pairs only.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, maxIter)._1

  /** INCREMENTAL connected components: fold two independently-resolved
    * CC states into the state of the union graph WITHOUT re-reading
    * either batch's raw edges.
    *
    * A state is [[connectedComponents]] output — (id, component) star
    * edges, one row per clustered node. Components of A ∪ B are exactly
    * the components of the union of the two STAR graphs (a node shared
    * by both batches bridges its two sub-components through its two
    * star edges), so the merge is one more [[connectedComponents]] run
    * over |nodes(A)| + |nodes(B)| edges — the COMPRESSED state, not the
    * original edge sets, whose size a crawl's pair graph can dwarf.
    * Labels stay canonical: every state's component ids are node ids,
    * so the merged min-reachable label is the global min id of the
    * union component — identical to running CC on A ∪ B directly
    * (oracle-certified by q237, spec'd on adversarial splits).
    *
    * This is the production shape of dedup clustering over a rolling
    * crawl at 100 TB: yesterday's corpus state (one (long, long) row
    * per clustered doc) merges with today's batch state in O(log n)
    * co-partitioned rounds; raw historical edges are never revisited.
    * Associative and commutative — shard states fold in any order.
    */
  def ccMergeStates(stateA: DataFrame, stateB: DataFrame,
                    maxIter: Int = 50): DataFrame =
    connectedComponents(
      stateA.select(col("component").as("id_a"), col("id").as("id_b"))
        .unionByName(
          stateB.select(col("component").as("id_a"), col("id").as("id_b"))),
      maxIter)

  /** [[connectedComponents]] plus the number of rounds executed (the last
    * round is the fixpoint-confirming one) — exposed so tests can assert
    * the O(log n) bound on long chains.
    */
  def connectedComponentsWithRounds(edges: DataFrame,
                                    maxIter: Int = 50): (DataFrame, Int) = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    val spark = edges.sparkSession
    var part = new HashPartitioner(
      math.max(1, spark.sessionState.conf.numShufflePartitions))
    // Routes a ((src, dst), _) pair key by src's hash alone while
    // comparing equal to HashPartitioner(n) — the equality contract
    // ("routes keys to the same partitions") holds for the Long keys the
    // rounds use, so the deduped edge set stays co-partitioned with the
    // src-keyed rounds without a reshuffle.
    // CONTAINMENT INVARIANT: the pair-keyed RDD must never escape
    // `dedupe` below — against another PAIR-keyed RDD partitioned by a
    // real HashPartitioner, the claimed equality would skip a needed
    // shuffle (hash(src) != hash((src, dst))) and silently mis-co-
    // partition. Only the Long-keyed output leaves this function.
    def mkSrcPart(n: Int): HashPartitioner = new HashPartitioner(n) {
      override def getPartition(key: Any): Int = key match {
        case (s, _) => super.getPartition(s)
        case k => super.getPartition(k)
      }
    }
    var srcPart: HashPartitioner = mkSrcPart(part.numPartitions)

    // splitmix64 avalanche — XOR over the edge set gives an order-
    // independent set checksum; (count, checksum) equality across rounds
    // is the fixpoint test, computed by the SAME action that materializes
    // the round's persist (no separate "changed" job).
    def mix(s: Long, d: Long): Long = {
      var z = s * 0x9E3779B97F4A7C15L + d
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def stats(r: RDD[(Long, Long)]): (Long, Long) =
      r.treeAggregate((0L, 0L))(
        { case ((n, x), (s, d)) => (n + 1L, x ^ mix(s, d)) },
        { case ((n1, x1), (n2, x2)) => (n1 + n2, x1 ^ x2) })
    // Spillable global edge dedupe: reduceByKey on the (src, dst) PAIR,
    // routed by src's hash (srcPart) so the output is co-partitioned with
    // the src-keyed reduceByKey/join rounds — narrow downstream, and the
    // map-side combine collapses duplicates before the wire. Spark's
    // external aggregation spills to disk, so a skewed or under-
    // partitioned run degrades instead of OOMing (an on-heap HashSet per
    // partition would hold every distinct edge of the partition with no
    // spill path).
    def dedupe(r: RDD[(Long, Long)]): RDD[(Long, Long)] =
      r.map(e => (e, ())).reduceByKey(srcPart, (a, _) => a)
        .mapPartitions(_.map(_._1), preservesPartitioning = true)

    // Orient larger→smaller (the small-star invariant; both rewrites
    // preserve it) and drop self-loops/duplicates.
    val init: RDD[(Long, Long)] = dedupe(
      edges.select(
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("src"),
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("dst"))
      .where(col("src") =!= col("dst"))
      .rdd.map(r => (r.getLong(0), r.getLong(1))))

    var e = init.persist(StorageLevel.MEMORY_AND_DISK)
    var (prevN, prevChk) = stats(e)
    // Right-size the round partitioner to the DEDUPED edge count (known
    // for free from the same stats action that seeded the fixpoint
    // test) — the subtreeRollupDeep rule applied here. Every round is 3
    // stages over `part`, so a small graph on the full conf width pays
    // rounds × stages × numShufflePartitions empty-task floors: measured
    // at sf0.1, q237's three CC runs spent ~2 of 3.3 s on ~2300 mostly
    // idle tasks. ~64k (long, long) edges per partition keeps per-task
    // work trivially small; at crawl scale the cap never binds (60M
    // edges already want more partitions than the conf provides) so the
    // 100 TB shape — conf-wide co-partitioned rounds — is unchanged.
    val rightSized = math.min(part.numPartitions,
      math.max(1, math.ceil(prevN / 65536.0).toInt))
    // prevN == 0 means the loop below never runs — skip the resize too,
    // or an empty edge set pays a pointless partitionBy + count job
    if (prevN > 0 && rightSized < part.numPartitions) {
      part = new HashPartitioner(rightSized)
      srcPart = mkSrcPart(rightSized)
      val resized = e.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      resized.count() // materialize before dropping the wide parent
      e.unpersist(false)
      e = resized // same edge SET: prevN/prevChk stay valid
    }
    var converged = prevN == 0L
    var i = 0
    // NOTE (round 18): q167/q248-style 2-round batching (one action per
    // pair, batch-end checksum equality — exact because the monotone
    // rewrites cannot 2-cycle) was measured and REVERTED: +25-40% on
    // ALL five CC consumers (same-window A/B probes: q63 1.33→1.68,
    // q237 2.22→3.07, q81 1.33→1.74, q82 1.18→1.41, q176 1.44→1.96).
    // Star CC converges in 3-6 rounds here, so batch-granular
    // convergence detection pays up to TWO extra full 3-shuffle rounds
    // (pairing + confirm-by-batch) — more than the per-round job floor
    // + stats pass it saves. Batching wins on DEEP fixed-depth loops
    // (q167's 50 hops, q248's tall trees), not on O(log n) loops whose
    // round count is already tiny.
    while (!converged && i < maxIter) {
      // large-star over the symmetric view: for each edge (u,v) with
      // v > u, emit (v, m(u)) where m(u) = min(u ∪ neighbors(u)).
      // Output stays larger→smaller since v > u >= m(u).
      val sym = e.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
        .partitionBy(part) // shuffle 1 (2|E|); both consumers below reuse it
      val minN = sym.reduceByKey(part, math.min(_: Long, _: Long)) // narrow: co-partitioned
      val large = sym.join(minN).flatMap { case (u, (v, mn)) =>
        if (v > u) Iterator((v, math.min(u, mn))) else Iterator.empty
      }
      // small-star on the oriented output: per larger-endpoint group,
      // point every smaller neighbor (and the endpoint itself) at the min.
      val largeP = large.partitionBy(part) // shuffle 2
      val minS = largeP.reduceByKey(part, math.min(_: Long, _: Long)) // narrow
      val small = largeP.join(minS).flatMap { case (_, (d, m)) =>
        if (d != m) Iterator((d, m)) else Iterator.empty
      }.union(minS)
      // shuffle 3 canonicalizes the round: spillable dedupe with map-side
      // combine, output co-partitioned with `part` for the next round
      val next = dedupe(small).persist(StorageLevel.MEMORY_AND_DISK)
      val (n1, chk1) = stats(next) // the round's ONE action
      converged = n1 == prevN && chk1 == prevChk
      e.unpersist(false)
      e = next; prevN = n1; prevChk = chk1
      i += 1
    }
    // At the star fixpoint every non-root appears exactly once as src,
    // pointing at its component min; roots appear only as dst. The min
    // reduce guards the maxIter-without-convergence edge (never picks a
    // worse label than the star edge). All three steps are narrow over e.
    val comps = e.reduceByKey(part, math.min(_: Long, _: Long))
    val roots = e.map { case (_, d) => (d, d) }.reduceByKey(part, math.min(_: Long, _: Long))
      .subtractByKey(comps, part)
    val out = comps.union(roots).map { case (id, c) =>
      org.apache.spark.sql.Row(id, c)
    }
    // released by the caller's GraftCache cycle; the returned frame stays
    // recomputable afterwards (lineage re-reads the final round's shuffle)
    GraftCache.registerRdd(spark, e)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false)))
    (spark.createDataFrame(out, schema), i)
  }

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023,
    * arXiv:2303.09540): embedding near-duplicate pairs (hyperplane-LSH
    * bucketed, exact-cosine verified) → connected components → keep ONE
    * representative (the min id) per semantic cluster. Returns every
    * input row as (id, cluster, keep); singletons are their own cluster
    * and always kept.
    *
    * Scale shape: the pair graph carries only (long, long) edges, the
    * component resolution is the O(log n)-round star algorithm, and the
    * final labeling is one equi-join of (id) against (id, component) —
    * embeddings themselves never shuffle past the LSH bucketing stage.
    */
  def semanticDedup(embeddings: DataFrame, minCosine: Double = 0.95,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val pairs = SimilarityOps
      .embeddingNearDupsPortable(embeddings, minCosine, idCol = idCol, vecCol = vecCol)
      .select("id_a", "id_b")
    val comps = connectedComponents(pairs)
    embeddings.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster"),
        (coalesce(col("component"), col("id")) === col("id")).as("keep"))
  }

  /** EXACT similarity join via prefix filtering (PPJoin family,
    * Xiao et al. WWW 2008) — the no-false-negative alternative to
    * MinHash-LSH: two documents with Jaccard ≥ t MUST share at least
    * one shingle among each document's (n − ⌈t·n⌉ + 1) globally rarest
    * shingles, because J ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, and missing every
    * prefix element leaves at most n − prefix < ⌈t·n⌉ shared. So the
    * candidate join runs on PREFIXES only; exact Jaccard verifies.
    *
    * Scale shape: shingle doc-frequencies partial-aggregate; the
    * global rarity order makes prefixes land on RARE shingles, so
    * prefix buckets stay small exactly where a naive shingle join
    * explodes (stop-shingles rank last and almost never enter a
    * prefix). One per-doc window (bounded by shingle count) ranks
    * shingles; verification is candidate-bounded, reusing the portable
    * md5 shingle hashes so the whole join is oracle-reproducible.
    */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
                       minJaccard: Double = 0.7,
                       shingleN: Int = 3): DataFrame = {
    val hs = GraftCache.register(
      hashedShingleRowsPortable(docs, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK))
    prefixFilterJoinFromHashes(hs, minJaccard)
  }

  /** [[prefixFilterJoin]] over a PRECOMPUTED (id, hs) shingle-hash
    * table — lets one materialized shingle pass feed both this exact
    * join and the LSH pipeline (the q165 eval runs both sides from one
    * pass).
    */
  def prefixFilterJoinFromHashes(hs: DataFrame,
                                 minJaccard: Double): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    // n (per-doc distinct-shingle count) reads straight off the array:
    // the shingle kernels emit hs DISTINCT per doc, so size(hs) equals
    // the count(*)-over-(id)-window the round-17 shape computed — one
    // whole WindowExec pass over the ranked frame deleted (round 18;
    // the row_number window below is the only remaining one, and it IS
    // the prefix selection). Long cast keeps n's type identical to the
    // old count(*) so every downstream comparison is unchanged.
    val sh = hs.select(col("id"), size(col("hs")).cast("long").as("n"),
      explode(col("hs")).as("h"))
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy("id").orderBy("df", "h")
    val pref = sh.join(dfh, "h")
      .withColumn("rnk", row_number().over(wRank))
      .where(col("rnk") <= col("n") - ceil(col("n") * minJaccard) + lit(1))
      .select(col("id"), col("h"), col("rnk"), col("n"))
    // PPJoin's candidate filters, both implied by J >= t so they can
    // only remove false candidates:
    //  - size: |A∩B| <= min and |A∪B| >= max force min >= t * max;
    //  - positional: the overlap still reachable from match positions
    //    (pa, pb) is 1 + min(na - pa, nb - pb), and J >= t forces the
    //    total overlap m to satisfy m(1 + t) >= t(na + nb).
    // Without them a low-vocabulary corpus (many shared shingles)
    // degenerates toward the all-pairs join.
    val eps = 1e-9
    val cand = pref.select(col("h"), col("id").as("id_a"),
        col("rnk").as("pa"), col("n").as("na"))
      .join(pref.select(col("h"), col("id").as("id_b"),
        col("rnk").as("pb"), col("n").as("nb")), Seq("h"))
      .where(col("id_a") < col("id_b"))
      .where(least(col("na"), col("nb")).cast("double") >=
        greatest(col("na"), col("nb")) * lit(minJaccard) - lit(eps))
      .where((lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")))
        .cast("double") * lit(1.0 + minJaccard) >=
        (col("na") + col("nb")) * lit(minJaccard) - lit(eps))
      .select("id_a", "id_b").distinct()
    cand
      .join(hs.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(hs.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
      .withColumn("jaccard", H.jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"),
        Rounding.half4(col("jaccard")).as("jaccard"))
  }

  /** Per-document corpus-frequent n-gram exposure — the repeated-span
    * contamination signal of Lee et al. (ACL 2022, "Deduplicating
    * Training Data Makes Language Models Better"): a shingle occurring
    * in ≥ `minDf` distinct documents is boilerplate/template text, and
    * a document dominated by such shingles is low-value even when no
    * single whole-doc duplicate exists (the case exact dedup and
    * MinHash both miss).
    *
    * Returns (id, n_shingles, n_frequent, frequent_bp, flagged):
    * distinct n-gram count, how many of those are corpus-frequent, the
    * frequent fraction in integer basis points (hash-exact), and the
    * ≥50% flag.
    *
    * Scale shape: one shingle pass per doc (the [[wordShingleRows]]
    * kernel), doc-frequency by partial-aggregated count of ALREADY
    * per-doc-distinct shingles, and the frequent set — bounded by how
    * much text is actually boilerplate — comes back as a semi-join
    * that AQE broadcasts when small. Raw shingles cross the wire once.
    */
  def frequentShingleStats(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, minDf: Long): DataFrame = {
    val pairs = wordShingleRows(docs, idCol, textCol, shingleN)
      .select(col("id"), explode(col("sh")).as("s"))
    val freq = pairs.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf).select("s")
    val tot = pairs.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val nf = pairs.join(freq, Seq("s"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_frequent"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(tot, Seq("id"), "left").join(nf, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_frequent"), lit(0L)).as("n_frequent"))
      .withColumn("frequent_bp",
        when(col("n_shingles") === 0L, lit(0L))
          .otherwise(expr("(n_frequent * 10000) div n_shingles")))
      .withColumn("flagged", col("frequent_bp") >= 5000L)
  }

  /** (id, pos, h) portable window-hash rows: one row per w-token window
    * occurrence, positions kept (unlike [[hashedShingleRowsPortable]],
    * which dedups per doc — span dedup needs every occurrence).
    * h = low-60-bit md5 of the space-joined window, the same portable
    * convention as the shingle kernels.
    */
  def windowHashRowsPortable(docs: DataFrame, idCol: String, textCol: String,
                             w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = Option(text).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          if (toks.length < w) Iterator.empty
          else (0 to toks.length - w).iterator.map { i =>
            (id, i.toLong, H.portableHash60JVM(md, toks.slice(i, i + w).mkString(" ")))
          }
        }
      }.toDF("id", "pos", "h")
  }

  /** B^j for the content-defined-chunking polynomial (B = 257, w = 8).
    * The powers themselves are exact (257^7 < 2^60), but a per-term
    * product char * 257^7 can exceed Long range for non-ASCII chars (up
    * to 0xFFFF * 257^7 ≈ 4.8e21): the Long arithmetic then wraps mod
    * 2^64. The kernel is still correct because the final value is masked
    * to 60 bits and 2^60 divides 2^64, so wrapped-mod-2^64 arithmetic
    * masked to 60 bits is congruent to the exact polynomial mod 2^60 —
    * which is what the oracle's HUGEINT arithmetic computes. A mask
    * width that did NOT divide 64 would break this congruence; keep the
    * mask a power of two ≤ 2^63 if it ever changes.
    */
  private val CdcPows: Array[Long] =
    Iterator.iterate(1L)(_ * 257L).take(8).toArray

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** Content-defined chunking (the rsync/LBFS/storage-dedup primitive):
    * whitespace-normalized text is cut wherever the 8-char polynomial
    * rolling hash (base 257, mod 2^60) of the window ENDING at that
    * character has its low 6 bits zero — expected chunk ≈ 64 chars —
    * plus a final chunk to end-of-string. Because boundaries depend only
    * on local content, a shared run between two documents re-synchronizes
    * to IDENTICAL interior chunks regardless of how different their
    * prefixes are — the property that lets chunk-hash dedup (and
    * delta-sync) find shared content that whole-document hashing misses.
    * Returns (id, chunk_idx 1.., start_pos 0-based, chunk_len,
    * chunk_md5); empty documents emit no chunks.
    *
    * Scale shape: pure narrow kernel — one pass, no shuffle at all; the
    * downstream chunk-level dedup is [[exactDedup]]'s (digest, id)
    * shuffle on the chunk hashes.
    */
  def contentDefinedChunks(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = 8
    // KernelSpread: single-row-group scans plan ONE task (guide §2.5) —
    // spread the narrow (id, text) input so the kernel uses every core;
    // no-op when the scan already has >= cores partitions.
    KernelSpread.spread(
      docs.select(col(idCol).cast("long"), col(textCol).cast("string")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val t = Option(text).getOrElse("").trim.replaceAll("\\s+", " ")
          val n = t.length
          if (n == 0) Iterator.empty
          else {
            val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
            var i = w
            while (i <= n) {
              var h = 0L
              var j = 0
              while (j < w) { h += t.charAt(i - 1 - j).toLong * CdcPows(j); j += 1 }
              h &= Mask60
              if ((h & 63L) == 0L) ends += i
              i += 1
            }
            if (ends.isEmpty || ends.last != n) ends += n
            var start = 0
            ends.iterator.zipWithIndex.map { case (e, k) =>
              val s0 = start
              start = e
              (id, (k + 1).toLong, s0.toLong, (e - s0).toLong,
                md5Hex(md, t.substring(s0, e)))
            }
          }
        }
      }.toDF("id", "chunk_idx", "start_pos", "chunk_len", "chunk_md5")
  }

  /** Per-document novelty score: the fraction (basis points, truncating
    * div) of a doc's w-token window occurrences that are CANONICAL —
    * i.e. the corpus-wide first occurrence (min (id, pos)) of their
    * window hash. Docs ordered by id = arrival order, so this is "how
    * much of this doc is first-seen content": the data-valuation signal
    * that ranks a crawl batch before paying to train on it. A doc of
    * pure boilerplate scores ~0; the doc that INTRODUCED the boilerplate
    * still scores high. Returns (id, n_windows, n_novel, novelty_bp);
    * docs with fewer than w tokens report 0 windows and novelty 10000
    * (nothing repeated, by convention).
    *
    * Scale shape: same as [[duplicatedSpanDedup]] minus the rewrite —
    * one narrow kernel pass, one partial-aggregated min on the hash,
    * one equi-join back, one per-doc count. Nothing quadratic.
    */
  def noveltyScore(docs: DataFrame, idCol: String, textCol: String,
                   w: Int): DataFrame =
    noveltyFromState(docs, idCol, textCol, w,
      noveltyState(docs, idCol, textCol, w))

  /** [[noveltyScore]]'s sufficient statistics, MERGEABLE across corpus
    * batches: per window hash, (occurrence count, min (id, pos)). Both
    * components merge by a commutative/associative op (sum, min), so
    * state(A) ⊕ state(B) == state(A ∪ B) — an incremental corpus keeps
    * one state table and folds each ingest batch in, never rescanning
    * history (the q173 k-means pattern applied to dedup machinery).
    */
  def noveltyState(docs: DataFrame, idCol: String, textCol: String,
                   w: Int): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
    windowHashRowsPortable(base, "id", "text", w)
      .groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(struct(col("id"), col("pos"))).as("first"))
  }

  /** Fold two [[noveltyState]]s: counts add, first occurrences take the
    * struct min.
    */
  def noveltyMergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("h")
      .agg(sum(col("cnt")).as("cnt"), min(col("first")).as("first"))

  /** Derive per-doc novelty from a (possibly merged) [[noveltyState]]:
    * one more window pass over the docs being scored, LEFT-joined to the
    * state on the hash. A window absent from the state (scoring new docs
    * against a history-only state that was never folded over them) is by
    * definition a first occurrence and counts as novel — an inner join
    * here would silently drop exactly the most-novel windows from both
    * the numerator and the denominator.
    */
  def noveltyFromState(docs: DataFrame, idCol: String, textCol: String,
                       w: Int, state: DataFrame): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
    val occ = windowHashRowsPortable(base, "id", "text", w)
    val canon = state.select(col("h"),
      col("first").getField("id").as("cid"),
      col("first").getField("pos").as("cpos"))
    val flagged = occ.join(canon, Seq("h"), "left")
      .groupBy("id").agg(count(lit(1)).as("n_windows"),
        sum(when(col("cid").isNull ||
            (col("id") === col("cid") && col("pos") === col("cpos")), 1L)
          .otherwise(0L)).as("n_novel"))
    base.select(col("id")).join(flagged, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_bp",
        when(col("n_windows") === 0L, lit(10000L))
          .otherwise(expr("(n_novel * 10000) div n_windows")))
  }

  /** Exact duplicated-span dedup (the repeated-substring removal of
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2021, on token windows): every w-token window occurrence is
    * hashed; a hash seen more than once corpus-wide (across OR within
    * documents) is a duplicated span; every occurrence except the
    * canonical first one (minimum (id, pos)) marks its w token positions
    * for removal, overlapping spans merging by position-set union.
    * Documents are rewritten from the surviving tokens in order —
    * whitespace-normalized, so untouched docs come back `\s+`-joined.
    * Returns (id, n_tokens, n_removed, clean_text).
    *
    * Scale shape: the window kernel is one narrow pass (no payload
    * shuffle); duplicate detection is a partial-aggregated count+min on
    * the 60-bit hash — never the window text; the removal join fans out
    * per occurrence (linear, even on a span repeated 10^9 times, because
    * the canonical representative is an aggregate, not a row list);
    * positions-to-remove regroup on doc id, bounded per doc by its own
    * token count. No stage is quadratic in corpus size.
    */
  def duplicatedSpanDedup(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
    val occ = windowHashRowsPortable(base, "id", "text", w)
    // Canonical occurrence per duplicated hash: min (id, pos). Kept as a
    // struct min so it partial-aggregates map-side and never overflows,
    // whatever the id range.
    val canon = occ.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(struct(col("id"), col("pos"))).as("first"))
      .where(col("cnt") > 1L)
      .select(col("h"), col("first").getField("id").as("cid"),
        col("first").getField("pos").as("cpos"))
    val rmPositions = occ.join(canon, "h")
      .where(!(col("id") === col("cid") && col("pos") === col("cpos")))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + lit(w - 1L))).as("t"))
      .groupBy("id").agg(collect_set(col("t")).as("rmpos"))
    base.join(rmPositions, Seq("id"), "left")
      .select(col("id"), col("text"),
        coalesce(col("rmpos"), array().cast("array<long>")).as("rmpos"))
      .as[(Long, String, Seq[Long])]
      .map { case (id, text, rmpos) =>
        val toks = Option(text).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
        val rm = rmpos.toSet
        val kept = toks.iterator.zipWithIndex
          .collect { case (tk, i) if !rm.contains(i.toLong) => tk }.toArray
        (id, toks.length.toLong, (toks.length - kept.length).toLong, kept.mkString(" "))
      }.toDF("id", "n_tokens", "n_removed", "clean_text")
  }

  /** Asymmetric shingle CONTAINMENT C(probe → host) =
    * |S(probe) ∩ S(host)| / |S(probe)| — quote/plagiarism detection. A
    * short passage lifted verbatim from a long document has containment
    * ≈ 1 while its Jaccard is tiny (the union is dominated by the host),
    * so the symmetric near-dup stack structurally misses it; containment
    * is the right asymmetric measure for "is this snippet FROM that
    * corpus".
    *
    * Shape: the [[hashedShingleRowsPortable]] kernel on both sides, then
    * a shingle-hash equi-join guarded by corpus-side document frequency
    * (shingles appearing in > maxDf hosts are boilerplate — joining them
    * would square the candidate set; they still count in the probe
    * denominator, so an all-boilerplate probe scores LOW, not high).
    * Match counts partial-aggregate per (probe, host); only pairs
    * clearing minBp survive.
    *
    * Returns (probe_id, host_id, n_match, n_probe, containment_bp).
    */
  def containmentScores(corpus: DataFrame, probes: DataFrame,
                        idCol: String, textCol: String, shingleN: Int = 3,
                        maxDf: Long = 1000L, minBp: Long = 8000L): DataFrame = {
    val ch = hashedShingleRowsPortable(corpus, idCol, textCol, shingleN)
      .select(col("id").as("host_id"), explode(col("hs")).as("h"))
    val ph0 = hashedShingleRowsPortable(probes, idCol, textCol, shingleN)
    val sizes = ph0.where(size(col("hs")) > 0)
      .select(col("id").as("probe_id"), size(col("hs")).cast("long").as("n_probe"))
    val ph = ph0.select(col("id").as("probe_id"), explode(col("hs")).as("h"))
    val dfGuard = ch.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("h"))
    ch.join(dfGuard, "h").join(ph, "h")
      .where(col("probe_id") =!= col("host_id"))
      .groupBy("probe_id", "host_id").agg(count(lit(1)).as("n_match"))
      .join(sizes, "probe_id")
      .select(col("probe_id"), col("host_id"), col("n_match"), col("n_probe"),
        expr("(n_match * 10000) div n_probe").as("containment_bp"))
      .where(col("containment_bp") >= minBp)
  }
}

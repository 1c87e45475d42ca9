package graft.operators

import graft.functions.{HashFunctions, Rounding}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-min sketch over a key column: the fixed-size, MERGEABLE
  * frequency summary a 100 TB pipeline keeps when exact per-key counts
  * are too big to retain (Cormode & Muthukrishnan, J. Algorithms 2005).
  *
  * The sketch is a (depth x width) grid of counters; row k counts
  * collisions of h_k(key). Point estimate = min over rows — always an
  * OVERestimate (collisions only add), within eps*N with probability
  * 1 - delta for width = e/eps, depth = ln(1/delta).
  *
  * Scale shape: building is one map-side-combinable aggregation over
  * (k, bucket) — the shuffle carries at most depth*width rows per
  * partition regardless of input size. Sketches MERGE by elementwise
  * sum (same (k, bucket) grid), so per-day/per-shard sketches roll up
  * without touching raw data — the materialized-view-maintenance shape,
  * asserted in SketchOpsSpec.
  *
  * Hashing is [[HashFunctions.portableHash60]] (md5-based) so the exact
  * same sketch is derivable in any engine — the DuckDB oracle rebuilds
  * it bit-for-bit (q103).
  */
object SketchOps {

  private def bucketed(rows: DataFrame, keyCol: String,
                       depth: Int, width: Int): DataFrame = {
    val hashes = (0 until depth).map { k =>
      struct(lit(k).as("h"),
        pmod(HashFunctions.portableHash60(
          concat(lit(s"$k:"), col(keyCol).cast("string"))), lit(width.toLong))
          .as("bucket"))
    }
    rows.select(col(keyCol), explode(array(hashes: _*)).as("hb"))
      .select(col(keyCol), col("hb.h").as("h"), col("hb.bucket").as("bucket"))
  }

  /** Build the sketch: one (h, bucket, n) row per non-empty counter. */
  def cmsBuild(rows: DataFrame, keyCol: String,
               depth: Int = 4, width: Int = 1024): DataFrame =
    bucketed(rows, keyCol, depth, width)
      .groupBy("h", "bucket").agg(count(lit(1)).as("n"))

  /** Merge sketches built with the same (depth, width): elementwise sum. */
  def cmsMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionByName _).groupBy("h", "bucket")
      .agg(sum("n").as("n"))

  /** Point-estimate the count of every key in `keys`: min over the
    * depth rows of the key's counters. Keys absent from the sketch
    * estimate 0 (all their counters empty).
    */
  def cmsEstimate(cms: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame =
    bucketed(keys, keyCol, depth, width)
      .join(cms, Seq("h", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("n"), lit(0L))).as("cms_n"))

  /** HyperLogLog registers over a key column (Flajolet et al. 2007):
    * bucket = low `p` bits of the portable hash, rho = leading-zero run
    * of the remaining 60-p bits + 1, register = max(rho) per bucket.
    * Registers MERGE by elementwise max — the distinct-count roll-up a
    * 100 TB pipeline keeps per shard/day (asserted in SketchOpsSpec).
    *
    * rho is derived from `length(bin(w))` — bin() renders without
    * leading zeros identically in Spark and DuckDB, so the registers
    * (and therefore the estimate) are bit-identical cross-engine.
    */
  def hllRegisters(rows: DataFrame, keyCol: String, p: Int = 6): DataFrame =
    hllRegistersBy(rows, keyCol, Nil, p)

  /** The row-local HLL projection: (bucket, rho) columns for a key —
    * the sketch math [[hllRegistersBy]] reduces by max per register.
    */
  def hllBucketRho(key: org.apache.spark.sql.Column,
                   p: Int = 6): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val h = HashFunctions.portableHash60(key.cast("string"))
    val window = 60 - p
    val w = shiftright(h, p)
    val rho = when(w === 0L, lit(window + 1))
      .otherwise(lit(window + 1) - length(bin(w)))
    (h.bitwiseAND(lit((1L << p) - 1)), rho)
  }

  /** [[hllRegisters]] with extra grouping columns — one register set per
    * group (per day, per shard, ...), ready for windowed or rolled-up
    * merges by register max.
    */
  def hllRegistersBy(rows: DataFrame, keyCol: String,
                     groupCols: Seq[String], p: Int = 6): DataFrame = {
    val (bucket, rho) = hllBucketRho(col(keyCol), p)
    rows.select(groupCols.map(col) ++ Seq(
        bucket.as("bucket"), rho.as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*).agg(max("rho").as("r"))
  }

  /** Raw HLL estimate from [[hllRegisters]] — ONE row with the exact
    * integer sketch state and the double estimate.
    *
    * The harmonic sum is computed as an INTEGER: sum of 2^(window+1-r)
    * per register plus 2^(window+1) per empty register (= sum 2^-r
    * scaled by 2^(window+1)) — accumulation-order independent, so the
    * oracle reproduces the estimate to the last bit; the only floating
    * ops are the final constant multiply and one division, both exactly
    * rounded. Raw estimator only (no small/large-range correction — the
    * corrections need ln(), which is not exactly reproducible
    * cross-engine; at n >= 2.5m the raw estimator is the standard one).
    */
  def hllEstimate(rows: DataFrame, keyCol: String, p: Int = 6): DataFrame =
    hllEstimateFromRegisters(hllRegisters(rows, keyCol, p), Nil, p)

  /** Estimate from a (groupCols..., bucket, r) register frame — one row
    * per group with the exact integer sketch state and the double
    * estimate (see [[hllEstimate]] for the determinism argument).
    */
  def hllEstimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
                               p: Int = 6): DataFrame = {
    val m = 1 << p
    val scaleBits = 60 - p + 1
    // alpha_64 = 0.709 (the HLL paper's constant for m = 64; m >= 128
    // uses 0.7213/(1 + 1.079/m)). The literal below is
    // 0.709 * 64 * 64 * 2^55 evaluated left-assoc in IEEE doubles; the
    // printed 17-sig-digit form round-trips to the same double in
    // DuckDB (checked), so both engines divide the identical constant.
    require(p == 6, "estimate constants are wired for p = 6 (m = 64)")
    val alphaM2Scale = 1.0462993238608057e20
    val agged =
      if (groupCols.isEmpty)
        regs.agg(count(lit(1)).as("n_reg"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), $scaleBits - r)")).as("s_nonempty"))
      else
        regs.groupBy(groupCols.map(col): _*)
          .agg(count(lit(1)).as("n_reg"),
            sum(expr(s"shiftleft(CAST(1 AS BIGINT), $scaleBits - r)")).as("s_nonempty"))
    agged
      .select(groupCols.map(col) ++ Seq(col("n_reg"),
        (col("s_nonempty") + (lit(m.toLong) - col("n_reg")) * lit(1L << scaleBits))
          .as("s_scaled")): _*)
      .select(groupCols.map(col) ++ Seq(col("n_reg"), col("s_scaled"),
        Rounding.half2(lit(alphaM2Scale) / col("s_scaled").cast("double"))
          .as("hll_est")): _*)
  }

  /** Equi-join cardinality estimate from two count-min sketches
    * (Cormode & Muthukrishnan): |A ⋈ B| ≈ min over rows k of
    * Σ_bucket a_k[b]·b_k[b] — the inner product distributes over hash
    * collisions, so every row's sum OVERestimates and the min is the
    * classic upper-bound estimate. This is the optimizer-statistics
    * primitive: two fixed-size sketches (built independently, possibly
    * on different clusters on different days) predict a join's size
    * without touching either table again.
    *
    * A depth row whose occupied buckets don't overlap at all has inner
    * product 0 — the tightest possible estimate — so every anchor row
    * enters the min with a coalesced 0 default rather than silently
    * dropping out of the inner join (disjoint-key sketches must
    * estimate 0, not the smallest colliding row).
    *
    * The anchor rows are DERIVED from the sketches (the h values
    * present in both — a non-empty CMS populates every one of its
    * depth rows, since each key hashes into each row), so the estimate
    * can never be poisoned by a depth argument that disagrees with how
    * the sketches were built: mismatched depths fall back to the
    * common rows (each still a valid upper bound), and an EMPTY sketch
    * — an empty table — estimates 0 via the outer coalesce.
    *
    * Returns one row (est_join_size). All-integer, so the oracle
    * reproduces it exactly.
    */
  def cmsJoinCardinality(cmsA: DataFrame, cmsB: DataFrame): DataFrame = {
    val a = cmsA.select(col("h"), col("bucket"), col("n").as("na"))
    val b = cmsB.select(col("h"), col("bucket"), col("n").as("nb"))
    val dots = a.join(b, Seq("h", "bucket"))
      .groupBy("h").agg(sum(col("na") * col("nb")).as("dot"))
    val anchors = cmsA.select("h").intersect(cmsB.select("h"))
    anchors.join(dots, Seq("h"), "left")
      .agg(coalesce(min(coalesce(col("dot"), lit(0L))), lit(0L))
        .as("est_join_size"))
  }

  /** Fold two [[hllRegisters]] frames: register-wise max. Because every
    * register is a max over per-key rhos, max is the exact merge —
    * state(A) ⊕ state(B) == state(A ∪ B), register for register, so
    * shard sketches built independently estimate the union as if built
    * in one pass (q186 certifies this against the direct oracle).
    */
  def hllMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(max(col("r")).as("r"))

  /** Misra–Gries heavy-hitter summary (Misra & Gries, Sci. Comput.
    * Program. 1982) in its deterministic BATCH form: reduce exact
    * (key, est) counter rows to at most `k` survivors by subtracting
    * the (k+1)-th largest counter value t from every counter and
    * dropping the non-positive remainder. At most k values can exceed
    * t, and (k+1) counters ≥ t sum to ≤ n, so t ≤ n/(k+1) — every
    * surviving estimate satisfies f(x) ≥ est(x) ≥ f(x) − n/(k+1), the
    * classic MG guarantee, while the state stays O(k) regardless of
    * input size. Unlike the streaming formulation this batch reduce is
    * arrival-order-free: t is a pure function of the count multiset,
    * so any engine derives the identical summary (q241's oracle does).
    *
    * Summaries MERGE (Agarwal et al., PODS 2012, "Mergeable
    * Summaries", thm. 1): sum counters key-wise across shards, then
    * re-reduce with the same k. Errors add — the merged summary is a
    * valid MG summary of the union with error ≤ n_total/(k+1) — which
    * is exactly the per-shard/per-day heavy-hitter roll-up a 100 TB
    * deployment ships: O(k) rows per shard instead of a full key
    * re-shuffle.
    *
    * Scale shape: one map-side-combinable count shuffle, then a
    * bounded TakeOrderedAndProject over k+1 rows whose (count, min)
    * folds to the 1-row threshold t broadcast back over the counter
    * frame — no global sort, no driver-side data. The min over the
    * top-(k+1) counts is tie-order-independent (the top-(k+1) count
    * MULTISET is unique even when key order among ties is not).
    */
  def mgReduce(counts: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val thresh = counts.orderBy(col("est").desc).limit(k + 1)
      .agg(count(lit(1)).as("n_top"), min("est").as("min_top"))
      .select(when(col("n_top") === k + 1, col("min_top"))
        .otherwise(lit(0L)).as("t"))
    counts.crossJoin(broadcast(thresh))
      .where(col("est") > col("t"))
      .select(col(keyCol), (col("est") - col("t")).as("est"))
  }

  /** Build the ≤ k-counter MG summary of a key column: exact counts
    * (map-side combinable) reduced by [[mgReduce]].
    */
  def mgSummary(rows: DataFrame, keyCol: String, k: Int): DataFrame =
    mgReduce(rows.groupBy(keyCol).agg(count(lit(1)).as("est")), keyCol, k)

  /** Fold two MG summaries built with the same k: key-wise counter sum
    * (missing key = 0), then one re-reduce. q241 certifies the merged
    * estimates and the n/(k+1) error bound against the direct oracle.
    */
  def mgMerge(a: DataFrame, b: DataFrame, keyCol: String, k: Int): DataFrame =
    mgReduce(
      a.unionByName(b).groupBy(keyCol).agg(sum("est").as("est")),
      keyCol, k)

  /** KMV (k-minimum-values) distinct sketch (Bar-Yossef et al.,
    * RANDOM 2002): keep the k smallest DISTINCT
    * [[HashFunctions.portableHash60]] values of the key. Uniform hashes
    * cut the 60-bit domain into n+1 near-equal gaps, so the k-th order
    * statistic sits near k/n of the range — inverting gives the
    * distinct count. HLL (q104/q186) estimates cheaper per byte; KMV's
    * sketch is a SET of real hash values, so two sketches also support
    * intersection/Jaccard estimates, which registers cannot.
    *
    * Scale shape: map-side-combinable distinct over hashes, then ONE
    * TakeOrderedAndProject bottom-k — never a global sort; the shuffle
    * carries at most one row per distinct hash per partition.
    */
  def kmvSketch(rows: DataFrame, keyCol: String, k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    rows.select(HashFunctions.portableHash60(col(keyCol)).as("h"))
      .distinct().orderBy("h").limit(k)
  }

  /** Merge KMV sketches built with the same k: union, re-take the
    * bottom-k. Bottom-k is a monotone selector, so
    * bottomK(bottomK(A) ∪ bottomK(B)) == bottomK(A ∪ B) exactly — the
    * merge law q191 certifies against the direct one-pass oracle.
    */
  def kmvMerge(k: Int, sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionByName _).distinct().orderBy("h").limit(k)

  /** Estimate the distinct count from a KMV sketch: (k-1) · 2^60 / h_(k)
    * when the sketch is full; a sketch holding fewer than k hashes has
    * seen EVERY distinct value, so the count is exact there. Both
    * factors of the full-sketch formula are exactly representable
    * doubles ((k-1) ≤ 2^53/2^60 of the product's significand; 2^60 is a
    * power of two), so one IEEE multiply + divide + floor is
    * bit-identical in any engine evaluating the same ops.
    */
  /** The bit-exactness-critical KMV estimate expression, shared by
    * [[kmvEstimate]] and [[kmvIntersect]] so the formula can never
    * desynchronize between the two estimators: exact when the sketch
    * holds fewer than k hashes, else (k−1)·2^60/h_(k) floored.
    */
  private def kmvEstCol(n: org.apache.spark.sql.Column,
                        kthMin: org.apache.spark.sql.Column,
                        k: Int): org.apache.spark.sql.Column =
    when(n < k, n)
      .otherwise(floor(lit((k - 1).toDouble) *
        lit(1152921504606846976L).cast("double") /
        kthMin.cast("double")).cast("long"))

  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.agg(count(lit(1)).as("n_sketch"), max("h").as("kth_min"))
      .select(col("n_sketch"), col("kth_min"),
        kmvEstCol(col("n_sketch"), col("kth_min"), k).as("kmv_est"))

  /** The k bit positions of a key in an m-bit Bloom filter, as
    * (original columns…, lane, mask) rows — one per hash. Kirsch–
    * Mitzenmacher double hashing over the 60-bit portable md5 hash:
    * pos_j = (h₁ + j·h₂) mod m with h₂ forced odd, so any md5-bearing
    * engine derives the identical positions. Shared by build and probe
    * so the two sides can never disagree on the position function.
    */
  private def bloomPositions(df: DataFrame, keyCol: String,
                             mBits: Int, hashes: Int): DataFrame = {
    df.withColumn("_h", HashFunctions.portableHash60(col(keyCol)))
      .withColumn("_h1", col("_h") % mBits)
      .withColumn("_h2", expr(s"(_h div $mBits) % $mBits").bitwiseOR(1))
      .withColumn("_j", explode(array((0 until hashes).map(lit): _*)))
      .withColumn("_pos", (col("_h1") + col("_j") * col("_h2")) % mBits)
      .withColumn("lane", expr("_pos div 64"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"))
      .drop("_h", "_h1", "_h2", "_j", "_pos")
  }

  /** Portable Bloom filter build: m bits in m/64 BIGINT lanes —
    * (lane, bits) rows, only non-empty lanes present. The membership
    * synopsis completing the sketch family (CMS counts, HLL distincts,
    * KMV set ops, MG heavy hitters): at 100 TB a decontamination /
    * known-key pass ships m/64 rows per shard instead of the key set,
    * and shards MERGE by lane-wise OR ([[bloomMerge]]) — bit_or is
    * idempotent/associative/commutative, so
    * state(A) ⊕ state(B) == state(A ∪ B) exactly (q252 certifies).
    * No false negatives ever; the false-positive rate is the classic
    * (1 − e^(−kn/m))^k, measured rather than assumed by q252.
    */
  def bloomBuild(rows: DataFrame, keyCol: String,
                 mBits: Int = 32768, hashes: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(hashes >= 1, s"hashes must be >= 1, got $hashes")
    bloomPositions(rows.select(col(keyCol)).distinct(), keyCol, mBits, hashes)
      .groupBy("lane").agg(bit_or(col("mask")).as("bits"))
  }

  /** Merge Bloom filters built with the same (mBits, hashes): lane-wise OR. */
  def bloomMerge(blooms: DataFrame*): DataFrame =
    blooms.reduce(_ unionByName _).groupBy("lane").agg(bit_or(col("bits")).as("bits"))

  /** Probe: one row per DISTINCT key value — (keyCol, member) with
    * member 1 = possibly present, 0 = DEFINITELY absent. Other input
    * columns are not carried (join the flag back by keyCol if needed).
    * The filter is ≤ m/64 rows, so the lane join broadcasts; keys
    * shuffle only for the per-key all-bits-set fold.
    */
  def bloomProbe(bloom: DataFrame, keys: DataFrame, keyCol: String,
                 mBits: Int = 32768, hashes: Int = 3): DataFrame =
    bloomPositions(keys.select(col(keyCol)).distinct(), keyCol, mBits, hashes)
      .join(broadcast(bloom), Seq("lane"), "left")
      .withColumn("_hit",
        when(col("bits").isNotNull && (col("bits").bitwiseAND(col("mask"))) =!= 0L, 1)
          .otherwise(0))
      .groupBy(keyCol).agg(min("_hit").as("member"))

  /** KMV multiset-operation estimates (Beyer et al., SIGMOD 2007): from
    * two bottom-k sketches ALONE — never the raw tables — estimate
    * |A ∪ B|, the Jaccard similarity, and |A ∩ B|.
    *
    * L = bottomK(KMV(A) ∪ KMV(B)) is exactly the KMV sketch of A ∪ B
    * (bottom-k is a monotone selector — the q191-certified merge law),
    * so its k-th minimum gives the union estimate by the [[kmvEstimate]]
    * formula. Within L, a hash present in BOTH input sketches is a
    * uniform sample member of A ∩ B (every h ∈ L is below both sketches'
    * thresholds), so matches/|L| estimates Jaccard and
    * matches·D_union/|L| estimates the intersection. A non-full L has
    * seen every distinct hash, and all three estimates are exact.
    *
    * This is the cross-dataset overlap primitive (corpus contamination /
    * coverage audits between snapshots built on different days): two
    * k-row synopses answer what would otherwise be a join of two full
    * key sets. All arithmetic is integer or the kmvEstimate bit-exact
    * double formula, so any engine reproduces it.
    */
  def kmvIntersect(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val merged = kmvMerge(k, a, b)
    val flagged = merged
      .join(a.select(col("h"), lit(1L).as("in_a")), Seq("h"), "left")
      .join(b.select(col("h"), lit(1L).as("in_b")), Seq("h"), "left")
    flagged
      .agg(count(lit(1)).as("n_union_sketch"), max("h").as("kth_min"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L))
          .as("matches"))
      .select(col("n_union_sketch"), col("kth_min"), col("matches"),
        kmvEstCol(col("n_union_sketch"), col("kth_min"), k).as("union_est"))
      .select(col("n_union_sketch"), col("kth_min"), col("matches"),
        col("union_est"),
        expr("matches * 10000 div n_union_sketch").as("jaccard_bp"),
        expr("(matches * union_est) div n_union_sketch").as("intersect_est"))
  }
}

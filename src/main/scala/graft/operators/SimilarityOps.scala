package graft.operators

import graft.functions.{Rounding, TopK, VectorFunctions => V}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate / exact nearest-neighbor search over an embedding column.
  *
  * Execution shapes (designed for a big corpus, small-to-medium query set):
  *  - Brute force: broadcast the query vectors, stream the corpus once,
  *    and aggregate per-query top-k with a bounded-heap [[TopK]] aggregator
  *    — partial aggregation keeps the shuffle at k rows per group per map
  *    task instead of the full Q×N scored cross product.
  *  - IVF: `nlist` centroids are collected ONCE to the driver (tiny:
  *    nlist × dim doubles) and inlined as a plan literal; assignment is a
  *    per-row higher-order-function argmin — zero joins, zero shuffles.
  *    A query probes only `nprobe` lists, so the scan cost drops by
  *    ~nlist/nprobe. At 100 TB the assignment would be written out
  *    bucketed by `centroid_id` so probes prune at the source.
  *  - Hyperplane LSH: sign-bit bucket key per vector; candidates share a
  *    bucket. Deterministic planes (seeded), so results are reproducible.
  */
object SimilarityOps {

  /** Rank an `array<struct<sim,neighborId>>` top-k list into rows. */
  private def explodeRanked(df: DataFrame): DataFrame =
    df.select(col("query_id"), posexplode(col("topk")).as(Seq("rank0", "nb")))
      .select(
        col("query_id"),
        col("nb.neighborId").as("neighbor_id"),
        col("nb.sim").as("sim"),
        (col("rank0") + 1).cast("long").as("rank"))

  /** Exact top-k cosine neighbors for each query vector (brute force).
    * `queries` is expected to be small — it is broadcast explicitly.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Rounding.half4(
        graft.GraftFunctions.cosine(corpus.sparkSession, col("qv"), col("cv"))))
    val agg = scored.groupBy("query_id")
      .agg(TopK.topK(k)(col("sim"), col("neighbor_id")).as("topk"))
    explodeRanked(agg)
  }

  /** Deterministic IVF centroids: the `nlist` lowest-id vectors (a
    * stand-in for k-means at this scale; the interface is the point).
    * Collected once — nlist × dim doubles — and reused by assignment and
    * probing as a plan literal.
    */
  def collectCentroids(corpus: DataFrame, nlist: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Long, Seq[Double])] =
    corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(col(idCol))  // planned as TakeOrderedAndProject, not a global sort
      .limit(nlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq

  /** Per-row argmin over a literal centroid array: fold keeping the
    * (id, d2) struct with the smallest distance. Strict `<` keeps the
    * earliest (lowest-position) centroid on ties — deterministic.
    */
  private def nearestCentroid(vec: Column, centroids: Seq[(Long, Seq[Double])]): Column =
    nearestCentroidWithD2(vec, centroids).getField("_1")

  /** As [[nearestCentroid]], but keeps the winning (cid, d2) struct —
    * the distance is what outlier pruning thresholds on.
    */
  private def nearestCentroidWithD2(vec: Column, centroids: Seq[(Long, Seq[Double])]): Column = {
    val lits = typedLit(centroids)
    aggregate(
      lits,
      struct(lit(-1L).as("_1"), lit(Double.MaxValue).as("_2")),
      (acc, c) => {
        val d2 = V.sqDist(vec, c.getField("_2"))
        when(d2 < acc.getField("_2"), struct(c.getField("_1").as("_1"), d2.as("_2")))
          .otherwise(acc)
      })
  }

  /** The `nprobe` nearest centroid ids for a query vector, as an array —
    * sort a tiny literal-sized array per row, no join, no window.
    */
  private def probeList(vec: Column, centroids: Seq[(Long, Seq[Double])], nprobe: Int): Column = {
    val lits = typedLit(centroids)
    val scored = transform(lits, c =>
      struct(V.sqDist(vec, c.getField("_2")).as("d2"), c.getField("_1").as("cid")))
    transform(slice(array_sort(scored), 1, nprobe), s => s.getField("cid"))
  }

  /** IVF assignment: corpus + `centroid_id`, computed as a per-row
    * expression against literal centroids — no cross join, no window, no
    * exchange at all (verify: explain shows a single scan + project).
    */
  def ivfAssign(corpus: DataFrame, nlist: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentroids(corpus, nlist, idCol, vecCol)
    corpus.withColumn("centroid_id", nearestCentroid(col(vecCol), cents))
  }

  /** IVF top-k: probe the `nprobe` nearest centroid lists per query, then
    * exact cosine within the probed lists with bounded-heap top-k.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentroids(corpus, nlist, idCol, vecCol)
    val assigned = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestCentroid(col(vecCol), cents).as("centroid_id"))
    val probes = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeList(col(vecCol), cents, nprobe)).as("centroid_id"))
    val scored = assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Rounding.half4(
        graft.GraftFunctions.cosine(corpus.sparkSession, col("qv"), col("cv"))))
    val agg = scored.groupBy("query_id")
      .agg(TopK.topK(k)(col("sim"), col("neighbor_id")).as("topk"))
    explodeRanked(agg)
  }

  /** Public per-row argmin assignment against precomputed centroids
    * (e.g. from [[trainCentroids]]) — zero joins, zero shuffles.
    */
  def assignTo(vec: Column, centroids: Seq[(Long, Seq[Double])]): Column =
    nearestCentroid(vec.cast("array<double>"), centroids)

  /** Embedding outlier pruning by distance to the assigned centroid —
    * the SemDeDup-adjacent curation step that drops mis-embedded or
    * off-manifold vectors BEFORE they poison ANN neighborhoods and
    * k-means updates: a vector far from every centroid is noise, not a
    * cluster member.
    *
    * Assignment is the [[nearestCentroid]] literal-argmin (zero joins,
    * zero shuffles); the only exchange is the per-cluster mean-distance
    * partial aggregation (nlist rows), broadcast back. Distances are
    * quantized to integer e4 (`floor(sqrt(d2)·10⁴ + 0.5)` — IEEE sqrt is
    * correctly rounded, so the quantized value is cross-engine exact)
    * and the threshold is the all-integer rule
    * `dist_e4 · ratioDen > mean_e4 · ratioNum` (default 3/2 = 1.5× the
    * cluster's mean distance).
    *
    * Returns (vec_id, cid, dist_e4, mean_e4, is_outlier).
    */
  def centroidOutliers(corpus: DataFrame, nlist: Int = 16,
                       ratioNum: Long = 3L, ratioDen: Long = 2L,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentroids(corpus, nlist, idCol, vecCol)
    val assigned = corpus.select(
        col(idCol).as("vec_id"),
        nearestCentroidWithD2(col(vecCol).cast("array<double>"), cents).as("best"))
      .select(col("vec_id"), col("best").getField("_1").as("cid"),
        floor(sqrt(col("best").getField("_2")) * 10000 + 0.5).cast("long").as("dist_e4"))
    val means = assigned.groupBy("cid")
      .agg(expr("sum(dist_e4) div count(1)").as("mean_e4"))
    assigned.join(broadcast(means), "cid")
      .select(col("vec_id"), col("cid"), col("dist_e4"), col("mean_e4"),
        (col("dist_e4") * ratioDen > col("mean_e4") * ratioNum).as("is_outlier"))
  }

  /** Materialize the IVF index: the assigned corpus written
    * partition-by-centroid, so probes prune at the SOURCE — a query that
    * probes 4 of 256 lists reads 4/256ths of the bytes (verify:
    * `PartitionFilters: [centroid_id IN (…)]` in the scan, asserted by
    * IvfIndexSpec). This is the 100 TB shape: assignment cost is paid once
    * per corpus build, per-query cost scales with nprobe/nlist.
    */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[(Long, Seq[Double])] = {
    val cents = collectCentroids(corpus, nlist, idCol, vecCol)
    writeIvfIndexWith(corpus, path, cents, idCol, vecCol)
    cents
  }

  /** [[writeIvfIndex]] with EXPLICIT centroids — the production path once
    * [[trainCentroids]] has run: trained centroids partition the index,
    * seeds are only the cold-start fallback. Probing is unchanged
    * ([[ivfTopKIndexed]] takes whatever centroids built the index).
    */
  def writeIvfIndexWith(corpus: DataFrame, path: String,
                        cents: Seq[(Long, Seq[Double])],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        nearestCentroid(col(vecCol), cents).as("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  /** Top-k probe against a materialized index: only the `nprobe` partition
    * directories per query batch are ever read.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                     cents: Seq[(Long, Seq[Double])], queries: DataFrame, k: Int,
                     nprobe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeList(col(vecCol), cents, nprobe)).as("centroid_id"))
    val probedIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val lists = spark.read.parquet(indexPath)
      .where(col("centroid_id").isin(probedIds: _*))
    val scored = lists
      .join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Rounding.half4(
        graft.GraftFunctions.cosine(spark, col("qv"), col("cv"))))
    explodeRanked(scored.groupBy("query_id")
      .agg(TopK.topK(k)(col("sim"), col("neighbor_id")).as("topk")))
  }

  /** RAG retrieval: top-k neighbors per query joined back to the document
    * payload — the downstream-consumer shape (embedding table keyed by
    * doc id + document table). The ANN stage shuffles only (query, k)
    * rows; the payload join touches k × |queries| documents, broadcast
    * when small.
    */
  def retrieveDocs(docs: DataFrame, embeddings: DataFrame, queries: DataFrame,
                   k: Int, docIdCol: String = "doc_id", textCol: String = "text",
                   vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val topk = bruteForceTopK(embeddings, queries, k, vecIdCol, vecCol)
    topk.join(docs.select(col(docIdCol).as("neighbor_id"), col(textCol)),
      Seq("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"), col(textCol))
  }

  /** Engine-portable hyperplanes: component (j,k) derives from the md5
    * 60-bit hash of "graft_plane_j_k", mapped affinely to [-1, 1) — any
    * md5-bearing engine re-derives the planes without a shared constant
    * table (uniform rather than Gaussian components; for sign-bucket LSH
    * only the direction distribution matters and uniform hypercube
    * directions are fine at these dims). The int→double conversion and
    * the division are single IEEE ops, identical in every engine. Small:
    * nbits × dim doubles, inlined into the plan as a literal.
    */
  def portableHyperplanes(nbits: Int = 16, dim: Int = 64): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(nbits)(j => Seq.tabulate(dim)(k =>
      graft.functions.HashFunctions.portableHash60JVM(md, s"graft_plane_${j}_${k}")
        .toDouble / (1L << 59).toDouble - 1.0))
  }

  /** Near-duplicate embedding pairs via random-hyperplane LSH buckets on
    * [[portableHyperplanes]], verified with exact cosine — the whole
    * pipeline (buckets AND verified cosines) is md5-derivable, so the
    * contract query is hash-checked in DuckDB instead of rows-only.
    */
  def embeddingNearDupsPortable(corpus: DataFrame, minCosine: Double = 0.95,
                                nbits: Int = 16, dim: Int = 64,
                                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = typedLit(portableHyperplanes(nbits, dim))
    // bucket keys feed both self-join branches; the HOF dot-per-plane is
    // the expensive part — materialize it once
    val keyed = graft.GraftCache.register(corpus.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      V.hyperplaneKey(col(vecCol), planes).as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = keyed.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = keyed.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", Rounding.half4(
        graft.GraftFunctions.cosine(corpus.sparkSession, col("v_a"), col("v_b"))))
      .where(col("sim") >= minCosine)
      .select("id_a", "id_b", "sim")
  }

  /** PQ building blocks shared by [[pqTopK]] and [[ivfPqTopK]]: corpus
    * codes (id, s, c) and per-query integer dot-product tables
    * (qid, s, c, dot), both derived from the int8 affine + sampled
    * codebook described at [[pqTopK]].
    */
  private def pqCodesAndTables(emb: DataFrame, numQueries: Int, dim: Int,
                               m: Int, k: Int, idCol: String,
                               vecCol: String): (DataFrame, DataFrame) = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val stats = emb.agg(
      min(array_min(col(vecCol))).cast("double").as("mn"),
      max(array_max(col(vecCol))).cast("double").as("mx"))
      .select(col("mn"),
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise(lit(254.0) / (col("mx") - col("mn"))).as("sc"))
    val qexpr = expr(s"transform($vecCol, x -> " +
      "CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INT) - 127)")
    val qemb = emb.crossJoin(broadcast(stats))
      .select(col(idCol).cast("long").as("id"), qexpr.as("cv"))
    // one row per (vector, subspace): the 8-dim integer subvector
    val sub = qemb.select(col("id"),
        explode(array((0 until m).map(lit): _*)).as("s"),
        col("cv"))
      .select(col("id"), col("s"),
        slice(col("cv"), col("s") * subDim + 1, lit(subDim)).as("sv"))
    // sampled codebook: entry (s, c) = subspace-s slice of vector s*k+c
    val cb = broadcast(sub.where(col("id") < m.toLong * k &&
        col("s") === expr(s"id div $k"))
      .select(col("s"), pmod(col("id"), lit(k.toLong)).as("c"),
        col("sv").as("cvec")))
    val sqDist = expr("aggregate(zip_with(sv, cvec, " +
      "(x, y) -> CAST(x - y AS BIGINT) * CAST(x - y AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    val codes = sub.join(cb, Seq("s"))
      .select(col("id"), col("s"), col("c"), sqDist.as("dist"))
      .groupBy("id", "s")
      .agg(min_by(col("c"), struct(col("dist"), col("c"))).as("c"))
    // per-query dot-product tables over the SAME codebook
    val dots = expr("aggregate(zip_with(sv, cvec, " +
      "(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    val dt = broadcast(sub.where(col("id") < numQueries)
      .select(col("id").as("qid"), col("s"), col("sv"))
      .join(cb, Seq("s"))
      .select(col("qid"), col("s"), col("c"), dots.as("dot")))
    (codes, dt)
  }

  private def rankAdc(adc: DataFrame, topK: Int): DataFrame =
    adc.groupBy("qid")
      .agg(TopK.topK(topK)(col("adp").cast("double"), col("id")).as("topk"))
      .select(col("qid").as("query_id"),
        posexplode(col("topk")).as(Seq("rank0", "nb")))
      .select(col("query_id"), col("nb.neighborId").as("neighbor_id"),
        col("nb.sim").cast("long").as("adp"),
        (col("rank0") + 1).cast("long").as("rank"))

  /** Product-quantization ANN (Jégou et al., TPAMI 2011) — the memory
    * shape of a genuinely huge vector store: each `dim`-dimensional
    * vector compresses to `m` one-byte codes (64× smaller than float32
    * at dim=64/m=8), and query scoring touches ONLY codes plus a
    * per-query distance table.
    *
    * Everything is integer-exact so the result is oracle-reproducible:
    * vectors first quantize to int8 on the global (min, scale) affine
    * (the q114 discipline), the codebook for subspace s is the s-th
    * subvector of the first m×k corpus vectors (a deterministic sampled
    * codebook — trained centroids swap in unchanged), assignment is
    * argmin integer squared-L2 (ties to the lowest code), and the
    * asymmetric-distance score is the sum of m integer dot-product
    * table lookups.
    *
    * Scale shape: the codebook (m×k subvectors) and the per-query
    * tables (|Q|×m×k longs) broadcast; encoding is a per-row broadcast
    * join + partial-agg argmin (the n·m·k PQ encode cost); scoring
    * joins CODES — never vectors — against the tables and top-k's
    * through the bounded-heap [[TopK]] partial aggregation. Raw
    * embeddings never shuffle.
    */
  def pqTopK(emb: DataFrame, numQueries: Int = 8, dim: Int = 64,
             m: Int = 8, k: Int = 16, topK: Int = 5,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (codes, dt) = pqCodesAndTables(emb, numQueries, dim, m, k, idCol, vecCol)
    val adc = codes.join(dt, Seq("s", "c"))
      .where(col("qid") =!= col("id"))
      .groupBy("qid", "id").agg(sum("dot").as("adp"))
    rankAdc(adc, topK)
  }

  /** Achlioptas random projection (JL transform with ±1 entries,
    * Achlioptas 2003): reduce `dim`-dimensional embeddings to `m`
    * integer components p_j = Σ_i sign_ij · q_i over the int8-quantized
    * vector — the cheap dimensionality reduction that preserves
    * pairwise distances within (1±ε) and feeds downstream LSH/cluster
    * stages at m/dim of the bandwidth. Signs derive from the portable
    * md5 hash of "jl_j_i", so the projection matrix is a deterministic
    * constant any engine re-derives; with integer inputs the output is
    * hash-exact.
    *
    * Scale shape: the sign matrix is a plan literal (m×dim values) and
    * the projection is a per-row codegen'd fold — zero joins, zero
    * shuffles, embarrassingly parallel.
    */
  def jlProject(emb: DataFrame, m: Int = 8, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && m <= dim, s"need 1 <= m <= dim, got m=$m dim=$dim")
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: IndexedSeq[IndexedSeq[Long]] = (0 until m).map { j =>
      (0 until dim).map { i =>
        if (graft.functions.HashFunctions.portableHash60JVM(md, s"jl_${j}_$i") % 2 == 0) 1L
        else -1L
      }
    }
    val stats = emb.agg(
      min(array_min(col(vecCol))).cast("double").as("mn"),
      max(array_max(col(vecCol))).cast("double").as("mx"))
      .select(col("mn"),
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise(lit(254.0) / (col("mx") - col("mn"))).as("sc"))
    val qexpr = expr(s"transform($vecCol, x -> " +
      "CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INT) - 127)")
    val projections = (0 until m).map { j =>
      val sgn = array(signs(j).map(lit): _*)
      aggregate(
        zip_with(col("_cv"), sgn, (x, s) => x.cast("long") * s),
        lit(0L), (acc, v) => acc + v).as(s"p$j")
    }
    emb.crossJoin(broadcast(stats))
      .select(col(idCol), qexpr.as("_cv"))
      .select(col(idCol) +: projections: _*)
  }

  /** 1-BIT SIGN QUANTIZATION (binary hashing): a 64-d float vector
    * compresses to its 64 sign bits packed into two BIGINT lanes of 32
    * bits each. Two lanes, not one: bit 63 of a single lane would make
    * the oracle engine's (overflow-checked) BIGINT arithmetic error,
    * and 32-bit lanes keep every intermediate exactly representable
    * everywhere. 16 bytes/vector — 16× smaller than float32 — with
    * distances costing two XOR+popcounts; the cheapest filter of the
    * memory-bound regime, below even PQ (q125).
    *
    * Each lane is a fold acc·2 + sign-bit from the lane's high index
    * down, so element lo+j lands at bit j. One non-nested HOF per lane
    * (nested HOF chains re-evaluate per element — the q25 lesson).
    */
  def binaryCodes(emb: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    def lane(lo: Int): Column =
      aggregate(sequence(lit(lo + 31), lit(lo), lit(-1)), lit(0L),
        (acc, j) => acc * 2 + when(element_at(col(vecCol), j + 1) > 0f, 1L)
          .otherwise(0L))
    emb.select(col(idCol), lane(0).as("c0"), lane(32).as("c1"))
  }

  /** Hamming top-k over [[binaryCodes]]: queries broadcast, distances
    * are XOR+popcount on the lanes, ranking rides the bounded-heap
    * [[TopK]] aggregator as (-hamming, id) — map-side partial top-k,
    * never a window over scored pairs. Returns
    * (query_id, neighbor_id, hamming, rank).
    */
  def binaryTopK(codes: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col("c0").as("q0"), col("c1").as("q1")))
    val c = codes.select(col(idCol).as("neighbor_id"), col("c0"), col("c1"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (bit_count(col("q0").bitwiseXOR(col("c0"))) +
          bit_count(col("q1").bitwiseXOR(col("c1")))).cast("int"))
    scored.groupBy("query_id")
      .agg(TopK.topK(k)((-col("hamming")).cast("double"), col("neighbor_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("rank0", "nb")))
      .select(col("query_id"), col("nb.neighborId").as("neighbor_id"),
        (-col("nb.sim")).cast("int").as("hamming"),
        (col("rank0") + 1).cast("long").as("rank"))
  }

  /** MUTUAL-kNN MINING with ratio-margin scores (the CCMatrix/LASER
    * bitext-mining core, Schwenk et al. 2021): a pair (a, b) across a
    * bounded batch A and a corpus B is mined when b is in a's top-k AND
    * a is in b's top-k, scored by the margin
    * sim(a,b) / ((avg top-k sim of a + avg top-k sim of b) / 2) —
    * globally-hubby vectors that are "everyone's neighbor" get
    * discounted, isolated reciprocal matches score high.
    *
    * All comparisons run on sim_e4 = floor(cos·10⁴ + 0.5) INTEGERS, so
    * ranking, sums, and the margin are exact cross-engine; the margin
    * is (2k · sim_e4 · 10⁴) div (Σtop-k(a) + Σtop-k(b)) in bp.
    *
    * Scale shape: ONE broadcast of the bounded batch side onto a single
    * corpus scan; BOTH directions aggregate from that one scored frame
    * (per-a top-kAb over b, per-b top-kBa over a) through the
    * bounded-heap [[TopK]] — the corpus is never the broadcast side and
    * never self-joins. `kBa` is typically smaller than `kAb`
    * (reciprocity is only a filter if the reverse direction is
    * competitive). Margin averages use each side's own k. Returns
    * (a_id, b_id, sim_e4, rank_ab, rank_ba, margin_bp).
    */
  def mutualTopK(corpus: DataFrame, batch: DataFrame, kAb: Int, kBa: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kAb >= 1 && kBa >= 1, s"need kAb, kBa >= 1, got $kAb, $kBa")
    val spark = corpus.sparkSession
    val a = broadcast(batch.select(col(idCol).as("a_id"), col(vecCol).as("av")))
    val b = corpus.select(col(idCol).as("b_id"), col(vecCol).as("bv"))
    val scored = b.join(a)
      .withColumn("sim_e4",
        floor(graft.GraftFunctions.cosine(spark, col("av"), col("bv"))
          * 10000 + 0.5).cast("long"))
      .select("a_id", "b_id", "sim_e4")
    def explodeDir(g: DataFrame, keyCol: String, otherCol: String,
                   rankName: String): DataFrame =
      g.select(col(keyCol), posexplode(col("topk")).as(Seq("rank0", "nb")))
        .select(col(keyCol), col("nb.neighborId").as(otherCol),
          col("nb.sim").cast("long").as("sim_e4"),
          (col("rank0") + 1).cast("long").as(rankName))
    val dir1 = explodeDir(
      scored.groupBy("a_id")
        .agg(TopK.topK(kAb)(col("sim_e4").cast("double"), col("b_id")).as("topk")),
      "a_id", "b_id", "rank_ab")
    val dir2 = explodeDir(
      scored.groupBy("b_id")
        .agg(TopK.topK(kBa)(col("sim_e4").cast("double"), col("a_id")).as("topk")),
      "b_id", "a_id", "rank_ba")
    val sumA = dir1.groupBy("a_id").agg(sum("sim_e4").as("sum_a"))
    val sumB = dir2.groupBy("b_id").agg(sum("sim_e4").as("sum_b"))
    // margin denominator: each side's AVERAGE top-k sim (own k), kept
    // integral by scaling with the opposite k: avgA + avgB =
    // (kBa·sum_a + kAb·sum_b) / (kAb·kBa)
    dir1.join(dir2.select("a_id", "b_id", "rank_ba"), Seq("a_id", "b_id"))
      .join(sumA, "a_id").join(sumB, "b_id")
      .select(col("a_id"), col("b_id"), col("sim_e4"),
        col("rank_ab"), col("rank_ba"),
        expr(s"(2 * $kAb * $kBa * sim_e4 * 10000) div ($kBa * sum_a + $kAb * sum_b)")
          .as("margin_bp"))
  }

  /** IVF + PQ — the composition a real 100 TB vector store runs: IVF
    * pruning cuts the candidate set to the query's `nprobe` nearest
    * centroid lists (~nprobe/nlist of the corpus), and PQ's asymmetric
    * distance scores ONLY those candidates from codes. Neither raw
    * vectors nor off-list codes are touched at query time; with the
    * q58-style `partitionBy(centroid_id)` layout the probed lists prune
    * at the source. Same float centroid assignment as [[ivfTopK]]
    * (first `nlist` vectors; (dist, cid) tie-break), same integer ADC
    * as [[pqTopK]] — both halves stay oracle-reproducible.
    */
  def ivfPqTopK(emb: DataFrame, numQueries: Int = 8, nlist: Int = 16,
                nprobe: Int = 4, dim: Int = 64, m: Int = 8, k: Int = 16,
                topK: Int = 5, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentroids(emb, nlist, idCol, vecCol)
    val assigned = emb.select(col(idCol).cast("long").as("id"),
      nearestCentroid(col(vecCol), cents).as("cid"))
    val probes = broadcast(emb.where(col(idCol) < numQueries)
      .select(col(idCol).cast("long").as("qid"),
        explode(probeList(col(vecCol), cents, nprobe)).as("cid")))
    val pairs = assigned.join(probes, Seq("cid"))
      .where(col("qid") =!= col("id")).select("qid", "id")
    val (codes, dt) = pqCodesAndTables(emb, numQueries, dim, m, k, idCol, vecCol)
    val adc = pairs.join(codes, "id")
      .join(dt, Seq("qid", "s", "c"))
      .groupBy("qid", "id").agg(sum("dot").as("adp"))
    rankAdc(adc, topK)
  }

  /** MEAN-POOL chunk embeddings into one embedding per group — the
    * standard chunk→document aggregation of a retrieval pipeline (docs
    * are embedded in chunks; search wants one vector per doc).
    *
    * Output is UNNESTED — (group, dim, pooled) rows with the pooled
    * component as a quantized long (`floor(x*quantScale + 0.5)` per
    * input, truncating integer mean) — so the result is exactly
    * reproducible in any engine and every component is hash-checkable;
    * re-assemble with `collect_list` over `dim` order when an array is
    * needed.
    *
    * Scale shape: posexplode fans each chunk into dim (group, dim, x)
    * longs and ONE partial-aggregated shuffle sums per (group, dim) —
    * map-side combine collapses a group's local chunks before the wire,
    * and no vector ever moves as a unit. Fully codegen (no UDFs).
    */
  def meanPoolEmbeddings(chunks: DataFrame, groupCol: String,
                         vecCol: String = "embedding",
                         quantScale: Long = 1000000L): DataFrame =
    chunks
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col(groupCol), col("dim").cast("int").as("dim"),
        floor(col("x").cast("double") * quantScale + 0.5).cast("long").as("xq"))
      .groupBy(col(groupCol), col("dim"))
      .agg(sum("xq").as("sx"), count(lit(1)).as("n"))
      .select(col(groupCol), col("dim"),
        expr("sx div n").as("pooled")) // truncating, == DuckDB //

  /** INCREMENTAL K-MEANS: one mini-batch's contribution to the centroid
    * SUFFICIENT STATISTICS — per (centroid, dim) member sums and counts
    * against a fixed centroid frame. The statistics are MERGEABLE
    * (plain addition), so centroid maintenance over an unbounded corpus
    * is: per batch, compute this; merge with the stored state
    * ([[kmeansMergeStates]]); re-derive centroids
    * ([[kmeansCentroidsFromState]]) — the same incremental algebra as
    * the index merge (q137) and the HLL registers (q115), now for the
    * ANN index's centroids. state(A) ⊕ state(B) == state(A ∪ B)
    * exactly (integer sums), which the q173 oracle certifies
    * cross-engine by computing the un-split answer directly.
    *
    * `centroids` is UNNESTED — (centroid_id INT, dim INT, c BIGINT)
    * quantized rows — so assignment is declarative: explode the batch,
    * join on dim (candidates = k rows per (row, dim)), partial-agg the
    * squared distance per (row, centroid), argmin with ties to the
    * lowest centroid id. Everything shuffles as longs.
    */
  def kmeansCentroidState(batch: DataFrame, centroids: DataFrame,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          quantScale: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = batch
      .select(col(idCol).as("_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("_id"), col("dim").cast("int").as("dim"),
        floor(col("x").cast("double") * quantScale + 0.5).cast("long").as("xq"))
    val d2 = q.join(broadcast(centroids), "dim")
      .groupBy("_id", "centroid_id")
      .agg(sum((col("xq") - col("c")) * (col("xq") - col("c"))).as("d"))
    val w = Window.partitionBy("_id").orderBy(col("d"), col("centroid_id"))
    val assign = d2.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).select("_id", "centroid_id")
    q.join(assign, "_id")
      .groupBy("centroid_id", "dim")
      .agg(sum("xq").as("sx"), count(lit(1)).as("n"))
  }

  /** Merge two centroid sufficient-statistics frames by addition. */
  def kmeansMergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("centroid_id", "dim")
      .agg(sum("sx").as("sx"), sum("n").as("n"))

  /** Centroids from merged statistics: truncating per-dim integer mean
    * (== DuckDB `//`), plus the member count for monitoring.
    */
  def kmeansCentroidsFromState(state: DataFrame): DataFrame =
    state.select(col("centroid_id"), col("dim"),
      expr("sx div n").as("c"), col("n"))

  /** K-MEANS TRAINING (Lloyd's algorithm) — the step that turns the
    * deterministic lowest-id IVF seed centroids into DATA-ADAPTED ones
    * (real IVF quality depends on trained centroids; everything
    * downstream — [[ivfAssign]], the materialized index, IVF+PQ — can
    * consume these instead of the seeds).
    *
    * All arithmetic is integer so the iteration is bit-reproducible in
    * any engine: components quantize to `floor(x * quantScale + 0.5)`
    * longs; assignment is squared-L2 argmin with ties to the lowest
    * centroid index; the centroid update is the per-dimension truncating
    * integer division `sum / count` — which DuckDB's integer `//` and
    * Spark SQL's `div` both implement identically for ALL operands,
    * negatives included. An empty cluster keeps its previous centroid.
    *
    * Distributed shape (the canonical scalable Lloyd): per iteration, ONE
    * narrow pass assigns rows against the broadcast k×dim centroid array
    * (tiny), and ONE map-side-combined `reduceByKey` shuffles only
    * k × dim × partitions partial sums; the k×dim sum matrix comes to
    * the driver (one action per iteration). The vectors themselves never
    * shuffle. The loop runs on RDDs because centroids are data-dependent:
    * a DataFrame loop would Janino-compile a fresh literal plan per
    * iteration ([[graft.operators.DedupOps.connectedComponents]]
    * doctrine).
    *
    * Returns the final assignment (id, centroid_id, dist) against the
    * trained centroids, where dist is the squared L2 distance in the
    * quantized space.
    */
  def kmeansFitAssign(emb: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      quantScale: Long = 1000000L): DataFrame = {
    val spark = emb.sparkSession
    val (q, cents) = lloydTrain(emb, k, iters, idCol, vecCol, quantScale)
    val bcF = spark.sparkContext.broadcast(cents)
    val out = q.map { case (id, v) =>
      val (best, d) = nearestIdx(bcF.value, v)
      org.apache.spark.sql.Row(id, best, d)
    }
    graft.GraftCache.registerRdd(spark, q)
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("dist",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Assign rows to FIXED centroids in the integer-quantized space
    * [[trainCentroids]] trained in: each vector re-quantizes by
    * `floor(x·quantScale + 0.5)` and the centroids (exact /quantScale
    * representations of their quantized longs) re-quantize back
    * losslessly, so (id, centroid_id, dist) is integer-exact — the
    * distances can be SUMMED across rows deterministically (IEEE double
    * sums are partitioning-order-dependent; these are longs). This is
    * the assignment half of [[kmeansFitAssign]] decoupled from its
    * training half: train on one frame, assign ANY frame — the primitive
    * index maintenance needs (q250 assigns a new batch against the BASE
    * corpus's centroids to decide whether to retrain).
    *
    * Broadcast k×dim longs per executor; zero joins, zero shuffles
    * (one mapPartitions over the input scan).
    */
  def assignQuantized(emb: DataFrame, cents: Seq[(Long, Seq[Double])],
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      quantScale: Long = 1000000L): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    val spark = emb.sparkSession
    import spark.implicits._
    val sorted = cents.sortBy(_._1) // ONE sort: cids(i) must pair centsQ(i)
    val centsQ: Array[Array[Long]] = sorted.map(_._2.map(x =>
      math.floor(x * quantScale + 0.5).toLong).toArray).toArray
    val cids: Array[Long] = sorted.map(_._1).toArray
    val bc = spark.sparkContext.broadcast((cids, centsQ))
    val out = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].rdd
      .mapPartitions { it =>
        val (ids, cs) = bc.value
        it.map { case (id, v) =>
          val q = v.map(x => math.floor(x.toDouble * quantScale + 0.5).toLong).toArray
          val (best, d) = nearestIdx(cs, q)
          org.apache.spark.sql.Row(id, ids(best), d)
        }
      }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("dist",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** [[kmeansFitAssign]]'s training loop, returning the TRAINED centroids
    * in the `Seq[(id, vector)]` shape [[writeIvfIndexWith]] /
    * [[ivfTopKIndexed]] consume (centroid id = cluster index, components
    * de-quantized back to doubles) — so a production index build is
    * `writeIvfIndexWith(corpus, path, trainCentroids(corpus, nlist, 5))`
    * instead of the lowest-id seed fallback.
    */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     quantScale: Long = 1000000L): Seq[(Long, Seq[Double])] = {
    val (q, cents) = lloydTrain(emb, k, iters, idCol, vecCol, quantScale)
    graft.GraftCache.registerRdd(emb.sparkSession, q)
    cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toSeq.map(_.toDouble / quantScale))
    }.toSeq
  }

  /** Squared-L2 argmin over the centroid array, ties to the lowest index. */
  private def nearestIdx(cs: Array[Array[Long]], v: Array[Long]): (Int, Long) = {
    var best = 0; var bestD = Long.MaxValue; var c = 0
    while (c < cs.length) {
      var d = 0L; var i = 0
      while (i < v.length) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c } // strict <: ties keep lowest index
      c += 1
    }
    (best, bestD)
  }

  /** The shared Lloyd loop: quantized corpus RDD (persisted — caller
    * registers or unpersists it) plus the centroids after `iters`
    * integer-exact update rounds from the lowest-id seeds.
    */
  private def lloydTrain(emb: DataFrame, k: Int, iters: Int,
                         idCol: String, vecCol: String, quantScale: Long)
      : (org.apache.spark.rdd.RDD[(Long, Array[Long])], Array[Array[Long]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    import org.apache.spark.storage.StorageLevel
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].rdd
      .map { case (id, v) =>
        (id, v.map(x => math.floor(x.toDouble * quantScale + 0.5).toLong).toArray)
      }.persist(StorageLevel.MEMORY_AND_DISK)
    // deterministic seed: the k lowest-id vectors, centroid index = rank
    var cents: Array[Array[Long]] =
      q.takeOrdered(k)(Ordering.by(_._1)).map(_._2)
    (1 to iters).foreach { _ =>
      val bc = spark.sparkContext.broadcast(cents)
      val sums = q.mapPartitions { it =>
        val cs = bc.value
        it.map { case (_, v) => (nearestIdx(cs, v)._1, (v, 1L)) }
      }.reduceByKey { (x: (Array[Long], Long), y: (Array[Long], Long)) =>
        val s = new Array[Long](x._1.length)
        var i = 0; while (i < s.length) { s(i) = x._1(i) + y._1(i); i += 1 }
        (s, x._2 + y._2)
      }.collectAsMap() // the iteration's one action; k x dim longs only
      cents = cents.indices.map { c =>
        sums.get(c) match {
          case Some((s, n)) => s.map(_ / n) // truncating, == DuckDB //
          case None => cents(c) // empty cluster keeps its centroid
        }
      }.toArray
      bc.destroy()
    }
    (q, cents)
  }
}

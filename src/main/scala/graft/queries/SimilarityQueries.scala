package graft.queries

import graft.Tables
import graft.functions.{Rounding => R}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity / ANN: brute-force and IVF top-k, materialized IVF index, PQ / IVF+PQ, quantized and filtered ANN, JL projection, recall evals.
  *
  * Contract queries: q27_embedding_neardups, q28_bruteforce_topk, q29_ivf_assign, q30_ivf_topk, q58_ivf_indexed, q108_filtered_ann, q113_ann_recall, q114_quantized_ann, q125_pq_ann, q127_ivfpq_ann, q150_jl_project, q159_knn_precision, q169_kmeans, q170_mean_pool, q173_kmeans_increment, q177_diverse_sample, q185_ndcg, q189_hard_negatives, q190_nprobe_sweep, q197_binary_ann, q199_mutual_knn, q207_centroid_outliers, q221_semantic_contam, q249_ivf_trained_recall, q250_ivf_drift.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Embedding near-dups via hyperplane LSH with PORTABLE md5-derived
    // planes — buckets and verified cosines hash-checked in DuckDB.
    "q27_embedding_neardups" -> ((s, d) =>
      SimilarityOps.embeddingNearDupsPortable(dupEmbeddings(Tables.embeddings(s, d)),
        minCosine = 0.99)),


    // Brute-force exact top-k ANN.
    "q28_bruteforce_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilarityOps.bruteForceTopK(emb, emb.where(col("vec_id") < 8), k = 5)
    }),


    // IVF assignment (literal-centroid argmin, no shuffle).
    "q29_ivf_assign" -> ((s, d) =>
      SimilarityOps.ivfAssign(Tables.embeddings(s, d), nlist = 16)
        .select("vec_id", "centroid_id")),


    // IVF probed top-k.
    "q30_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilarityOps.ivfTopK(emb, emb.where(col("vec_id") < 8), k = 5,
        nlist = 16, nprobe = 4)
    }),


    // IVF over a MATERIALIZED partition-pruned index — the 100 TB shape:
    // index written partitionBy(centroid_id) once, probes read only the
    // nprobe partition directories (PartitionFilters at the source,
    // asserted by IvfIndexSpec). The build is memoized per sf dir: an
    // index is corpus state, not query work, so under Bench's min-of-N
    // reps the reported time is the PROBE-ONLY per-query cost (rep 1
    // pays the one-time build; later reps reuse it).
    "q58_ivf_indexed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val (idx, cents) = ivfIndexCache.synchronized {
        ivfIndexCache.getOrElseUpdate(d, {
          val p = scratchIndexDir("graft-ivf-idx")
          (p, SimilarityOps.writeIvfIndex(emb, p, nlist = 16))
        })
      }
      SimilarityOps.ivfTopKIndexed(s, idx, cents,
        emb.where(col("vec_id") < 8), k = 5, nprobe = 4)
    }),


    // Filtered vector search: ANN under a metadata predicate. The range
    // predicate pushes to the corpus parquet scan (PushedFilters), so a
    // selective filter prunes BEFORE any scoring — the vector-db
    // "filtered search" shape, composed from the same bounded-heap
    // partial top-k as q28.
    "q108_filtered_ann" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilarityOps.bruteForceTopK(
        emb.where(col("vec_id") >= 100), emb.where(col("vec_id") < 8), k = 5)
    }),


    // ANN recall evaluation — the eval harness that justifies an index:
    // recall@5 of the nprobe=4 IVF search against the brute-force ground
    // truth, per query. Both sides are existing contract operators; the
    // metric is an integer hit count over a k-sized join.
    "q113_ann_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 8)
      val exact = SimilarityOps.bruteForceTopK(emb, qs, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = SimilarityOps.ivfTopK(emb, qs, k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      qs.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"),
          R.half4(coalesce(col("hits"), lit(0L)).cast("double") / 5.0)
            .as("recall_at_5"))
    }),


    // Int8 scalar-quantized ANN — the 4x memory-bandwidth reduction a
    // 100 TB vector store runs: global (min, scale) quantizes every
    // vector to [-127, 127]; search ranks by the INTEGER dot product
    // (exact, no float accumulation — ties broken by id, hash-exact
    // cross-engine). Stats are a 1-row broadcast; the bounded-heap TopK
    // aggregates partially as in q28.
    "q114_quantized_ann" -> ((s, d) => {
      import graft.functions.TopK
      val emb = Tables.embeddings(s, d)
      val stats = emb.agg(
        min(array_min(col("embedding"))).cast("double").as("mn"),
        max(array_max(col("embedding"))).cast("double").as("mx"))
        .select(col("mn"),
          when(col("mx") === col("mn"), lit(0.0))
            .otherwise(lit(254.0) / (col("mx") - col("mn"))).as("sc"))
      val qexpr = expr("transform(embedding, x -> " +
        "CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INT) - 127)")
      val corpus = emb.crossJoin(broadcast(stats))
        .select(col("vec_id").as("neighbor_id"), qexpr.as("cq"))
      val queries = emb.where(col("vec_id") < 8).crossJoin(broadcast(stats))
        .select(col("vec_id").as("query_id"), qexpr.as("qq"))
      val scored = corpus.join(broadcast(queries),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          expr("aggregate(zip_with(qq, cq, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("dp"))
      scored.groupBy("query_id")
        .agg(TopK.topK(5)(col("dp").cast("double"), col("neighbor_id")).as("topk"))
        .select(col("query_id"), posexplode(col("topk")).as(Seq("rank0", "nb")))
        .select(col("query_id"), col("nb.neighborId").as("neighbor_id"),
          col("nb.sim").cast("long").as("dp"),
          (col("rank0") + 1).cast("long").as("rank"))
    }),


    // Product-quantization ANN: vectors compress to 8 one-byte codes
    // (the 64x memory shape of a 100 TB vector store); queries score by
    // summing integer distance-table lookups over codes — raw vectors
    // never shuffle. Sampled codebook + int8 affine make every step
    // integer-exact, so the oracle re-derives codes and tables.
    "q125_pq_ann" -> ((s, d) => {
      SimilarityOps.pqTopK(Tables.embeddings(s, d))
    }),


    // IVF + PQ composed: centroid pruning cuts candidates to nprobe/
    // nlist of the corpus, integer ADC scores only those candidates
    // from codes — the full query path of a 100 TB vector store (with
    // the q58 layout the probed lists also prune at the source).
    "q127_ivfpq_ann" -> ((s, d) =>
      SimilarityOps.ivfPqTopK(Tables.embeddings(s, d))),


    // Achlioptas ±1 random projection (JL transform): 64-dim embeddings
    // fold to 8 integer components against an md5-derived literal sign
    // matrix — zero joins, zero shuffles, hash-exact.
    "q150_jl_project" -> ((s, d) =>
      SimilarityOps.jlProject(Tables.embeddings(s, d))),


    // Retrieval quality vs GROUND-TRUTH labels: precision@5 of the q28
    // exact cosine search, scored by label agreement — the eval that
    // tells you whether the embedding space is any good at all.
    "q159_knn_precision" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val labels = emb.select(col("vec_id"), col("label"))
      val topk = SimilarityOps.bruteForceTopK(emb,
        emb.where(col("vec_id") < 8), k = 5)
      topk
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .groupBy("query_id")
        .agg(sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
          .as("hits"))
        .withColumn("precision_bp", expr("(hits * 10000) div 5"))
    }),

    // IVF nprobe TUNING SWEEP — the recall-vs-cost curve that picks a
    // probe budget before committing a 100 TB index config: recall@5
    // of the q30 search at nprobe 1 / 2 / 4 against the brute-force
    // ground truth, one integer hit count per setting. Monotone in
    // nprobe by construction, so the curve shape itself is a law.
    "q190_nprobe_sweep" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 8)
      // the exact ground truth feeds all three settings' joins plus the
      // denominator — persist the (tiny: ≤40-row) frame so the full
      // corpus × query scan runs once, not four times
      val exact = graft.GraftCache.register(
        SimilarityOps.bruteForceTopK(emb, qs, k = 5)
          .select("query_id", "neighbor_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // recall denominator from the exact side's actual row count (a
      // 1-row broadcast), never hardcoded: at a corpus too small for 8
      // queries x 5 neighbors the ratio stays honest instead of
      // silently misstating recall.
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      Seq(1, 2, 4).map { np =>
        val approx = SimilarityOps.ivfTopK(emb, qs, k = 5, nlist = 16, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
        exact.join(approx, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(np.toLong).as("nprobe"), col("hits"))
      }.reduce(_ unionByName _)
        .crossJoin(denom)
        .withColumn("recall_bp", expr("(hits * 10000) div n_exact"))
        .select("nprobe", "hits", "recall_bp")
    }),


    // TRAINED-centroid IVF — the production index path q58's seeded
    // build falls back from: Lloyd-trained centroids (k=16, 2
    // integer-exact rounds, trainCentroids) partition a MATERIALIZED
    // index via writeIvfIndexWith, probed through the same
    // partition-pruned ivfTopKIndexed as q58. Per arm: recall@5 at
    // nprobe=2 AND the max inverted-list size. The pairing is the
    // honest IVF trade, hash-certified rather than asserted: lowest-id
    // seeds degenerate into one giant list (probing it is
    // near-brute-force, so seed recall can even WIN at small SF),
    // while training balances the lists — max_list shrinks, which is
    // the bound on per-probe scan cost and the entire point of the
    // training pass at 100 TB. The ORACLE re-derives everything
    // (quantized Lloyd rounds → /1e6 double centroids → assign/probe/
    // cosine chain) in DuckDB. Index built once per sf dir per JVM
    // (trainedIvfIndexCache), like q58: the build is corpus state,
    // not per-probe cost.
    "q249_ivf_trained_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.where(col("vec_id") < 8)
      val exact = graft.GraftCache.register(
        SimilarityOps.bruteForceTopK(emb, qs, k = 5)
          .select("query_id", "neighbor_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      val seeded = SimilarityOps.ivfTopK(emb, qs, k = 5, nlist = 16, nprobe = 2)
        .select("query_id", "neighbor_id")
      val (idx, trained) = trainedIvfIndexCache.synchronized {
        trainedIvfIndexCache.getOrElseUpdate(d, {
          val p = scratchIndexDir("graft-ivf-trained")
          val cents = SimilarityOps.trainCentroids(emb, k = 16, iters = 2)
          SimilarityOps.writeIvfIndexWith(emb, p, cents)
          (p, cents)
        })
      }
      val trainedTop = SimilarityOps
        .ivfTopKIndexed(s, idx, trained, qs, k = 5, nprobe = 2)
        .select("query_id", "neighbor_id")
      val seedMax = SimilarityOps.ivfAssign(emb, nlist = 16)
        .groupBy("centroid_id").count().agg(max("count").as("max_list"))
      val trainedMax = emb
        .select(SimilarityOps.assignTo(col("embedding"), trained).as("cid"))
        .groupBy("cid").count().agg(max("count").as("max_list"))
      Seq(("seed", seeded, seedMax), ("trained", trainedTop, trainedMax))
        .map { case (v, arm, mx) =>
          exact.join(arm, Seq("query_id", "neighbor_id"))
            .agg(count(lit(1)).as("hits"))
            .select(lit(v).as("variant"), col("hits"))
            .crossJoin(mx)
        }.reduce(_ unionByName _)
        .crossJoin(denom)
        .withColumn("recall_bp", expr("(hits * 10000) div n_exact"))
        .select("variant", "hits", "recall_bp", "max_list")
    }),


    // IVF INDEX DRIFT / retrain signal — the q245 merge-on-write
    // decision rule's ANN analog: the index's centroids were trained on
    // the BASE corpus (vec_id % 5 != 0); a NEW batch (% 5 == 0) is
    // assigned against those fixed centroids in the integer-quantized
    // space (assignQuantized — distances are longs, so the error sums
    // are partitioning-order-deterministic, unlike IEEE double sums).
    // Output per centroid: base/batch member counts and list-share in
    // bp, the absolute share shift, plus the global batch-vs-base
    // quantization-error ratio (scaled integer avg of d//64) and the
    // retrain flag (ratio > 1.2×). A drifted batch concentrates in few
    // lists and pays higher error — the signal that schedules
    // re-training WITHOUT rescanning the base corpus (one pass over
    // base+batch, k×dim broadcast, zero joins before the k-row agg).
    "q250_ivf_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.where(pmod(col("vec_id"), lit(5L)) =!= 0L)
      val cents = SimilarityOps.trainCentroids(base, k = 8, iters = 2)
      val assigned = SimilarityOps.assignQuantized(emb, cents)
        .withColumn("arm",
          when(pmod(col("vec_id"), lit(5L)) === 0L, lit("batch"))
            .otherwise(lit("base")))
      // ONE corpus pass: the per-centroid frame carries the error sums
      // too, and the global totals FOLD from those k rows via a window
      // over the k-row aggregate — `assigned` is an ExistingRDD-backed
      // frame (no cache, no Catalyst subtree sharing), so the previous
      // shape (a SEPARATE global agg crossJoined back) re-ran the whole
      // quantized-assignment scan a second time; the single-subtree
      // window keeps the corpus scan unique without a cache barrier
      // (the window moves k rows, not data)
      val per = assigned.groupBy("centroid_id").agg(
        sum(when(col("arm") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("arm") === "batch", 1L).otherwise(0L)).as("n_batch"),
        sum(when(col("arm") === "base", expr("dist div 64")).otherwise(0L)).as("e_base"),
        sum(when(col("arm") === "batch", expr("dist div 64")).otherwise(0L)).as("e_batch"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      per
        .withColumn("t_base", sum("n_base").over(w))
        .withColumn("t_batch", sum("n_batch").over(w))
        .withColumn("d_base", sum("e_base").over(w))
        .withColumn("d_batch", sum("e_batch").over(w))
        .select(col("centroid_id"), col("n_base"), col("n_batch"),
          expr("n_base * 10000 div t_base").as("base_share_bp"),
          expr("n_batch * 10000 div t_batch").as("batch_share_bp"),
          expr("abs(n_base * 10000 div t_base - n_batch * 10000 div t_batch)")
            .as("shift_bp"),
          expr("((d_batch div t_batch) * 10000) div (d_base div t_base)")
            .as("err_ratio_bp"),
          expr("((d_batch div t_batch) * 10000) div (d_base div t_base) > 12000")
            .as("retrain"))
    }),


    // 1-bit sign-quantized ANN over the planted dup corpus: 64 sign
    // bits in two 32-bit BIGINT lanes, Hamming ranking via XOR +
    // popcount through the bounded-heap TopK aggregator. The ×1.001
    // planted twin preserves every sign, so each query's twin sits at
    // hamming 0 — the non-vacuous positive. The 16-bytes-per-vector
    // regime below even PQ (q125): at 100 TB of vectors the binary
    // filter pass touches 1/16th the bytes of a float scan and feeds
    // survivors to an exact re-rank.
    "q197_binary_ann" -> ((s, d) => {
      val codes = SimilarityOps.binaryCodes(dupEmbeddings(Tables.embeddings(s, d)))
      val qs = codes.where(col("vec_id") < 8)
      SimilarityOps.binaryTopK(codes, qs, k = 5)
    }),


    // Mutual-kNN bitext-style mining: batch side vec_id < 32 against
    // the rest of the corpus, top-4 forward, top-1 reverse (a pair
    // survives only if b's single best batch match is the a that
    // ranked it — with a lenient reverse k the label-clustered corpus
    // reciprocates everything and the filter is vacuous), ratio-margin
    // scores. Reciprocity + margin is what separates true translation
    // pairs from hub vectors — the pair table a contrastive trainer
    // ingests.
    "q199_mutual_knn" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilarityOps.mutualTopK(
        emb.where(col("vec_id") >= 32), emb.where(col("vec_id") < 32),
        kAb = 4, kBa = 1)
    }),


    // HARD-negative mining — q171's random negatives upgraded to the
    // ones that actually teach an embedding model: for each query, the
    // top-4 most similar corpus vectors whose LABEL DIFFERS (a same-
    // label neighbor is a presumed positive, not a negative). Exact
    // top-k (k + label-filter headroom) then the anti-label cut +
    // re-rank — the standard mining loop between training epochs.
    "q189_hard_negatives" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val labels = emb.select(col("vec_id"), col("label"))
      // headroom: top-12 similar, then drop same-label, keep 4
      val topk = SimilarityOps.bruteForceTopK(emb,
        emb.where(col("vec_id") < 8), k = 12)
      val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("neighbor_id"))
      topk
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .where(col("q_label") =!= col("n_label"))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .where(col("neg_rank") <= 4)
        .select(col("query_id"), col("neighbor_id").as("neg_id"),
          col("sim"), col("neg_rank"))
    }),


    // nDCG@5 vs ground-truth labels — q159's precision@5 upgraded with
    // rank discounting (a hit at rank 1 is worth more than at rank 5).
    // Each rank's 1/log2(r+1) discount is floored to integer
    // micro-units BEFORE summing, so DCG/IDCG are order-free integer
    // sums and the only cross-engine float ops are per-term ln()s on
    // small integers (the q65 bm25 precedent).
    "q185_ndcg" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val labels = emb.select(col("vec_id"), col("label"))
      val topk = SimilarityOps.bruteForceTopK(emb,
        emb.where(col("vec_id") < 8), k = 5)
      val gainMicro =
        "CAST(floor(1000000.0 * ln(2.0) / ln(CAST(rank AS DOUBLE) + 1.0) + 0.5) AS BIGINT)"
      val agg = topk
        .join(labels.select(col("vec_id").as("query_id"),
          col("label").as("q_label")), "query_id")
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label")), "neighbor_id")
        .withColumn("g", when(col("q_label") === col("n_label"),
          expr(gainMicro)).otherwise(0L))
        .groupBy("query_id")
        .agg(sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L)).as("hits"),
          sum(col("g")).as("dcg_micro"))
      agg.withColumn("idcg_micro",
          when(col("hits") === 0L, lit(0L)).otherwise(expr(
            "aggregate(sequence(1, CAST(hits AS INT)), CAST(0 AS BIGINT), (acc, i) -> " +
              "acc + CAST(floor(1000000.0 * ln(2.0) / ln(CAST(i AS DOUBLE) + 1.0) + 0.5) AS BIGINT))")))
        .select(col("query_id"), col("hits"), col("dcg_micro"),
          when(col("hits") === 0L, lit(0L))
            .otherwise(expr("(dcg_micro * 10000) div idcg_micro")).as("ndcg_bp"))
    }),


    // K-MEANS TRAINING: two Lloyd rounds from the k=4 lowest-id seed,
    // all-integer (quantized components, floorDiv centroid means), then
    // the final assignment — the oracle replays both rounds with the
    // identical integer arithmetic, so the TRAINED centroids (not just
    // the assignment) are hash-checked through the distances.
    "q169_kmeans" -> ((s, d) =>
      SimilarityOps.kmeansFitAssign(Tables.embeddings(s, d), k = 4, iters = 2)),

    // Diversity sampling (cluster-balanced subset selection): q169's
    // trained k-means assignment capped at 8 picks per cluster by the
    // portable hash — the embedding-space analog of q126's per-source
    // cap, keeping the sample spread across semantic clusters instead
    // of letting the densest mode dominate. Deterministic, append-
    // stable, cap binds at every SF (>= ~12 vectors/cluster at
    // sf0.001), so the cut is never vacuous.
    "q177_diverse_sample" -> ((s, d) => {
      val asn = SimilarityOps.kmeansFitAssign(Tables.embeddings(s, d),
        k = 4, iters = 2).select(col("vec_id"), col("centroid_id"))
      SampleOps.cappedPerGroup(asn, "centroid_id", "vec_id", cap = 8)
    }),

    // CHUNK -> DOC mean pooling: vec_id % 100 groups ~5 chunks per doc;
    // unnested quantized output so every pooled component hash-checks.
    "q170_mean_pool" -> ((s, d) =>
      SimilarityOps.meanPoolEmbeddings(
        Tables.embeddings(s, d)
          .select(pmod(col("vec_id"), lit(100L)).as("doc_id"), col("embedding")),
        "doc_id")),

    // INCREMENTAL k-means: the corpus arrives as two batches (even /
    // odd ids); each contributes mergeable (centroid, dim) sufficient
    // statistics against the seed centroids, states merge by addition,
    // centroids re-derive from the merged state. The oracle computes
    // the UN-SPLIT answer directly, so the hash match certifies
    // state(A) ⊕ state(B) == state(A ∪ B) cross-engine.
    "q173_kmeans_increment" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val w = Window.orderBy("vec_id")
      val seeds = emb.orderBy("vec_id").limit(4)
        .withColumn("centroid_id", (row_number().over(w) - 1).cast("int"))
        .select(col("centroid_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("centroid_id"), col("dim").cast("int").as("dim"),
          floor(col("x").cast("double") * 1000000L + 0.5).cast("long").as("c"))
      val a = SimilarityOps.kmeansCentroidState(
        emb.where(pmod(col("vec_id"), lit(2L)) === 0), seeds)
      val b = SimilarityOps.kmeansCentroidState(
        emb.where(pmod(col("vec_id"), lit(2L)) === 1), seeds)
      SimilarityOps.kmeansCentroidsFromState(
        SimilarityOps.kmeansMergeStates(a, b))
    }),


    // Embedding outlier pruning: distance to the assigned centroid
    // (q29's 16-centroid assignment) against an all-integer 1.5×-mean
    // per-cluster gate. Every 13th embedding is PLANTED as a +2.0-per-
    // dim displaced copy (id + 10^12) — far off the data manifold, so
    // the flagged set is provably non-empty while the original corpus
    // members mostly keep their clusters' mean distance.
    "q207_centroid_outliers" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.select(col("vec_id"), col("embedding"))
        .unionByName(emb.where(pmod(col("vec_id"), lit(13)) === 0)
          .select((col("vec_id") + 1000000000000L).as("vec_id"),
            transform(col("embedding"),
              x => (x + lit(2.0f)).cast("float")).as("embedding")))
      SimilarityOps.centroidOutliers(corpus, nlist = 16)
    }),


    // SEMANTIC eval-set contamination check — n-gram decontamination
    // (q79) misses paraphrases; this catches them in embedding space:
    // each eval vector's single nearest train neighbor, flagged at
    // cosine >= 0.995. Eval is half PLANTED contamination (×1.001
    // copies of train vectors — sim 1.0) and half reversed vectors
    // (decorrelated controls), so both flag states provably occur.
    "q221_semantic_contam" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val eval = emb.where(col("vec_id") < 8)
        .select((col("vec_id") + 1000000000000L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.001f)).cast("float")).as("embedding"))
        .unionByName(emb.where(col("vec_id") >= 100 && col("vec_id") < 108)
          .select((col("vec_id") + 2000000000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding")))
      SimilarityOps.bruteForceTopK(emb, eval, k = 1)
        .withColumn("contaminated", col("sim") >= 0.995)
    }),
  )

  /** One Lloyd round as DuckDB CTEs: assign `q` to `prev` centroids
    * (squared-L2 argmin, ties to lowest cid), then per-cluster
    * per-dimension floor-div means; empty clusters keep their previous
    * centroid. Mirrors [[graft.operators.SimilarityOps.kmeansFitAssign]]
    * exactly.
    */
  /** The q30 IVF chain (assign → probe nprobe lists → cosine → rank)
    * with a CTE-name prefix and a PARAMETERIZED nprobe — q190
    * instantiates it at nprobe 1/2/4 side by side. Semantics identical
    * to Fixtures.ivfTopKCtes (which q30/q113 pin at nprobe = 4).
    */
  private def ivfChainSql(x: String, np: Int,
      centSql: String =
        "SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16")
      : String =
    s"""${x}cent AS ($centSql),
       |${x}ad AS (SELECT e.vec_id AS nid, e.embedding AS nv, c.cid,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |   list_sum(list_transform(list_zip(e.embedding, c.cv),
       |     p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), c.cid) AS rn
       | FROM embeddings e CROSS JOIN ${x}cent c),
       |${x}a AS (SELECT nid, nv, cid FROM ${x}ad WHERE rn = 1),
       |${x}pd AS (SELECT q.vec_id AS qid, q.embedding AS qv, c.cid,
       |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |   list_sum(list_transform(list_zip(q.embedding, c.cv),
       |     p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), c.cid) AS rn
       | FROM embeddings q CROSS JOIN ${x}cent c WHERE q.vec_id < 8),
       |${x}p AS (SELECT qid, qv, cid FROM ${x}pd WHERE rn <= $np),
       |${x}s AS (SELECT p.qid, a.nid,
       |  list_sum(list_transform(list_zip(p.qv, a.nv), x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS dp,
       |  sqrt(list_sum(list_transform(list_zip(p.qv, p.qv), x -> x[1]::DOUBLE * x[2]::DOUBLE))) AS na,
       |  sqrt(list_sum(list_transform(list_zip(a.nv, a.nv), x -> x[1]::DOUBLE * x[2]::DOUBLE))) AS nb
       | FROM ${x}a a JOIN ${x}p p ON a.cid = p.cid WHERE p.qid <> a.nid),
       |${x}r AS (SELECT qid, nid,
       |  floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END) * 10000 + 0.5) / 10000 AS sim FROM ${x}s),
       |${x}w AS (SELECT qid, nid, sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM ${x}r),
       |${x}t AS (SELECT qid, nid FROM ${x}w WHERE rk <= 5)""".stripMargin

  private def kmeansRoundSql(r: Int, prev: String, next: String): String =
    s"""a${r}d AS (SELECT q.vec_id, $prev.cid,
       |  CAST(list_sum(list_transform(list_zip(q.v, $prev.c),
       |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
       | FROM q CROSS JOIN $prev),
       |a$r AS (SELECT vec_id, cid, d,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a${r}d),
       |m$r AS (SELECT a.cid, unnest(q.v) AS x, unnest(range(1, len(q.v) + 1)) AS dim
       | FROM a$r a JOIN q USING (vec_id) WHERE a.rn = 1),
       |s$r AS (SELECT cid, dim, CAST(sum(x) AS BIGINT) AS sx, count(*) AS n
       | FROM m$r GROUP BY cid, dim),
       |u$r AS (SELECT cid, list(sx // n ORDER BY dim) AS c FROM s$r GROUP BY cid),
       |$next AS (SELECT p.cid, coalesce(u.c, p.c) AS c
       | FROM $prev p LEFT JOIN u$r u USING (cid))""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // Portable hyperplane LSH re-derived end-to-end: md5-derived plane
    // components in [-1,1), per-plane dots via ordered list_sum (the
    // same sequential-sum parity q28 established), sign-bit bucket keys,
    // bucketed self-join, exact cosine verify. The float×1.001 dup-arm
    // multiply is safe cross-engine: a float product is exact in double,
    // so double-then-round equals native float math.
    "q27_embedding_neardups" ->
      s"""WITH $embeddingPairCtes
        |SELECT id_a, id_b, sim FROM r WHERE sim >= 0.99""".stripMargin,


    "q28_bruteforce_topk" ->
      s"""WITH ${cosineTopKCtes("", "TRUE")}
        |SELECT qid AS query_id, nid AS neighbor_id, sim, rk AS rank
        |FROM w WHERE rk <= 5""".stripMargin,


    "q29_ivf_assign" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, c.cid,
        |  list_sum(list_transform(list_zip(e.embedding, c.cv),
        |    p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))) AS d2
        | FROM embeddings e CROSS JOIN cent c),
        |r AS (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
        |SELECT vec_id, cid AS centroid_id FROM r WHERE rn = 1""".stripMargin,


    "q30_ivf_topk" ->
      s"""WITH $ivfTopKCtes
        |SELECT qid AS query_id, nid AS neighbor_id, sim, rk AS rank
        |FROM w WHERE rk <= 5""".stripMargin,


    // Identical semantics to q30 — the Spark side differs only in HOW
    // (materialized partition-pruned index vs in-plan assignment).
    "q58_ivf_indexed" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |ad AS (SELECT e.vec_id AS nid, e.embedding AS nv, c.cid,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(list_zip(e.embedding, c.cv),
        |     p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), c.cid) AS rn
        | FROM embeddings e CROSS JOIN cent c),
        |a AS (SELECT nid, nv, cid FROM ad WHERE rn = 1),
        |pd AS (SELECT q.vec_id AS qid, q.embedding AS qv, c.cid,
        |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |   list_sum(list_transform(list_zip(q.embedding, c.cv),
        |     p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), c.cid) AS rn
        | FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8),
        |p AS (SELECT qid, qv, cid FROM pd WHERE rn <= 4),
        |s AS (SELECT p.qid, a.nid,
        |  list_sum(list_transform(list_zip(p.qv, a.nv), x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS dp,
        |  sqrt(list_sum(list_transform(list_zip(p.qv, p.qv), x -> x[1]::DOUBLE * x[2]::DOUBLE))) AS na,
        |  sqrt(list_sum(list_transform(list_zip(a.nv, a.nv), x -> x[1]::DOUBLE * x[2]::DOUBLE))) AS nb
        | FROM a JOIN p ON a.cid = p.cid WHERE p.qid <> a.nid),
        |r AS (SELECT qid, nid,
        |  floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END) * 10000 + 0.5) / 10000 AS sim FROM s),
        |w AS (SELECT qid, nid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM r)
        |SELECT qid AS query_id, nid AS neighbor_id, sim, rk AS rank
        |FROM w WHERE rk <= 5""".stripMargin,


    // q28's scoring chain with the corpus pre-filtered.
    "q108_filtered_ann" ->
      s"""WITH ${cosineTopKCtes("", "vec_id >= 100")}
        |SELECT qid AS query_id, nid AS neighbor_id, sim, CAST(rk AS BIGINT) AS rank
        |FROM w WHERE rk <= 5""".stripMargin,


    // Exact chain (q28, CTEs prefixed e*) + IVF chain (q30 verbatim) +
    // the per-query hit count. Both chains rank by the ROUNDED sim
    // (matching the Spark operators) so the rank-5 cut agrees exactly.
    "q113_ann_recall" ->
      s"""WITH ${cosineTopKCtes("e", "TRUE")},
        |exact AS (SELECT qid, nid FROM ew WHERE rk <= 5),
        |$ivfTopKCtes,
        |approx AS (SELECT qid, nid FROM w WHERE rk <= 5),
        |hits AS (SELECT e.qid, count(*) AS hits
        | FROM exact e JOIN approx x ON x.qid = e.qid AND x.nid = e.nid GROUP BY 1)
        |SELECT eq.qid AS query_id, coalesce(h.hits, 0) AS hits,
        | floor((coalesce(h.hits, 0)::DOUBLE / 5) * 10000 + 0.5) / 10000 AS recall_at_5
        |FROM eq LEFT JOIN hits h ON h.qid = eq.qid""".stripMargin,


    // Identical (mn, sc) scalars, identical per-element quantization
    // ((x - mn) * sc + 0.5 — same op order), integer dot products.
    "q114_quantized_ann" ->
      """WITH st0 AS (SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS mn,
        |  CAST(max(list_max(embedding)) AS DOUBLE) AS mx FROM embeddings),
        |st AS (SELECT mn,
        |  CASE WHEN mx = mn THEN 0.0 ELSE 254.0 / (mx - mn) END AS sc FROM st0),
        |cq AS (SELECT vec_id AS neighbor_id,
        |  list_transform(embedding, x ->
        |    CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INTEGER) - 127) AS cv
        | FROM embeddings CROSS JOIN st),
        |qq AS (SELECT vec_id AS qid,
        |  list_transform(embedding, x ->
        |    CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INTEGER) - 127) AS qv
        | FROM embeddings CROSS JOIN st WHERE vec_id < 8),
        |sdp AS (SELECT qid, neighbor_id,
        |  CAST(list_sum(list_transform(list_zip(qv, cv),
        |    p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS dp
        | FROM cq CROSS JOIN qq WHERE qid <> neighbor_id),
        |w AS (SELECT qid, neighbor_id, dp,
        |  row_number() OVER (PARTITION BY qid ORDER BY dp DESC, neighbor_id) AS rk FROM sdp)
        |SELECT qid AS query_id, neighbor_id, dp, CAST(rk AS BIGINT) AS rank
        |FROM w WHERE rk <= 5""".stripMargin,


    // Identical int8 affine (q114), identical sampled codebook (entry
    // (s, c) = subspace-s slice of vector s*16+c), argmin squared-L2
    // with (dist, c) tie-break, ADC = sum of integer table lookups.
    "q125_pq_ann" ->
      """WITH st0 AS (SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS mn,
        |  CAST(max(list_max(embedding)) AS DOUBLE) AS mx FROM embeddings),
        |st AS (SELECT mn,
        |  CASE WHEN mx = mn THEN 0.0 ELSE 254.0 / (mx - mn) END AS sc FROM st0),
        |q AS (SELECT vec_id AS id, list_transform(embedding, x ->
        |  CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INTEGER) - 127) AS cv
        | FROM embeddings CROSS JOIN st),
        |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
        |sub AS (SELECT q.id, ss.s, q.cv[ss.s*8+1 : ss.s*8+8] AS sv
        | FROM q CROSS JOIN ss),
        |cb AS (SELECT s, id % 16 AS c, sv AS cvec FROM sub
        | WHERE id < 128 AND s = id // 16),
        |enc AS (SELECT sub.id, sub.s, cb.c,
        |  CAST(list_sum(list_transform(list_zip(sub.sv, cb.cvec),
        |    p -> CAST(p[1] - p[2] AS BIGINT) * CAST(p[1] - p[2] AS BIGINT)))
        |   AS BIGINT) AS dist
        | FROM sub JOIN cb ON cb.s = sub.s),
        |codes AS (SELECT id, s, c FROM (
        |  SELECT id, s, c,
        |   row_number() OVER (PARTITION BY id, s ORDER BY dist, c) AS rk FROM enc)
        | WHERE rk = 1),
        |dt AS (SELECT sub.id AS qid, sub.s, cb.c,
        |  CAST(list_sum(list_transform(list_zip(sub.sv, cb.cvec),
        |    p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS dot
        | FROM sub JOIN cb ON cb.s = sub.s WHERE sub.id < 8),
        |adc AS (SELECT dt.qid, codes.id AS nid, CAST(sum(dt.dot) AS BIGINT) AS adp
        | FROM codes JOIN dt ON dt.s = codes.s AND dt.c = codes.c
        | WHERE dt.qid <> codes.id GROUP BY 1, 2),
        |w AS (SELECT qid, nid, adp,
        |  row_number() OVER (PARTITION BY qid ORDER BY adp DESC, nid) AS rk FROM adc)
        |SELECT qid AS query_id, nid AS neighbor_id, adp, CAST(rk AS BIGINT) AS rank
        |FROM w WHERE rk <= 5""".stripMargin,


    // The q30 IVF pruning chain (a = assignments, p = probes) composed
    // with the q125 PQ chain (codes, dt): ADC scores only probed pairs.
    "q127_ivfpq_ann" ->
      s"""WITH $ivfTopKCtes,
        |st0 AS (SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS mn,
        |  CAST(max(list_max(embedding)) AS DOUBLE) AS mx FROM embeddings),
        |st AS (SELECT mn,
        |  CASE WHEN mx = mn THEN 0.0 ELSE 254.0 / (mx - mn) END AS sc FROM st0),
        |q AS (SELECT vec_id AS id, list_transform(embedding, x ->
        |  CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INTEGER) - 127) AS cv
        | FROM embeddings CROSS JOIN st),
        |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
        |sub AS (SELECT q.id, ss.s, q.cv[ss.s*8+1 : ss.s*8+8] AS sv
        | FROM q CROSS JOIN ss),
        |cb AS (SELECT s, id % 16 AS c, sv AS cvec FROM sub
        | WHERE id < 128 AND s = id // 16),
        |enc AS (SELECT sub.id, sub.s, cb.c,
        |  CAST(list_sum(list_transform(list_zip(sub.sv, cb.cvec),
        |    x -> CAST(x[1] - x[2] AS BIGINT) * CAST(x[1] - x[2] AS BIGINT)))
        |   AS BIGINT) AS dist
        | FROM sub JOIN cb ON cb.s = sub.s),
        |codes AS (SELECT id, s, c FROM (
        |  SELECT id, s, c,
        |   row_number() OVER (PARTITION BY id, s ORDER BY dist, c) AS rk FROM enc)
        | WHERE rk = 1),
        |dt AS (SELECT sub.id AS qid, sub.s, cb.c,
        |  CAST(list_sum(list_transform(list_zip(sub.sv, cb.cvec),
        |    x -> CAST(x[1] AS BIGINT) * CAST(x[2] AS BIGINT))) AS BIGINT) AS dot
        | FROM sub JOIN cb ON cb.s = sub.s WHERE sub.id < 8),
        |pairs AS (SELECT p.qid, a.nid FROM a JOIN p ON a.cid = p.cid
        | WHERE p.qid <> a.nid),
        |adc AS (SELECT pr.qid, pr.nid, CAST(sum(dt.dot) AS BIGINT) AS adp
        | FROM pairs pr
        | JOIN codes ON codes.id = pr.nid
        | JOIN dt ON dt.qid = pr.qid AND dt.s = codes.s AND dt.c = codes.c
        | GROUP BY 1, 2),
        |w2 AS (SELECT qid, nid, adp,
        |  row_number() OVER (PARTITION BY qid ORDER BY adp DESC, nid) AS rk FROM adc)
        |SELECT qid AS query_id, nid AS neighbor_id, adp, CAST(rk AS BIGINT) AS rank
        |FROM w2 WHERE rk <= 5""".stripMargin,


    // Same int8 affine (q125 chain), same md5 sign matrix, integer
    // folds pivoted to columns.
    "q150_jl_project" ->
      """WITH st0 AS (SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS mn,
        |  CAST(max(list_max(embedding)) AS DOUBLE) AS mx FROM embeddings),
        |st AS (SELECT mn,
        |  CASE WHEN mx = mn THEN 0.0 ELSE 254.0 / (mx - mn) END AS sc FROM st0),
        |q AS (SELECT vec_id AS id, list_transform(embedding, x ->
        |  CAST(floor((CAST(x AS DOUBLE) - mn) * sc + 0.5) AS INTEGER) - 127) AS cv
        | FROM embeddings CROSS JOIN st),
        |jj AS (SELECT unnest(generate_series(0, 7)) AS j),
        |ii AS (SELECT unnest(generate_series(0, 63)) AS i),
        |sgn AS (SELECT j, i,
        |  CASE WHEN ('0x' || substr(md5('jl_' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
        |   THEN 1 ELSE -1 END AS s
        | FROM jj CROSS JOIN ii),
        |proj AS (SELECT q.id, sgn.j,
        |  CAST(sum(CAST(q.cv[sgn.i + 1] AS BIGINT) * sgn.s) AS BIGINT) AS p
        | FROM q CROSS JOIN sgn GROUP BY 1, 2)
        |SELECT id AS vec_id,
        | CAST(sum(CASE WHEN j = 0 THEN p END) AS BIGINT) AS p0,
        | CAST(sum(CASE WHEN j = 1 THEN p END) AS BIGINT) AS p1,
        | CAST(sum(CASE WHEN j = 2 THEN p END) AS BIGINT) AS p2,
        | CAST(sum(CASE WHEN j = 3 THEN p END) AS BIGINT) AS p3,
        | CAST(sum(CASE WHEN j = 4 THEN p END) AS BIGINT) AS p4,
        | CAST(sum(CASE WHEN j = 5 THEN p END) AS BIGINT) AS p5,
        | CAST(sum(CASE WHEN j = 6 THEN p END) AS BIGINT) AS p6,
        | CAST(sum(CASE WHEN j = 7 THEN p END) AS BIGINT) AS p7
        |FROM proj GROUP BY 1""".stripMargin,


    // The q28 chain scored by label agreement.
    "q159_knn_precision" ->
      s"""WITH ${cosineTopKCtes("", "TRUE")},
        |top5 AS (SELECT qid, nid FROM w WHERE rk <= 5),
        |lab AS (SELECT vec_id, label FROM embeddings)
        |SELECT t.qid AS query_id,
        | CAST(sum(CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        | (CAST(sum(CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END) AS BIGINT) * 10000) // 5 AS precision_bp
        |FROM top5 t
        |JOIN lab lq ON lq.vec_id = t.qid
        |JOIN lab ln ON ln.vec_id = t.nid
        |GROUP BY 1""".stripMargin,


    // Three prefixed instantiations of the parameterized IVF chain
    // (nprobe 1/2/4) against the exact chain's top-5.
    // q249: the SAME quantized Lloyd rounds as q169 (k=16 here), then
    // the trained centroids de-quantized to doubles feed the identical
    // IVF probe chain the seed arm runs — two arms, one exact
    // denominator.
    "q249_ivf_trained_recall" ->
      s"""WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
        | FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        | FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 16)),
        |${kmeansRoundSql(1, "c0", "c1")},
        |${kmeansRoundSql(2, "c1", "c2")},
        |${ivfChainSql("tr", 2,
             "SELECT cid, list_transform(c, x -> x / 1000000.0) AS cv FROM c2")},
        |${ivfChainSql("sd", 2)},
        |${cosineTopKCtes("x", "TRUE")},
        |ex AS (SELECT qid, nid FROM xw WHERE rk <= 5),
        |den AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
        |sh AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM ex JOIN sdt USING (qid, nid)),
        |th AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM ex JOIN trt USING (qid, nid)),
        |sm AS (SELECT CAST(max(c) AS BIGINT) AS max_list
        | FROM (SELECT count(*) AS c FROM sda GROUP BY cid)),
        |tm AS (SELECT CAST(max(c) AS BIGINT) AS max_list
        | FROM (SELECT count(*) AS c FROM tra GROUP BY cid))
        |SELECT 'seed' AS variant, hits,
        | (hits * 10000) // (SELECT n_exact FROM den) AS recall_bp,
        | (SELECT max_list FROM sm) AS max_list FROM sh
        |UNION ALL SELECT 'trained', hits,
        | (hits * 10000) // (SELECT n_exact FROM den),
        | (SELECT max_list FROM tm) FROM th""".stripMargin,


    // q250: train on the base arm only (the kmeans CTEs' `q` is the
    // base), then assign EVERY row integer-exactly against c2 and fold
    // the per-centroid shares and the scaled error ratio — the same //
    // truncation chain as the engine, term for term.
    "q250_ivf_drift" ->
      s"""WITH qa AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v,
        |  CASE WHEN vec_id % 5 = 0 THEN 'batch' ELSE 'base' END AS arm
        | FROM embeddings),
        |q AS (SELECT vec_id, v FROM qa WHERE arm = 'base'),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        | FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 8)),
        |${kmeansRoundSql(1, "c0", "c1")},
        |${kmeansRoundSql(2, "c1", "c2")},
        |fad AS (SELECT a.vec_id, a.arm, c2.cid,
        |  CAST(list_sum(list_transform(list_zip(a.v, c2.c),
        |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        | FROM qa a CROSS JOIN c2),
        |fas AS (SELECT vec_id, arm, cid, d,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM fad),
        |f AS (SELECT vec_id, arm, cid, d // 64 AS ds FROM fas WHERE rn = 1),
        |tot AS (SELECT
        |  CAST(sum(CASE WHEN arm = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS t_base,
        |  CAST(sum(CASE WHEN arm = 'batch' THEN 1 ELSE 0 END) AS BIGINT) AS t_batch,
        |  CAST(sum(CASE WHEN arm = 'base' THEN ds ELSE 0 END) AS BIGINT) AS d_base,
        |  CAST(sum(CASE WHEN arm = 'batch' THEN ds ELSE 0 END) AS BIGINT) AS d_batch
        | FROM f),
        |per AS (SELECT cid AS centroid_id,
        |  CAST(sum(CASE WHEN arm = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |  CAST(sum(CASE WHEN arm = 'batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
        | FROM f GROUP BY cid)
        |SELECT per.centroid_id, per.n_base, per.n_batch,
        | per.n_base * 10000 // tot.t_base AS base_share_bp,
        | per.n_batch * 10000 // tot.t_batch AS batch_share_bp,
        | abs(per.n_base * 10000 // tot.t_base
        |   - per.n_batch * 10000 // tot.t_batch) AS shift_bp,
        | ((tot.d_batch // tot.t_batch) * 10000) // (tot.d_base // tot.t_base)
        |   AS err_ratio_bp,
        | ((tot.d_batch // tot.t_batch) * 10000) // (tot.d_base // tot.t_base) > 12000
        |   AS retrain
        |FROM per CROSS JOIN tot""".stripMargin,


    "q190_nprobe_sweep" ->
      s"""WITH ${ivfChainSql("n1", 1)},
        |${ivfChainSql("n2", 2)},
        |${ivfChainSql("n4", 4)},
        |${cosineTopKCtes("e", "TRUE")},
        |et AS (SELECT qid, nid FROM ew WHERE rk <= 5),
        |en AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM et),
        |h1 AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM et JOIN n1t USING (qid, nid)),
        |h2 AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM et JOIN n2t USING (qid, nid)),
        |h4 AS (SELECT CAST(count(*) AS BIGINT) AS hits FROM et JOIN n4t USING (qid, nid))
        |SELECT CAST(1 AS BIGINT) AS nprobe, hits,
        | (hits * 10000) // (SELECT n_exact FROM en) AS recall_bp FROM h1
        |UNION ALL SELECT 2, hits, (hits * 10000) // (SELECT n_exact FROM en) FROM h2
        |UNION ALL SELECT 4, hits, (hits * 10000) // (SELECT n_exact FROM en) FROM h4""".stripMargin,


    // Sign bits re-derived positionally (1-indexed lists, bit j-1 from
    // element j), Hamming by xor + bit_count per 32-bit lane — integer
    // end to end, so the compare is exact. The ×1.001 dup arm cannot
    // flip a sign, which is what makes the planted twins hamming-0.
    "q197_binary_ann" ->
      """WITH e AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000000 AS id,
        |    list_transform(embedding, x -> CAST(CAST(x AS REAL) * CAST(1.001 AS REAL) AS REAL)) AS v
        |  FROM embeddings),
        |c AS (SELECT id,
        |  CAST(list_sum(list_transform(range(1, 33),
        |    j -> CASE WHEN v[j] > 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)) AS BIGINT) AS c0,
        |  CAST(list_sum(list_transform(range(33, 65),
        |    j -> CASE WHEN v[j] > 0 THEN (1::BIGINT << (j - 33)) ELSE 0 END)) AS BIGINT) AS c1
        | FROM e),
        |q AS (SELECT id, c0, c1 FROM c WHERE id < 8),
        |d AS (SELECT q.id AS query_id, c.id AS neighbor_id,
        |  CAST(bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1)) AS INTEGER) AS hamming
        | FROM q JOIN c ON c.id <> q.id),
        |r AS (SELECT query_id, neighbor_id, hamming,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
        | FROM d)
        |SELECT query_id, neighbor_id, hamming, rank FROM r WHERE rank <= 5""".stripMargin,


    // Both kNN directions re-derived from one scored cross frame on
    // integer sim_e4 (one rounding of the raw cosine — ranking, sums,
    // and the margin are integer-exact end to end).
    "q199_mutual_knn" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding AS av FROM embeddings WHERE vec_id < 32),
        |b AS (SELECT vec_id AS b_id, embedding AS bv FROM embeddings WHERE vec_id >= 32),
        |s0 AS (SELECT a_id, b_id,
        |  list_sum(list_transform(list_zip(av, bv), p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS dp,
        |  sqrt(list_sum(list_transform(list_zip(av, av), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS na,
        |  sqrt(list_sum(list_transform(list_zip(bv, bv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS nb
        | FROM b CROSS JOIN a),
        |s AS (SELECT a_id, b_id,
        |  CAST(floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END) * 10000 + 0.5) AS BIGINT) AS sim_e4
        | FROM s0),
        |r1 AS (SELECT a_id, b_id, sim_e4,
        |  CAST(row_number() OVER (PARTITION BY a_id ORDER BY sim_e4 DESC, b_id) AS BIGINT) AS rank_ab FROM s),
        |t1 AS (SELECT a_id, b_id, sim_e4, rank_ab FROM r1 WHERE rank_ab <= 4),
        |g1 AS (SELECT a_id, CAST(sum(sim_e4) AS BIGINT) AS sum_a FROM t1 GROUP BY 1),
        |r2 AS (SELECT a_id, b_id,
        |  CAST(row_number() OVER (PARTITION BY b_id ORDER BY sim_e4 DESC, a_id) AS BIGINT) AS rank_ba FROM s),
        |t2 AS (SELECT a_id, b_id, rank_ba FROM r2 WHERE rank_ba <= 1),
        |g2 AS (SELECT t2.b_id, CAST(sum(s.sim_e4) AS BIGINT) AS sum_b
        | FROM t2 JOIN s ON s.a_id = t2.a_id AND s.b_id = t2.b_id GROUP BY 1)
        |SELECT t1.a_id, t1.b_id, t1.sim_e4, t1.rank_ab, t2.rank_ba,
        | (2 * 4 * 1 * t1.sim_e4 * 10000) // (1 * g1.sum_a + 4 * g2.sum_b) AS margin_bp
        |FROM t1
        |JOIN t2 ON t2.a_id = t1.a_id AND t2.b_id = t1.b_id
        |JOIN g1 ON g1.a_id = t1.a_id
        |JOIN g2 ON g2.b_id = t1.b_id""".stripMargin,


    // The same cosine chain cut at 12, anti-label filter, re-rank to 4.
    "q189_hard_negatives" ->
      s"""WITH ${cosineTopKCtes("", "TRUE")},
        |top12 AS (SELECT qid, nid, sim FROM w WHERE rk <= 12),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |neg AS (SELECT t.qid, t.nid, t.sim,
        |  row_number() OVER (PARTITION BY t.qid ORDER BY t.sim DESC, t.nid) AS rn
        | FROM top12 t
        | JOIN lab lq ON lq.vec_id = t.qid
        | JOIN lab ln ON ln.vec_id = t.nid
        | WHERE lq.label <> ln.label)
        |SELECT qid AS query_id, nid AS neg_id, sim,
        | CAST(rn AS BIGINT) AS neg_rank
        |FROM neg WHERE rn <= 4""".stripMargin,


    // The q159 chain with per-rank integer micro-discounts, IDCG from
    // the same formula over 1..hits, integer division to bp.
    "q185_ndcg" ->
      s"""WITH ${cosineTopKCtes("", "TRUE")},
        |top5 AS (SELECT qid, nid, rk FROM w WHERE rk <= 5),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |g AS (SELECT t.qid, t.rk,
        |  CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END AS hit,
        |  CASE WHEN lq.label = ln.label
        |   THEN CAST(floor(1000000.0 * ln(2.0) / ln(CAST(t.rk AS DOUBLE) + 1.0) + 0.5) AS BIGINT)
        |   ELSE 0 END AS gm
        | FROM top5 t
        | JOIN lab lq ON lq.vec_id = t.qid
        | JOIN lab ln ON ln.vec_id = t.nid),
        |a AS (SELECT qid AS query_id, CAST(sum(hit) AS BIGINT) AS hits,
        |  CAST(sum(gm) AS BIGINT) AS dcg_micro FROM g GROUP BY 1),
        |i AS (SELECT query_id, hits, dcg_micro,
        |  CASE WHEN hits = 0 THEN 0
        |   ELSE CAST(list_sum(list_transform(range(1, hits + 1),
        |     x -> CAST(floor(1000000.0 * ln(2.0) / ln(CAST(x AS DOUBLE) + 1.0) + 0.5) AS BIGINT))) AS BIGINT)
        |  END AS idcg_micro FROM a)
        |SELECT query_id, hits, dcg_micro,
        | CAST(CASE WHEN hits = 0 THEN 0
        |  ELSE (dcg_micro * 10000) // idcg_micro END AS BIGINT) AS ndcg_bp
        |FROM i""".stripMargin,


    // Both Lloyd rounds replayed in integer arithmetic (quantize ->
    // argmin assign -> floorDiv means, twice), then the final argmin.
    "q169_kmeans" ->
      s"""WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
        | FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        | FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
        |${kmeansRoundSql(1, "c0", "c1")},
        |${kmeansRoundSql(2, "c1", "c2")},
        |fd AS (SELECT q.vec_id, c2.cid,
        |  CAST(list_sum(list_transform(list_zip(q.v, c2.c),
        |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        | FROM q CROSS JOIN c2),
        |f AS (SELECT vec_id, cid, d,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM fd)
        |SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id, d AS dist
        |FROM f WHERE rn = 1""".stripMargin,


    // q169's trained assignment + the q126 portable-hash cap, per
    // CLUSTER: the same two chains composed, re-derived end to end.
    "q177_diverse_sample" ->
      s"""WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
        | FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        | FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
        |${kmeansRoundSql(1, "c0", "c1")},
        |${kmeansRoundSql(2, "c1", "c2")},
        |fd AS (SELECT q.vec_id, c2.cid,
        |  CAST(list_sum(list_transform(list_zip(q.v, c2.c),
        |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
        | FROM q CROSS JOIN c2),
        |f AS (SELECT vec_id, cid, d,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM fd),
        |asn AS (SELECT vec_id, cid FROM f WHERE rn = 1),
        |h AS (SELECT vec_id, cid,
        |  ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hh FROM asn),
        |r AS (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY cid ORDER BY hh, vec_id) AS rn2 FROM h)
        |SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id,
        |  CAST(rn2 AS BIGINT) AS pick_rank
        |FROM r WHERE rn2 <= 8""".stripMargin,


    // Same quantize -> per-(doc, dim) sum -> truncating integer mean.
    "q170_mean_pool" ->
      """WITH c AS (SELECT vec_id % 100 AS doc_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
        | FROM embeddings),
        |u AS (SELECT doc_id, unnest(v) AS x, unnest(range(0, len(v))) AS dim FROM c)
        |SELECT doc_id, CAST(dim AS INTEGER) AS dim,
        | CAST(sum(x) AS BIGINT) // count(*) AS pooled
        |FROM u GROUP BY doc_id, dim""".stripMargin,


    // Direct (un-split) computation of the same sufficient statistics:
    // hash equality == the merge law holds.
    "q173_kmeans_increment" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(floor(x::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS v
        | FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        | FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)),
        |ad AS (SELECT q.vec_id, c0.cid,
        |  CAST(list_sum(list_transform(list_zip(q.v, c0.c),
        |    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dd
        | FROM q CROSS JOIN c0),
        |a AS (SELECT vec_id, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn FROM ad),
        |m AS (SELECT a.cid, unnest(q.v) AS x, unnest(range(0, len(q.v))) AS dim
        | FROM a JOIN q USING (vec_id) WHERE a.rn = 1)
        |SELECT CAST(cid AS INTEGER) AS centroid_id, CAST(dim AS INTEGER) AS dim,
        | CAST(sum(x) AS BIGINT) // count(*) AS c, CAST(count(*) AS BIGINT) AS n
        |FROM m GROUP BY cid, dim""".stripMargin,


    // Assignment is the ivf-chain argmin (d2 ties to lowest cid, the
    // engine's strict-< fold); dist_e4 quantizes through the correctly-
    // rounded IEEE sqrt, the cluster mean is one truncating div, and
    // the 1.5× gate is the same integer inequality.
    "q207_centroid_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, embedding AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(CAST(x AS REAL) + CAST(2.0 AS REAL) AS REAL)) AS v
        |  FROM embeddings WHERE vec_id % 13 = 0),
        |cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |ad AS (SELECT e.vec_id, c.cid,
        |  list_sum(list_transform(list_zip(e.v, c.cv),
        |    p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))) AS d2,
        |  row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_sum(list_transform(list_zip(e.v, c.cv),
        |     p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))), c.cid) AS rn
        | FROM e CROSS JOIN cent c),
        |a AS (SELECT vec_id, cid,
        |  CAST(floor(sqrt(d2) * 10000 + 0.5) AS BIGINT) AS dist_e4
        | FROM ad WHERE rn = 1),
        |mn AS (SELECT cid, CAST(sum(dist_e4) AS BIGINT) // count(*) AS mean_e4
        | FROM a GROUP BY cid)
        |SELECT a.vec_id, a.cid, a.dist_e4, mn.mean_e4,
        | a.dist_e4 * 2 > mn.mean_e4 * 3 AS is_outlier
        |FROM a JOIN mn USING (cid)""".stripMargin,


    // The same planted eval split scored by the q28 cosine chain at
    // k = 1; the flag is the same rounded-sim threshold.
    "q221_semantic_contam" ->
      """WITH ev AS (
        |  SELECT vec_id + 1000000000000 AS qid,
        |    list_transform(embedding, x -> CAST(CAST(x AS REAL) * CAST(1.001 AS REAL) AS REAL)) AS qv
        |  FROM embeddings WHERE vec_id < 8
        |  UNION ALL
        |  SELECT vec_id + 2000000000000, list_reverse(embedding)
        |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 108),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |sc AS (SELECT qid, nid,
        |  list_sum(list_transform(list_zip(qv, cv), p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS dp,
        |  sqrt(list_sum(list_transform(list_zip(qv, qv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS na,
        |  sqrt(list_sum(list_transform(list_zip(cv, cv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS nb
        | FROM c CROSS JOIN ev WHERE qid <> nid),
        |r AS (SELECT qid, nid,
        |  floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END) * 10000 + 0.5) / 10000 AS sim
        | FROM sc),
        |w AS (SELECT qid, nid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM r)
        |SELECT qid AS query_id, nid AS neighbor_id, sim,
        | CAST(rk AS BIGINT) AS rank, sim >= 0.995 AS contaminated
        |FROM w WHERE rk = 1""".stripMargin,
  )
}

package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** ANN operator tests against naive driver-side computation. */
class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vec(seed: Int): Seq[Float] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(dim)(rng.nextFloat() * 2 - 1)
  }
  private val n = 30
  private def corpus = (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
    val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
    val na = math.sqrt(ad.map(x => x * x).sum); val nb = math.sqrt(bd.map(x => x * x).sum)
    if (na * nb == 0) 0.0 else dot / (na * nb)
  }

  test("bruteForceTopK matches naive top-k with (sim desc, id asc) order") {
    val out = SimilarityOps.bruteForceTopK(corpus, corpus.where(col("vec_id") < 3), k = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim")))
      .sortBy(t => (t._1, t._2))
    val vecs = (0 until n).map(i => i.toLong -> vec(i)).toMap
    val expected = (0L until 3L).flatMap { q =>
      val scored = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, math.floor(cosine(vecs(q), vecs(c)) * 10000 + 0.5) / 10000))
        .sortBy { case (c, s) => (-s, c) }.take(4)
      scored.zipWithIndex.map { case ((c, s), i) => (q, (i + 1).toLong, c, s) }
    }
    assert(out.toSeq == expected)
  }

  test("ivfAssign: centroid vectors assign to themselves, plan is shuffle-free") {
    val assigned = SimilarityOps.ivfAssign(corpus, nlist = 4)
    val self = assigned.where(col("vec_id") < 4)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    (0L until 4L).foreach(i => assert(self(i) == i))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"ivfAssign plan should have no shuffle:\n$plan")
  }

  test("ivfTopK with nprobe = nlist degenerates to brute force") {
    val bf = SimilarityOps.bruteForceTopK(corpus, corpus.where(col("vec_id") < 2), k = 3)
      .collect().map(_.toString).sorted.toSeq
    val ivf = SimilarityOps.ivfTopK(corpus, corpus.where(col("vec_id") < 2), k = 3,
      nlist = 4, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(ivf == bf)
  }

  test("portable planes are in [-1,1) and the portable LSH finds planted dups") {
    val planes = SimilarityOps.portableHyperplanes(nbits = 16, dim = dim)
    assert(planes.length == 16 && planes.forall(_.length == dim))
    assert(planes.flatten.forall(w => w >= -1.0 && w < 1.0))
    // deterministic: re-derivation is identical
    assert(planes == SimilarityOps.portableHyperplanes(nbits = 16, dim = dim))
    val scaled = corpus.unionByName(corpus.select(
      (col("vec_id") + 100).as("vec_id"),
      transform(col("embedding"), x => (x * lit(1.001f)).cast("float")).as("embedding")))
    val pairs = SimilarityOps.embeddingNearDupsPortable(scaled, minCosine = 0.999, dim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until n.toLong).foreach(i => assert(pairs.contains((i, i + 100)), s"missing pair $i"))
    graft.GraftCache.releaseAll(spark)
  }

  test("TopK aggregator matches sort-take under merge across partitions") {
    import graft.functions.TopK
    val df = (0 until 1000).map(i => (i.toLong % 7, (i * 37 % 101) / 100.0, i.toLong))
      .toDF("query_id", "sim", "neighbor_id").repartition(8)
    val agg = df.groupBy("query_id")
      .agg(TopK.topK(5)(col("sim"), col("neighbor_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("r", "nb")))
      .select(col("query_id"), col("nb.sim"), col("nb.neighborId"))
      .as[(Long, Double, Long)].collect().groupBy(_._1)
    val naive = (0 until 1000).map(i => (i.toLong % 7, (i * 37 % 101) / 100.0, i.toLong))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._2, t._3)).take(5)).toMap
    naive.foreach { case (q, exp) =>
      assert(agg(q).sortBy(t => (-t._2, t._3)).toSeq == exp.toSeq)
    }
  }

  test("pqTopK is EXACT when every subvector comes from the codebook") {
    // dim=8, m=2, k=4: codebook subspace 0 = first halves of vecs 0..3,
    // subspace 1 = second halves of vecs 4..7. A corpus built only from
    // those halves has zero quantization error, so the ADC ranking must
    // equal the exact int8 dot-product ranking.
    val rnd = new scala.util.Random(11)
    // every vector is a_i ++ b_j: vecs 0..3 put a_0..a_3 in subspace 0
    // (the s=0 codebook), vecs 4..7 put b_0..b_3 in subspace 1 (the
    // s=1 codebook), so ALL 24 vectors quantize with zero error
    val a = Array.fill(4, 4)(rnd.nextFloat() * 2f - 1f)
    val b = Array.fill(4, 4)(rnd.nextFloat() * 2f - 1f)
    val baseV = (0 until 4).map(c => a(c) ++ b((c + 1) % 4)) ++
      (0 until 4).map(c => a((c + 2) % 4) ++ b(c))
    val mixed = for (i <- 0 until 4; j <- 0 until 4) yield a(i) ++ b(j)
    val all = (baseV ++ mixed).toIndexedSeq
    val emb = all.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.pqTopK(emb, numQueries = 2, dim = 8, m = 2,
        k = 4, topK = 5)
      .select("query_id", "neighbor_id", "adp", "rank")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap

    // replicate the affine int8 quantization exactly
    val allVals = all.flatten
    val (mn, mx) = (allVals.min.toDouble, allVals.max.toDouble)
    val sc = if (mx == mn) 0.0 else 254.0 / (mx - mn)
    def q8(x: Float): Long = math.floor((x.toDouble - mn) * sc + 0.5).toLong - 127
    val ints = all.map(_.map(q8))
    val expected = (0 until 2).map { qi =>
      val scored = all.indices.filter(_ != qi).map { ni =>
        (ni.toLong, ints(qi).zip(ints(ni)).map { case (a, b) => a * b }.sum)
      }
      qi.toLong -> scored.sortBy { case (id, dp) => (-dp, id) }.take(5).map(_._1)
    }.toMap
    assert(out == expected)
  }

  test("jlProject matches the hand-computed ±1 fold over the int8 affine") {
    val vecs = Seq(
      (1L, Seq(0f, 1f, -1f, 0.5f)), (2L, Seq(1f, 1f, 1f, 1f)),
      (3L, Seq(0f, 1f, -1f, 0.5f))) // duplicate of 1
    val out = SimilarityOps.jlProject(vecs.toDF("vec_id", "embedding"),
        m = 2, dim = 4)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // replicate affine + signs exactly
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs = (0 until 2).map(j => (0 until 4).map(i =>
      if (graft.functions.HashFunctions.portableHash60JVM(md, s"jl_${j}_$i") % 2 == 0) 1L else -1L))
    val all = vecs.flatMap(_._2)
    val (mn, mx) = (all.min.toDouble, all.max.toDouble)
    val sc = 254.0 / (mx - mn)
    def q8(x: Float) = math.floor((x.toDouble - mn) * sc + 0.5).toLong - 127L
    val expected = vecs.map { case (id, v) =>
      id -> ((v.zip(signs(0)).map { case (x, s) => q8(x) * s }.sum,
        v.zip(signs(1)).map { case (x, s) => q8(x) * s }.sum))
    }.toMap
    assert(out == expected)
    assert(out(1L) == out(3L), "identical vectors must project identically")
  }

  test("ivfPqTopK: neighbors come only from probed lists, ADC agrees with pqTopK") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ivfpq = SimilarityOps.ivfPqTopK(emb)
      .select("query_id", "neighbor_id", "adp")
      .as[(Long, Long, Long)].collect()
    assert(ivfpq.nonEmpty)
    // every (q, n, adp) must appear in the UNPRUNED PQ scoring with the
    // same integer ADC value (pruning may only remove candidates)
    val full = SimilarityOps.pqTopK(emb, topK = 2000)
      .select("query_id", "neighbor_id", "adp")
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    ivfpq.foreach { case (q, n, adp) =>
      assert(full.contains((q, n)), s"($q, $n) not in the unpruned scoring")
      assert(full((q, n)) == adp, s"ADC mismatch for ($q, $n)")
    }
    // 8 queries x top-5 each (enough corpus in every probed list)
    assert(ivfpq.length == 40)
  }

  test("meanPoolEmbeddings: hand-computed mean, single-chunk identity, truncation") {
    val chunks = Seq(
      (1L, Seq(1.0f, -1.0f)), (1L, Seq(2.0f, -2.0f)), (1L, Seq(4.0f, -4.0f)),
      (2L, Seq(0.5f, 0.25f))).toDF("doc_id", "embedding")
    val got = SimilarityOps.meanPoolEmbeddings(chunks, "doc_id")
      .select("doc_id", "dim", "pooled").as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // doc 1: (1+2+4)e6/3 = 2333333 (truncated); dim 1: (-7e6)/3 = -2333333
    // (truncating division: toward zero, matching DuckDB //)
    assert(got((1L, 0)) == 2333333L && got((1L, 1)) == -2333333L)
    // single chunk: pooled == quantized input
    assert(got((2L, 0)) == 500000L && got((2L, 1)) == 250000L)
  }

  test("trainCentroids fixes the adversarial seed layout and drives the materialized index") {
    // both lowest-id seeds land in blob A (ids 0..9 around +1; blob B =
    // ids 10..19 around -1): the seed fallback can NEVER separate the
    // blobs; trained centroids must migrate and split them purely
    val dim = 8
    def v(center: Float, seed: Int): Seq[Float] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(dim)(center + (rng.nextFloat() - 0.5f) * 0.1f)
    }
    val rows = (0L until 20L).map(i =>
      (i, v(if (i < 10) 1.0f else -1.0f, i.toInt)))
    val emb = rows.toDF("vec_id", "embedding")
    // seed fallback: both centroids in blob A -> every blob-B vector
    // lumps onto one of them (clusters impure by construction)
    val seedAssign = SimilarityOps.kmeansFitAssign(emb, k = 2, iters = 0)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert((10L until 20L).map(seedAssign).toSet.size == 1,
      "adversarial layout broken: blob B should lump under one seed")
    // trained: clusters become exactly the blobs
    val trained = SimilarityOps.trainCentroids(emb, k = 2, iters = 5)
    assert(trained.length == 2)
    val trainedAssign = SimilarityOps.kmeansFitAssign(emb, k = 2, iters = 5)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert((0L until 10L).map(trainedAssign).toSet.size == 1)
    assert((10L until 20L).map(trainedAssign).toSet.size == 1)
    assert(trainedAssign(0L) != trainedAssign(19L))
    // trained centroids drive the partitioned index end to end: a blob-B
    // query's neighbors all come from blob B
    val dir = graft.queries.Fixtures.scratchIndexDir("graft-ivf-trained")
    SimilarityOps.writeIvfIndexWith(emb, dir, trained)
    val got = SimilarityOps.ivfTopKIndexed(spark, dir, trained,
        emb.where(col("vec_id") === 15L), k = 3, nprobe = 1)
      .select("neighbor_id").as[Long].collect()
    assert(got.length == 3 && got.forall(_ >= 10L), s"got ${got.toSeq}")
    graft.GraftCache.releaseAll(spark)
  }

  test("assignQuantized == kmeansFitAssign on the training frame; assigns foreign rows") {
    val dim = 8
    def v(center: Float, seed: Int): Seq[Float] = {
      val rng = new scala.util.Random(seed + 7)
      Seq.fill(dim)(center + (rng.nextFloat() - 0.5f) * 0.2f)
    }
    val rows = (0L until 24L).map(i =>
      (i, v(if (i % 2 == 0) 1.0f else -1.0f, i.toInt)))
    val emb = rows.toDF("vec_id", "embedding")
    // decoupled assignment against the trained centroids must equal the
    // fused train+assign path, row for row and DISTANCE for distance
    // (both integer-quantized, so exact equality is required)
    val fused = SimilarityOps.kmeansFitAssign(emb, k = 3, iters = 2)
      .select(col("vec_id"), col("centroid_id").cast("long"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    val decoupled = SimilarityOps
      .assignQuantized(emb, SimilarityOps.trainCentroids(emb, k = 3, iters = 2))
      .as[(Long, Long, Long)].collect().toSet
    assert(decoupled == fused, s"decoupled=$decoupled fused=$fused")
    // rows the training never saw assign to the geometrically right list
    val foreign = Seq((100L, v(1.0f, 999)), (101L, v(-1.0f, 998)))
      .toDF("vec_id", "embedding")
    val cents = SimilarityOps.trainCentroids(emb, k = 2, iters = 3)
    val fa = SimilarityOps.assignQuantized(foreign, cents)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val ref = SimilarityOps.assignQuantized(emb, cents)
      .as[(Long, Long, Long)].collect()
    val plusList = ref.filter(_._1 % 2 == 0).map(_._2).head
    val minusList = ref.filter(_._1 % 2 == 1).map(_._2).head
    assert(fa(100L) == plusList && fa(101L) == minusList, s"$fa")
    graft.GraftCache.releaseAll(spark)
  }

  test("kmeansCentroidState: merge law, assignment consistency with fitAssign(iters=0)") {
    val rnd = new scala.util.Random(23)
    val emb = (0L until 40L).map(i => (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("vec_id")
    val seeds = emb.orderBy("vec_id").limit(3)
      .withColumn("centroid_id", (row_number().over(w) - 1).cast("int"))
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("centroid_id"), col("dim").cast("int").as("dim"),
        floor(col("x").cast("double") * 1000000L + 0.5).cast("long").as("c"))
    def stat(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.kmeansCentroidState(df, seeds)
    // state(A) ⊕ state(B) == state(A ∪ B), element for element
    val split = SimilarityOps.kmeansMergeStates(
        stat(emb.where(col("vec_id") % 2 === 0)),
        stat(emb.where(col("vec_id") % 2 === 1)))
      .as[(Int, Int, Long, Long)].collect().sorted.toSeq
    val whole = stat(emb).as[(Int, Int, Long, Long)].collect().sorted.toSeq
    assert(split == whole)
    // per-cluster member counts == the iters=0 assignment's cluster sizes
    val sizes = whole.filter(_._2 == 0).map(t => t._1 -> t._4).toMap
    val direct = SimilarityOps.kmeansFitAssign(emb, k = 3, iters = 0)
      .groupBy("centroid_id").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes == direct, s"state sizes $sizes vs fitAssign $direct")
    graft.GraftCache.releaseAll(spark)
  }

  test("kmeansFitAssign separates two planted blobs and is partitioning-invariant") {
    // two tight blobs around (+1, ..., +1) and (-1, ..., -1): after any
    // number of Lloyd rounds the assignment must split them exactly
    val dim = 8
    def v(center: Float, seed: Int): Seq[Float] = {
      val rng = new scala.util.Random(seed)
      Seq.fill(dim)(center + (rng.nextFloat() - 0.5f) * 0.1f)
    }
    val rows = (0L until 20L).map(i =>
      (i, v(if (i % 2 == 0) 1.0f else -1.0f, i.toInt)))
    val emb = rows.toDF("vec_id", "embedding")
    val got = SimilarityOps.kmeansFitAssign(emb, k = 2, iters = 3)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    // seed centroids are vec_id 0 (blob +1 -> cluster 0) and 1 (blob -1 -> cluster 1)
    rows.foreach { case (id, _) =>
      assert(got(id) == (id % 2).toInt, s"vec $id in cluster ${got(id)}")
    }
    // repartitioning must not change a single assignment (integer sums
    // are order-independent; floorDiv is deterministic)
    val got13 = SimilarityOps.kmeansFitAssign(emb.repartition(13), k = 2, iters = 3)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert(got13 == got)
    graft.GraftCache.releaseAll(spark)
  }

  test("kmeansFitAssign: empty cluster keeps its seed centroid; iters=0 assigns to seeds") {
    // three identical points: seeds are two identical centroids; every
    // point ties to centroid 0 (lowest index), cluster 1 goes empty and
    // must keep its centroid without crashing or drifting
    val emb = Seq.tabulate(3)(i => (i.toLong, Seq.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.kmeansFitAssign(emb, k = 2, iters = 2)
      .select("vec_id", "centroid_id", "dist").as[(Long, Int, Long)].collect()
    assert(out.forall(r => r._2 == 0 && r._3 == 0L))
    // iters=0: pure assignment against the lowest-id seeds
    val emb2 = Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 1f)), (2L, Seq(0.9f, 0.9f)))
      .toDF("vec_id", "embedding")
    val a0 = SimilarityOps.kmeansFitAssign(emb2, k = 2, iters = 0)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert(a0 == Map(0L -> 0, 1L -> 1, 2L -> 1))
    graft.GraftCache.releaseAll(spark)
  }

  test("binaryCodes packs element j into bit j of its 32-bit lane") {
    // bit 0 and bit 5 set in lane 0; bit 0 (element 33) and bit 31
    // (element 64) set in lane 1 — everything else non-positive,
    // including an exact 0.0 (sign bit demands strictly > 0)
    val v = Array.fill(64)(-1f)
    v(0) = 2f; v(5) = 0.1f; v(32) = 3f; v(63) = 0.5f; v(1) = 0f
    val out = SimilarityOps.binaryCodes(Seq((1L, v.toSeq)).toDF("vec_id", "embedding"))
      .as[(Long, Long, Long)].collect().head
    assert(out == ((1L, (1L << 0) | (1L << 5), (1L << 0) | (1L << 31))))
  }

  test("mutualTopK: reciprocal pairs survive, hub matches without reciprocity are cut") {
    def v(xs: (Int, Float)*): Seq[Float] = {
      val arr = Array.fill(64)(0f); xs.foreach { case (i, x) => arr(i) = x }
      arr.toSeq
    }
    val batch = Seq((0L, v(0 -> 1f)), (1L, v(1 -> 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, v(0 -> 1f)),                          // a0's exact twin
      (101L, v(1 -> 1f)),                          // a1's exact twin
      (102L, v(0 -> 0.7071f, 1 -> 0.7071f))        // hub: near BOTH a's
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.mutualTopK(corpus, batch, kAb = 2, kBa = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    // twins are reciprocal at rank 1/1
    assert(out.contains((0L, 100L)) && out.contains((1L, 101L)))
    // the hub sits in BOTH a's top-2, but its own single best batch
    // match is a0 (symmetric sims tie-break to the smaller id), so the
    // (a1, hub) pair fails reciprocity and must be cut
    assert(out.contains((0L, 102L)) && !out.contains((1L, 102L)))
    // the exact twin outranks the hub pairing on margin
    assert(out((0L, 100L)) > out((0L, 102L)))
  }

  test("binaryTopK: sign-preserving twins land at hamming 0, rank 1; k bounds hold") {
    val base = (0L until 30L).map { i =>
      (i, (0 until 64).map(j =>
        if (graft.functions.HashFunctions.portableHash60JVM(
          java.security.MessageDigest.getInstance("MD5"), s"v${i}_$j") % 2 == 0) 1f else -1f))
    }
    // twins: positive scaling never flips a sign
    val all = base ++ base.map { case (i, v) => (i + 1000L, v.map(_ * 0.5f)) }
    val codes = SimilarityOps.binaryCodes(all.toDF("vec_id", "embedding"))
    val out = SimilarityOps.binaryTopK(codes, codes.where(col("vec_id") < 5), k = 3)
      .as[(Long, Long, Int, Long)].collect()
    assert(out.length == 15, "5 queries x k=3")
    (0L until 5L).foreach { q =>
      val top = out.filter(_._1 == q).minBy(_._4)
      assert(top._2 == q + 1000L && top._3 == 0,
        s"query $q must rank its sign-identical twin first at hamming 0, got $top")
    }
  }

  test("centroidOutliers: far-from-manifold vectors flag; cluster cores do not") {
    // centroids = two lowest ids: (0,0) and (10,10); cluster 0 carries a
    // planted far point (3,4) at dist 5 vs member dist 1
    val emb = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)),
      (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)), (5L, Seq(3.0, 4.0)),
      (4L, Seq(10.0, 11.0)), (6L, Seq(10.0, 9.0)), (7L, Seq(11.0, 10.0))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.centroidOutliers(emb, nlist = 2)
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // cluster 0: dists {0, 1, 1, 5} -> mean_e4 = 70000 div 4 = 17500
    assert(out(5L) == ((5L, 0L, 50000L, 17500L, true)), s"planted outlier: ${out(5L)}")
    assert(out(2L) == ((2L, 0L, 10000L, 17500L, false)), s"core member: ${out(2L)}")
    assert(out(0L)._5 == false && out(0L)._3 == 0L, "a centroid is its own cluster core")
    // cluster 1: dists {0, 1, 1, 1} -> mean_e4 = 7500; 1.0 is within 1.5x
    assert(Seq(4L, 6L, 7L).forall(i => out(i)._2 == 1L && !out(i)._5),
      s"cluster-1 members: $out")
  }
}

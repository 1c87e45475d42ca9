package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication: exact, MinHash/SimHash LSH, fingerprints, connected components, semantic dedup, contamination, PPJoin, entity resolution.
  *
  * Contract queries: q12_fingerprints, q13_exact_dedup, q24_pairwise_jaccard, q25_minhash_neardups, q26_simhash_neardups, q50_fingerprint_overlap, q63_components, q81_neardup_clusters, q82_semantic_dedup, q84_url_canon, q86_minhash_probe, q111_canonical, q123_ngram_contam, q131_prefix_join, q135_minhash_eval, q136_entity_resolution, q138_event_dedup, q155_source_overlap, q165_lsh_recall, q175_span_dedup, q180_novelty, q181_cdc_chunks, q182_novelty_increment, q196_band_sweep, q202_dedup_report, q212_containment, q231_blocking_eval, q237_cc_increment.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X13-adjacent: md5 content fingerprint (oracle-checkable half).
    "q12_fingerprints" -> ((s, d) =>
      Tables.documents(s, d).select(did, T.fingerprint(col("text")).as("fingerprint"))),


    // Exact dedup by content hash.
    "q13_exact_dedup" -> ((s, d) =>
      DedupOps.exactDedup(Tables.documents(s, d), "doc_id", "text")),


    // n-gram Jaccard on explicit pairs.
    "q24_pairwise_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = docs.where(pmod(did, lit(5)) === 0)
        .select(did.as("id_a"), (did + 1).as("id_b"))
      DedupOps.pairwiseJaccard(docs, "doc_id", "text", pairs)
    }),


    // MinHash-LSH near-dups, portable md5 hashing end-to-end: candidate
    // pairs AND Jaccard scores are hash-checked against a full DuckDB
    // re-derivation (shingles → signatures → bands → verify).
    "q25_minhash_neardups" -> ((s, d) =>
      DedupOps.minhashNearDupsPortable(dupCorpus(Tables.documents(s, d)), "id", "text",
        threshold = 0.7)),


    // SimHash near-dups, portable 60-bit md5 sketches — oracle-checked.
    "q26_simhash_neardups" -> ((s, d) =>
      DedupOps.simhashNearDupsPortable(dupCorpus(Tables.documents(s, d)), "id", "text")),


    // Winnowing rolling-hash fingerprint overlap — hash-checked: the
    // oracle expands the k=8 rolling hash to its closed-form 8-term
    // polynomial per position (congruent mod 2^64 to the kernel's
    // wrapping arithmetic) and replays the rightmost-min winnow with
    // window functions.
    "q50_fingerprint_overlap" -> ((s, d) =>
      DedupOps.fingerprintOverlap(dupCorpus(Tables.documents(s, d)), "id", "text",
        minContainment = 0.9)),


    // Dedup cluster resolution: connected components (alternating
    // large-star/small-star, O(log n) rounds) over the exact-dup edge
    // graph. The oracle derives the same components directly from
    // fingerprint groups — valid because on this graph a component IS a
    // fingerprint group.
    "q63_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val did = col("doc_id").cast("long")
      // NOTE (round 17): a KernelSpread here probed -0.2 s in isolation
      // but measured +22% in the full bench context — reverted (the
      // fingerprint map side is too cheap for the added exchange).
      val corpus = docs.select(did.as("id"), col("text"))
        .unionByName(docs.select((did + 1000000000000L).as("id"), col("text")))
      val fp = corpus.select(col("id"), T.fingerprint(col("text")).as("fp"))
      val edges = fp.select(col("fp"), col("id").as("id_a"))
        .join(fp.select(col("fp"), col("id").as("id_b")), "fp")
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      DedupOps.connectedComponents(edges, maxIter = 10)
    }),


    // INCREMENTAL component merge law (the q234 pattern applied to
    // GRAPH state): the exact-dup edge graph over a TRIPLED corpus
    // (ids, +1e6, +2e6 — every text a 3-clique at minimum) arrives as
    // two batches chosen so every component STRADDLES them (batch A =
    // edges landing below +2e6, batch B = edges reaching the +2e6
    // copies); each batch resolves to CC state independently and the
    // states fold via ccMergeStates — CC over star edges, raw batch
    // edges never re-read. The oracle computes the UN-SPLIT q63-style
    // answer directly, so the hash match certifies
    // state(A) ⊕ state(B) == state(A ∪ B) for the clustering family.
    "q237_cc_increment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val idL = col("doc_id").cast("long")
      // NOTE (round 17): a KernelSpread here probed -0.35 s in isolation
      // but was neutral-to-negative in the full bench context — reverted
      // (see q63; the concurrent-batch Future overlap below is the
      // change that stays).
      val corpus = docs.select(idL.as("id"), col("text"))
        .unionByName(docs.select((idL + 1000000000000L).as("id"), col("text")))
        .unionByName(docs.select((idL + 2000000000000L).as("id"), col("text")))
      val fp = corpus.select(col("id"), T.fingerprint(col("text")).as("fp"))
      val edges = fp.select(col("fp"), col("id").as("id_a"))
        .join(fp.select(col("fp"), col("id").as("id_b")), "fp")
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val batchA = edges.where(col("id_b") < 2000000000000L)
      val batchB = edges.where(col("id_b") >= 2000000000000L)
      // The two batch-state resolutions are INDEPENDENT fixpoint loops
      // whose per-round actions otherwise serialize on the driver —
      // overlap them from two driver threads (guide §2.6: Spark's
      // scheduler runs concurrent jobs fine; CC output is deterministic
      // regardless of scheduling; GraftCache registration is
      // CHM-backed). Measured: the loops' scheduling floors overlap
      // almost fully. JobOverlap spawns FRESH threads from this driver
      // thread so job-local properties are inherited correctly (the
      // round-17 advice flagged the shared global pool's stale
      // InheritableThreadLocal properties).
      val (sa, sb) = graft.operators.JobOverlap.both(
        () => DedupOps.connectedComponents(batchA),
        () => DedupOps.connectedComponents(batchB))
      DedupOps.ccMergeStates(sa, sb)
    }),


    // End-to-end near-dup cluster resolution: portable MinHash pairs ->
    // large-star/small-star components. Unlike q63 (whose oracle derives
    // components from fingerprint groups), this oracle resolves the SAME
    // pair graph with a recursive label closure — an independent
    // cross-engine check of the components operator itself. Runs on a
    // quarter slice (q25 already benches the full LSH; this prices the
    // resolution step) with a collision-free +10^12 dup-id offset.
    "q81_neardup_clusters" -> ((s, d) => {
      val base = Tables.documents(s, d).where(pmod(did, lit(4)) === 0)
      val corpus = base.select(did.as("id"), col("text"))
        .unionByName(base.select((did + 1000000000000L).as("id"),
          concat(col("text"), lit(" zzdup tail")).as("text")))
      val pairs = DedupOps.minhashNearDupsPortable(corpus, "id", "text",
        threshold = 0.7).select("id_a", "id_b")
      DedupOps.connectedComponents(pairs)
    }),


    // Semantic dedup (SemDeDup shape): q27's embedding near-dup pair
    // graph -> connected components -> keep the min-id representative
    // per cluster; every vector gets a (cluster, keep) verdict,
    // singletons keep themselves. The oracle resolves the same pair
    // graph with a recursive label closure and left-joins it back to
    // the corpus.
    "q82_semantic_dedup" -> ((s, d) =>
      DedupOps.semanticDedup(dupEmbeddings(Tables.embeddings(s, d)),
        minCosine = 0.99)),


    // Crawl-side URL canonicalization: four messy variants per doc
    // (uppercase scheme/host + default port + tracking params + fragment;
    // default https port + tracking; non-default port + trailing slash;
    // scheme-less pass-through) normalize to stable dedup keys.
    "q84_url_canon" -> ((s, d) => {
      val messy = when(pmod(did, lit(4)) === 0,
          concat(lit("HTTP://WWW.Ex.TEST:80/p"), sid, lit("/?utm_source=x&b=2&a=1#sec")))
        .when(pmod(did, lit(4)) === 1,
          concat(lit("https://Ex.Test:443/q"), sid, lit("?fbclid=abc&id="), sid))
        .when(pmod(did, lit(4)) === 2,
          concat(lit("https://cdn.ex.test:8443/r/"), sid, lit("/")))
        .otherwise(concat(lit("files/data"), sid))
      val canon = T.canonicalizeUrl(messy)
      Tables.documents(s, d).select(did.as("doc_id"), messy.as("url"),
        canon.as("canon_url"), T.urlHost(canon).as("host"))
    }),


    // Incremental ingest near-dup probe: a new batch (every 10th doc with
    // a dup tail, plus genuinely novel docs) probed against the full
    // corpus WITHOUT a corpus self-join. Each dup-arm doc must hit its
    // origin; novel docs match nothing.
    "q86_minhash_probe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tenth = docs.where(pmod(did, lit(10)) === 0)
      val batch = tenth.select((did + 1000000000000L).as("id"),
          concat(col("text"), lit(" zzdup tail")).as("text"))
        .unionByName(tenth.select((did + 2000000000000L).as("id"),
          concat(lit("totally novel content block number "), sid,
            lit(" unseen tokens qqq www eee")).as("text")))
      DedupOps.minhashProbe(docs.select(did.as("id"), col("text")), batch,
        "id", "text", threshold = 0.7)
    }),


    // Canonical-document selection — the survivor policy that completes
    // dedup: per exact-dup group (md5 of normalized text; every doc has
    // a planted +10^12 twin), keep the highest-quality member, ties
    // broken by lowest id. max_by over a (quality, -id) total order —
    // partial-aggregating, no per-group window sort on the corpus.
    "q111_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val c = docs.select(did.as("doc_id"), col("text"))
        .unionByName(docs.select((did + 1000000000000L).as("doc_id"), col("text")))
      val quality = TextAnalysisOps.qualityScore(c, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      val ranked = c.select(col("doc_id"),
          T.fingerprint(col("text")).as("fp"))
        .join(quality, "doc_id")
      val surv = ranked.groupBy("fp").agg(
        max_by(col("doc_id"),
          struct(col("quality"), (-col("doc_id")).as("negid"))).as("canonical_id"),
        count(lit(1)).as("group_n"))
      ranked.join(surv, "fp")
        .select(col("doc_id"), col("canonical_id"), col("group_n"),
          (col("doc_id") === col("canonical_id")).as("keep"))
    }),


    // Corpus-frequent n-gram exposure (repeated-span contamination, Lee
    // et al. ACL 2022): every doc_id%4==0 doc gets a planted boilerplate
    // footer, so its 5-grams are corpus-frequent (df ~ N/4) while
    // organic 5-grams stay rare — the per-doc frequent fraction
    // separates them. Shingles shuffle once; the frequent set is
    // bounded by actual boilerplate volume.
    "q123_ngram_contam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(did.as("doc_id"),
        when(pmod(did, lit(4)) === 0,
          concat(col("text"),
            lit(" subscribe to our newsletter for daily updates today")))
          .otherwise(col("text")).as("text"))
      DedupOps.frequentShingleStats(corpus, "doc_id", "text",
        shingleN = 5, minDf = 5)
    }),


    // EXACT similarity join via prefix filtering (PPJoin): candidates
    // must share one of each doc's rarest (n - ceil(t*n) + 1) shingles
    // — no LSH false negatives. The oracle knows nothing about prefixes
    // (it joins ALL shared shingles), so a wrong prefix bound that
    // drops a true pair cannot self-confirm.
    "q131_prefix_join" -> ((s, d) =>
      DedupOps.prefixFilterJoin(dupCorpus(Tables.documents(s, d)),
        "id", "text", minJaccard = 0.7)),


    // MinHash estimator-quality evaluation on the planted pairs: the
    // fraction of matching signature positions (the LSH estimate)
    // audited against exact Jaccard, all in integer basis points — the
    // eval that justifies a numPerms/bands choice before trusting LSH
    // at corpus scale (the q113-for-dedup).
    "q135_minhash_eval" -> ((s, d) => {
      val base = Tables.documents(s, d).where(pmod(did, lit(5)) === 0)
      val corpus = base.select(did.as("id"), col("text"))
        .unionByName(base.select((did + 1000000000000L).as("id"),
          concat(col("text"), lit(" zzdup tail")).as("text")))
      val hs = DedupOps.hashedShingleRowsPortable(corpus, "id", "text", 3)
      val sig = DedupOps.minhashSignatureRows(hs, 64)
      val matches = sig.where(col("id") < 1000000000000L)
        .select(col("id").as("id_a"), col("i"), col("s").as("s_a"))
        .join(sig.where(col("id") >= 1000000000000L)
          .select((col("id") - 1000000000000L).as("id_a"), col("i"), col("s").as("s_b")),
          Seq("id_a", "i"))
        .groupBy("id_a")
        .agg(sum(when(col("s_a") === col("s_b"), 1L).otherwise(0L)).as("n_match"))
      val exact = hs.where(col("id") < 1000000000000L)
        .select(col("id").as("id_a"), col("hs").as("hs_a"))
        .join(hs.where(col("id") >= 1000000000000L)
          .select((col("id") - 1000000000000L).as("id_a"), col("hs").as("hs_b")), "id_a")
        .select(col("id_a"),
          size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("m"),
          size(col("hs_a")).cast("long").as("na"),
          size(col("hs_b")).cast("long").as("nb"))
      matches.join(exact, "id_a")
        .select(col("id_a"), (col("id_a") + 1000000000000L).as("id_b"), col("n_match"),
          expr("(n_match * 10000) div 64").as("est_bp"),
          expr("(m * 10000) div (na + nb - m)").as("exact_bp"),
          abs(expr("(n_match * 10000) div 64") -
            expr("(m * 10000) div (na + nb - m)")).as("err_bp"))
    }),


    // End-to-end entity resolution: blocked fuzzy pairs (q91 machinery)
    // resolved to entity clusters by connected components (q63), each
    // record labeled with its min-id canonical entity — the full record-
    // linkage shape (block -> score -> cluster) in three composed
    // operators. Singletons label themselves via the left join.
    "q136_entity_resolution" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val all = sup.select(col("s_suppkey").as("id"), col("s_name").as("name"))
        .unionByName(sup.select((col("s_suppkey") + 1000000000000L).as("id"),
          concat(substring(col("s_name"), 1, 9), lit("X"),
            substring(col("s_name"), 11, 100)).as("name")))
      val pairs = JoinOps.fuzzyJoin(all, all, "id", "name", "id", "name",
          maxDist = 1, blockLen = 3)
        .where(col("left_id") < col("right_id"))
        .select(col("left_id").as("id_a"), col("right_id").as("id_b"))
      val comps = DedupOps.connectedComponents(pairs)
      all.select(col("id")).join(comps, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("component"), col("id")).as("entity"),
          (coalesce(col("component"), col("id")) === col("id")).as("canonical"))
    }),


    // Telemetry dedup: keep the EARLIEST event per (user, type) within
    // each 1-minute tumbling window — the batch twin of streaming
    // ingest dedup for repeated beacons. One shuffle; per-window state
    // bounded by the window.
    "q138_event_dedup" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"),
          date_trunc("minute", col("ts")))
        .orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"))
    }),


    // Source-level overlap matrix: exact Jaccard between each source
    // pair's 3-gram shingle SETS — the cross-dump redundancy check
    // (CommonCrawl snapshots overlap heavily; this decides which dumps
    // to keep) at source granularity: pairs are |sources|^2-bounded,
    // never doc^2. Integer basis points.
    "q155_source_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs0 = DedupOps.wordShingleRows(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", 3)
      val srcSh = pairs0.join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .select(col("source"), explode(col("sh")).as("s"))
        .select(col("source"),
          graft.functions.HashFunctions.portableHash60(col("s")).as("h"))
        .distinct()
      val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = srcSh.select(col("source").as("src_a"), col("h"))
        .join(srcSh.select(col("source").as("src_b"), col("h")), Seq("h"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("m"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("na")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n").as("nb")), "src_b")
        .select(col("src_a"), col("src_b"), col("m"), col("na"), col("nb"),
          expr("(m * 10000) div (na + nb - m)").as("jaccard_bp"))
    }),


    // LSH quality eval on the planted corpus: recall and precision of
    // the q25 MinHash-LSH pairs against the EXACT prefix-filter join
    // (q131) at the same threshold — the eval that justifies the
    // banding choice (16 bands x 4 rows at t=0.7).
    "q165_lsh_recall" -> ((s, d) => {
      import org.apache.spark.storage.StorageLevel
      val corpus = dupCorpus(Tables.documents(s, d))
      // ONE materialized shingle pass feeds both the exact join and
      // the full LSH pipeline. Round-18: fill the cache with ONE job
      // up front — the final action's subtrees reference hs five times
      // (prefix pairs + two exact join sides, LSH bands + two verify
      // join sides) and raced to materialize it, each recomputing
      // duplicate partitions of the shingle kernel.
      val hs = graft.GraftCache.register(
        DedupOps.hashedShingleRowsPortable(corpus, "id", "text", 3)
          .persist(StorageLevel.MEMORY_AND_DISK))
      hs.count()
      // both pair sets feed two consumers (their count + the overlap
      // count) — persist so neither pipeline runs twice
      val exact = graft.GraftCache.register(
        DedupOps.prefixFilterJoinFromHashes(hs, minJaccard = 0.7)
          .select("id_a", "id_b").persist(StorageLevel.MEMORY_AND_DISK))
      val cands = DedupOps.minhashCandidatesFromHashesPortable(hs)
      val lsh = graft.GraftCache.register(cands
        .join(hs.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
        .join(hs.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
        .where(graft.functions.HashFunctions.jaccard(col("sh_a"), col("sh_b")) >= 0.7)
        .select("id_a", "id_b").persist(StorageLevel.MEMORY_AND_DISK))
      // The exact PPJoin and the LSH pipeline are INDEPENDENT over the
      // cached shingles — materialize the two pair sets from two driver
      // threads (guide §2.6, the q237 pattern) so their shuffles and
      // verify joins overlap; the recall/precision action then reads
      // two warm caches. Same pair sets, same counts.
      graft.operators.JobOverlap.both(() => exact.count(), () => lsh.count())
      val nE = exact.agg(count(lit(1)).as("n_exact"))
      val nL = lsh.agg(count(lit(1)).as("n_lsh"))
      val nC = exact.join(lsh, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_common"))
      nE.crossJoin(nL).crossJoin(nC)
        .select(col("n_exact"), col("n_lsh"), col("n_common"),
          expr("(n_common * 10000) div n_exact").as("recall_bp"),
          expr("(n_common * 10000) div n_lsh").as("precision_bp"))
    }),


    // Exact duplicated-span dedup (Lee et al. 2021 on w=8 token
    // windows): a 12-token boilerplate sentence PLANTED on every 7th
    // doc makes the positive set deterministic and non-vacuous — every
    // window inside it repeats corpus-wide, so the canonical occurrence
    // (doc 0) keeps its text and every other planted doc loses exactly
    // the boilerplate tokens. The REWRITTEN text itself is
    // hash-checked, not just the removal counts.
    "q175_span_dedup" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("id"),
        when(pmod(did, lit(7)) === 0,
          concat(col("text"), lit(" " + spanBoiler))).otherwise(col("text")).as("text"))
      DedupOps.duplicatedSpanDedup(corpus, "id", "text", 8)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
          col("clean_text"))
    }),


    // Per-doc novelty (data valuation before training on a crawl
    // batch): q175's fixture again — doc 0 INTRODUCES the boilerplate
    // (canonical, stays novel); every later planted doc scores lower by
    // exactly its boilerplate windows. id order = arrival order.
    "q180_novelty" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("id"),
        when(pmod(did, lit(7)) === 0,
          concat(col("text"), lit(" " + spanBoiler))).otherwise(col("text")).as("text"))
      DedupOps.noveltyScore(corpus, "id", "text", 8)
        .select(col("id").as("doc_id"), col("n_windows"), col("n_novel"),
          col("novelty_bp"))
    }),


    // INCREMENTAL novelty: the corpus arrives as two batches (even/odd
    // ids); each contributes a mergeable (hash -> count, min-(id,pos))
    // state, states fold by (sum, struct-min), novelty derives from the
    // merged state. The oracle computes the UN-SPLIT q180 answer
    // directly, so the hash match certifies state(A) ⊕ state(B) ==
    // state(A ∪ B) cross-engine — q173's merge-law pattern applied to
    // the dedup machinery.
    "q182_novelty_increment" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("id"),
        when(pmod(did, lit(7)) === 0,
          concat(col("text"), lit(" " + spanBoiler))).otherwise(col("text")).as("text"))
      val state = DedupOps.noveltyMergeStates(
        DedupOps.noveltyState(corpus.where(pmod(col("id"), lit(2)) === 0),
          "id", "text", 8),
        DedupOps.noveltyState(corpus.where(pmod(col("id"), lit(2)) === 1),
          "id", "text", 8))
      DedupOps.noveltyFromState(corpus, "id", "text", 8, state)
        .select(col("id").as("doc_id"), col("n_windows"), col("n_novel"),
          col("novelty_bp"))
    }),


    // Content-defined chunking (rsync/LBFS storage-dedup shape): a
    // ~300-char run PLANTED on every 11th doc re-synchronizes to
    // identical interior chunks across those docs whatever their
    // prefixes — the non-vacuous positive chunk-hash dedup needs. Every
    // chunk's (idx, start, len, md5) is hash-checked.
    "q181_cdc_chunks" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("id"),
        when(pmod(did, lit(11)) === 0,
          concat(col("text"), lit(" " + cdcTail))).otherwise(col("text")).as("text"))
      DedupOps.contentDefinedChunks(corpus, "id", "text")
        .select(col("id").as("doc_id"), col("chunk_idx"), col("start_pos"),
          col("chunk_len"), col("chunk_md5"))
    }),


    // LSH BAND-PARAMETER SWEEP — the tuning companion to q165's
    // single-config eval: one shingle pass, one signature pass, then
    // each (bands × rowsPerBand) config re-bands the SAME signatures
    // (sig cost is the sweep's dominant term; re-banding is a narrow
    // flatMap). Per config: candidate-pair volume (the verify-cost
    // driver) and planted-twin recall (the quality floor) — never the
    // exact all-pairs join, which q165 already measures once. More
    // rows per band → sharper precision, fewer candidates, lower
    // recall; the sweep quantifies that S-curve trade on real data.
    "q196_band_sweep" -> ((s, d) => {
      import org.apache.spark.storage.StorageLevel
      val corpus = dupCorpus(Tables.documents(s, d))
      // Round-18: the shingle table had a single consumer (the signature
      // kernel) — persisting it only paid cache materialization; fusing
      // shingle+signature into one scan-side pass feeds the ONE table
      // the sweep actually reuses, the signatures.
      val sig = graft.GraftCache.register(
        DedupOps.minhashSigRowsPortable(
          DedupOps.hashedShingleRowsPortable(corpus, "id", "text", 3), 64)
          .persist(StorageLevel.MEMORY_AND_DISK))
      // Materialize signatures ONCE before the sweep: inside the single
      // final action the three config subtrees raced to fill the sig
      // cache, each computing (and discarding) duplicate partitions of
      // the sweep's dominant kernel — the "Block ... already exists"
      // churn in the round-17 bench log. One job fills the cache.
      sig.count()
      val planted = Tables.documents(s, d)
        .select(did.as("id_a"), (did + 1000000000000L).as("id_b"))
      val nPlanted = planted.agg(count(lit(1)).as("planted_total"))
      // The three (bands × rowsPerBand) configs are INDEPENDENT once the
      // signatures are cached: materialize each config's candidate set
      // from its own driver thread (guide §2.6) so the per-config
      // banding shuffles and bucket aggregations overlap; the cheap
      // final action then reads three warm caches. Same frames, same
      // counts — only the materialization schedule changes.
      graft.operators.JobOverlap.all(Seq(32, 16, 8).map { bands =>
        () => {
          val cands = graft.GraftCache.register(
            DedupOps.candidatesFromBandRows(
              DedupOps.bandRowsFromSig(sig, 64, bands), maxBucketSize = 1000)
              .persist(StorageLevel.MEMORY_AND_DISK))
          cands.count()
          val nC = cands.agg(count(lit(1)).as("n_cand"))
          val nF = planted.join(cands, Seq("id_a", "id_b"))
            .agg(count(lit(1)).as("planted_found"))
          nC.crossJoin(nF)
            .select(lit((64 / bands).toLong).as("rows_per_band"),
              lit(bands.toLong).as("bands"), col("n_cand"), col("planted_found"))
        }
      }).reduce(_ unionByName _)
        .crossJoin(broadcast(nPlanted))
        .withColumn("recall_bp", expr("(planted_found * 10000) div planted_total"))
        .select("rows_per_band", "bands", "n_cand", "planted_found", "recall_bp")
    }),


    // Dedup data-card panel: exact-duplicate cluster-size histogram +
    // storage savings. The fixture plants sizes 1/2/3 (odd ids stay
    // unique, even ids get one copy, ids % 4 == 0 a second), so the
    // histogram is non-degenerate at any SF. Everything derives from
    // ONE (fingerprint → size) aggregation — fingerprints shuffle, rows
    // don't, and the totals ride a 1-row broadcast.
    "q202_dedup_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(did.as("id"), col("text"))
        .unionByName(docs.where(pmod(did, lit(2)) === 0)
          .select((did + 1000000000000L).as("id"), col("text")))
        .unionByName(docs.where(pmod(did, lit(4)) === 0)
          .select((did + 2000000000000L).as("id"), col("text")))
      // persist the (fp, size) frame so the md5 pass over the 1.75×
      // corpus runs ONCE for both the histogram and the totals —
      // otherwise the comment's one-pass claim is false at runtime
      val clusters = graft.GraftCache.register(
        corpus.select(T.fingerprint(col("text")).as("fp"))
          .groupBy("fp").agg(count(lit(1)).as("cluster_size"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val totals = clusters.agg(sum("cluster_size").as("total_rows"),
        count(lit(1)).as("total_clusters"))
      clusters.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(totals))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("rows_at_size"),
          col("total_rows"), col("total_clusters"),
          (col("total_rows") - col("total_clusters")).as("dup_rows"))
    }),


    // Asymmetric shingle CONTAINMENT (quote/plagiarism detection): every
    // 29th doc plants a PROBE (id + 3·10^12) holding only its host's
    // first 12 tokens — containment 1.0 by construction while Jaccard
    // vs the full host is tiny, the case the symmetric near-dup stack
    // (q25/q26) structurally misses. Probes score against the whole
    // corpus through the df-guarded shingle join; >= 0.8 survives.
    "q212_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = T.tokens(col("text"))
      val probes = docs.where(pmod(did, lit(29)) === 0)
        .select((did + 3000000000000L).as("id"),
          array_join(slice(toks, 1, 12), " ").as("text"))
      DedupOps.containmentScores(
        docs.select(did.as("id"), col("text")), probes, "id", "text")
    }),


    // Blocking-quality evaluation — the record-linkage design gate that
    // decides whether q136's blocking key is safe to trust at scale:
    // reduction ratio (pairs pruned vs all-pairs) AND pairs
    // completeness (planted truth pairs surviving the block), both in
    // basis points. The twin corpus plants a known truth pair per
    // supplier; every 10th twin's edit lands in the LAST character, so
    // the right-3 blocking key provably MISSES it — completeness is
    // 9000, not a vacuous 10000. All four counts are 1-row aggregates
    // cross-joined as broadcasts; nothing is collected.
    "q231_blocking_eval" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val twin = when(pmod(col("s_suppkey"), lit(10)) === 0,
          concat(col("s_name"), lit("Q")))
        .otherwise(concat(substring(col("s_name"), 1, 9), lit("X"),
          substring(col("s_name"), 11, 100)))
      val all = sup.select(col("s_suppkey").as("id"), col("s_name").as("name"))
        .unionByName(sup.select((col("s_suppkey") + 1000000000000L).as("id"),
          twin.as("name")))
      val cand = all.select(col("id").as("id_a"), col("name").as("name_a"),
          expr("right(name, 3)").as("bk"))
        .join(all.select(col("id").as("id_b"), col("name").as("name_b"),
          expr("right(name, 3)").as("bk")), Seq("bk"))
        .where(col("id_a") < col("id_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 1)
        .select(col("id_a"), col("id_b"))
      val truth = sup.select(col("s_suppkey").as("id_a"),
        (col("s_suppkey") + 1000000000000L).as("id_b"))
      val nRec = all.agg(count(lit(1)).as("n_records"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nFound = truth.join(cand, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("truth_found"))
      nRec.crossJoin(broadcast(nCand)).crossJoin(broadcast(nTruth))
        .crossJoin(broadcast(nFound))
        .select(col("n_records"),
          expr("n_records * (n_records - 1) div 2").as("n_total_pairs"),
          col("n_cand"), col("n_truth"), col("truth_found"),
          expr("10000 - (n_cand * 10000) div (n_records * (n_records - 1) div 2)")
            .as("rr_bp"),
          expr("(truth_found * 10000) div n_truth").as("pc_bp"))
    }),
  )

  /** q180's full derivation — also the q182 oracle verbatim (there the
    * engine side computes via split batches + merged state, so the
    * match certifies the merge law against this direct computation).
    */
  private val noveltySql =
    s"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
       |   THEN text || ' $spanBoiler'
       |   ELSE text END AS text FROM documents),
       |t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
       |win AS (SELECT doc_id, toks,
       |  CASE WHEN len(toks) < 8 THEN CAST([] AS STRUCT(pos BIGINT, s VARCHAR)[])
       |   ELSE list_transform(range(1, len(toks) - 6),
       |     i -> struct_pack(pos := i - 1, s := array_to_string(toks[i:i+7], ' '))) END AS ws
       |  FROM t),
       |wo AS (SELECT doc_id, unnest(ws) AS u FROM win),
       |occ AS (SELECT doc_id, u.pos AS pos,
       |  ('0x' || substr(md5(u.s), 1, 15))::BIGINT AS h FROM wo),
       |rk AS (SELECT doc_id, pos, h,
       |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM occ),
       |fl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       | FROM rk GROUP BY 1)
       |SELECT t.doc_id, coalesce(f.n_windows, 0) AS n_windows,
       |  coalesce(f.n_novel, 0) AS n_novel,
       |  CAST(CASE WHEN coalesce(f.n_windows, 0) = 0 THEN 10000
       |   ELSE (f.n_novel * 10000) // f.n_windows END AS BIGINT) AS novelty_bp
       |FROM t LEFT JOIN fl f ON f.doc_id = t.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q12_fingerprints" ->
      s"""SELECT doc_id, md5(lower($cleanSql)) AS fingerprint FROM documents""",


    "q13_exact_dedup" ->
      s"""SELECT md5(lower($cleanSql)) AS fingerprint,
         | min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM documents GROUP BY 1""".stripMargin,


    // Full re-derivation of the portable MinHash-LSH pipeline: shingle
    // hashes -> 64 affine permutations in 60-bit space -> 16 four-value
    // band keys -> bucket-capped banded self-join -> exact Jaccard verify.
    // Arithmetic parity: Spark computes (h*a+b) & (2^60-1) in wrapping
    // 64-bit longs; low-bit truncation commutes with wraparound, so the
    // HUGEINT mod-2^60 here produces identical values.
    "q25_minhash_neardups" ->
      s"""WITH ${minhashLshCtes("TRUE", 1000000000000L)}
         |SELECT i.id_a, i.id_b,
         | floor((CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m)) * 10000 + 0.5) / 10000 AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.id = i.id_a
         |JOIN sizes sb ON sb.id = i.id_b
         |WHERE CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m) >= 0.7""".stripMargin,


    // Portable 60-bit SimHash: per-token md5 hash votes on 60 counters,
    // 4x15-bit bands, exact hamming verify. Tokenless docs sketch to
    // all-ones (counter 0 >= 0 sets every bit) — mirrored by the
    // coalesce.
    "q26_simhash_neardups" ->
      s"""WITH corpus AS (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000000 AS id, text || ' zzdup tail' AS text FROM documents),
         |t AS (SELECT id, $toksSql AS toks FROM corpus),
         |tok AS (SELECT id, unnest(toks) AS tk FROM t),
         |th AS (SELECT id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
         |bits AS (SELECT unnest(generate_series(0, 59)) AS b),
         |votes AS (SELECT th.id, bits.b,
         |  sum(CASE WHEN (th.h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         | FROM th, bits GROUP BY th.id, bits.b),
         |sk0 AS (SELECT id,
         |  CAST(sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh
         | FROM votes GROUP BY id),
         |sk AS (SELECT corpus.id, coalesce(sk0.sh, 1152921504606846975) AS sh
         | FROM corpus LEFT JOIN sk0 ON corpus.id = sk0.id),
         |b4 AS (SELECT unnest([0, 1, 2, 3]) AS band),
         |banded AS (SELECT sk.id, sk.sh, b4.band,
         |  (sk.sh >> (b4.band * 15)) & 32767 AS bk FROM sk, b4),
         |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.sh AS sh_a, y.sh AS sh_b
         | FROM banded x JOIN banded y ON x.band = y.band AND x.bk = y.bk
         | WHERE x.id < y.id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin,


    "q24_pairwise_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |   ELSE list_distinct(list_transform(range(1, len(toks) - 1),
         |     i -> array_to_string(toks[i:i+2], ' '))) END AS sh
         | FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | floor((CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
         |  ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) END) * 10000 + 0.5) / 10000 AS jaccard
         |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
         |WHERE a.doc_id % 5 = 0""".stripMargin,


    // Winnowing re-derived: char codes -> closed-form degree-7 polynomial
    // hash per position (coefficients are B^e mod 2^64 as SIGNED
    // literals; products/sums in HUGEINT stay congruent mod 2^64, then
    // reduce to the kernel's signed Long value), rolling 4-window min
    // with the rightmost-min tie-break via max(position) at the window
    // minimum, then the same posting-cap + containment math as the
    // kernel. Window starts: every full window plus position 1 (the
    // kernel's short-text case).
    "q50_fingerprint_overlap" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 AS id, text || ' zzdup tail' AS text FROM documents),
        |cl AS (SELECT id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM corpus),
        |lens AS (SELECT id, t, len(t) AS L FROM cl WHERE len(t) >= 8),
        |chars AS (SELECT id, i, ord(t[i:i]) AS c
        |  FROM (SELECT id, t, unnest(range(1, L + 1)) AS i FROM lens)),
        |poly AS (SELECT id, i,
        |   c::HUGEINT * (-5522125492475424181)::HUGEINT
        | + lead(c, 1) OVER w * (-7523229268483095719)::HUGEINT
        | + lead(c, 2) OVER w * (-3993531167153147853)::HUGEINT
        | + lead(c, 3) OVER w * (-4442925868394654895)::HUGEINT
        | + lead(c, 4) OVER w * 1000009000027000027::HUGEINT
        | + lead(c, 5) OVER w * 1000006000009::HUGEINT
        | + lead(c, 6) OVER w * 1000003::HUGEINT
        | + lead(c, 7) OVER w * 1::HUGEINT AS s
        | FROM chars
        | WINDOW w AS (PARTITION BY id ORDER BY i)),
        |hs AS (SELECT id, i,
        |  (CASE WHEN nn >= 9223372036854775808::HUGEINT THEN nn - 18446744073709551616::HUGEINT ELSE nn END)::BIGINT AS h
        | FROM (SELECT id, i,
        |   ((s % 18446744073709551616::HUGEINT) + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT AS nn
        |  FROM poly WHERE s IS NOT NULL)),
        |win AS (SELECT id, i,
        |   min(h) OVER fr AS wmin, count(*) OVER fr AS wcnt
        | FROM hs
        | WINDOW fr AS (PARTITION BY id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)),
        |starts AS (SELECT id, i AS j, wmin FROM win WHERE wcnt = 4 OR i = 1),
        |picks AS (SELECT s.id, s.j, max(p.i) AS pick FROM starts s JOIN hs p
        |  ON p.id = s.id AND p.i >= s.j AND p.i <= s.j + 3 AND p.h = s.wmin GROUP BY s.id, s.j),
        |fp AS (SELECT DISTINCT h.id, h.h AS fpv FROM picks JOIN hs h ON h.id = picks.id AND h.i = picks.pick),
        |common AS (SELECT fpv FROM fp GROUP BY fpv HAVING count(*) > 100),
        |rare AS (SELECT f.id, f.fpv FROM fp f WHERE f.fpv NOT IN (SELECT fpv FROM common)),
        |sizes AS (SELECT id, count(*) AS nfp FROM rare GROUP BY id),
        |shared AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared_fingerprints
        |  FROM rare a JOIN rare b ON a.fpv = b.fpv AND a.id < b.id GROUP BY a.id, b.id),
        |r AS (SELECT s.id_a, s.id_b, s.shared_fingerprints,
        |  floor((s.shared_fingerprints::DOUBLE / least(sa.nfp, sb.nfp)) * 10000 + 0.5) / 10000 AS containment
        | FROM shared s JOIN sizes sa ON sa.id = s.id_a JOIN sizes sb ON sb.id = s.id_b)
        |SELECT id_a, id_b, shared_fingerprints, containment FROM r
        |WHERE containment >= 0.9""".stripMargin,


    // On the exact-dup graph every component equals its fingerprint
    // group, so min-per-group is the expected label assignment.
    "q63_components" ->
      s"""WITH c AS (
         | SELECT doc_id AS id, text FROM documents
         | UNION ALL SELECT doc_id + 1000000000000, text FROM documents),
         |f AS (SELECT id, md5(lower($cleanSql)) AS fp FROM c),
         |g AS (SELECT fp, min(id) AS component, count(*) AS n
         |      FROM f GROUP BY fp)
         |SELECT f.id, g.component FROM f JOIN g USING (fp) WHERE g.n > 1""".stripMargin,


    // The ORACLE is the un-split direct computation over the tripled
    // corpus (components == fingerprint groups, min id per group);
    // the engine answers from two batch CC states folded through
    // ccMergeStates, so the hash match IS the merge-law certificate.
    "q237_cc_increment" ->
      s"""WITH c AS (
         | SELECT doc_id AS id, text FROM documents
         | UNION ALL SELECT doc_id + 1000000000000, text FROM documents
         | UNION ALL SELECT doc_id + 2000000000000, text FROM documents),
         |f AS (SELECT id, md5(lower($cleanSql)) AS fp FROM c),
         |g AS (SELECT fp, min(id) AS component, count(*) AS n
         |      FROM f GROUP BY fp)
         |SELECT f.id, g.component FROM f JOIN g USING (fp) WHERE g.n > 1""".stripMargin,


    // q25's pair graph resolved to components by a monotone label
    // closure: a label walks an edge only onto a larger node, so the
    // closure is finite (UNION dedups states) and every node's min
    // reachable label is its component min.
    "q81_neardup_clusters" ->
      s"""WITH RECURSIVE ${minhashLshCtes("doc_id % 4 = 0", 1000000000000L)},
         |jp AS (SELECT i.id_a, i.id_b
         | FROM inter i
         | JOIN sizes sa ON sa.id = i.id_a
         | JOIN sizes sb ON sb.id = i.id_b
         | WHERE CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m) >= 0.7),
         |symx AS (SELECT id_a AS a, id_b AS b FROM jp
         |  UNION SELECT id_b, id_a FROM jp),
         |nodesx AS (SELECT DISTINCT a AS id FROM symx),
         |reach AS (
         |  SELECT id, id AS lbl FROM nodesx
         |  UNION
         |  SELECT s2.b AS id, r.lbl FROM reach r JOIN symx s2 ON s2.a = r.id
         |  WHERE r.lbl < s2.b)
         |SELECT id, min(lbl) AS component FROM reach GROUP BY id""".stripMargin,


    // q27's pair graph resolved to semantic clusters by the same monotone
    // label closure as q81, left-joined back to the full corpus so
    // singletons label (and keep) themselves.
    "q82_semantic_dedup" ->
      s"""WITH RECURSIVE $embeddingPairCtes,
         |jp AS (SELECT id_a, id_b FROM r WHERE sim >= 0.99),
         |symx AS (SELECT id_a AS a, id_b AS b FROM jp
         |  UNION SELECT id_b, id_a FROM jp),
         |nodesx AS (SELECT DISTINCT a AS id FROM symx),
         |reach AS (
         |  SELECT id, id AS lbl FROM nodesx
         |  UNION
         |  SELECT s2.b AS id, r2.lbl FROM reach r2 JOIN symx s2 ON s2.a = r2.id
         |  WHERE r2.lbl < s2.b),
         |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
         |SELECT c.id, coalesce(cp.component, c.id) AS cluster,
         | (coalesce(cp.component, c.id) = c.id) AS keep
         |FROM corpus c LEFT JOIN comp cp ON cp.id = c.id""".stripMargin,


    // The same canon chain step by step: fragment strip, scheme/host
    // lowercase, default-port drop, tracking-param filter + sort,
    // non-root trailing-slash strip; scheme-less urls pass through.
    "q84_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |  CASE doc_id % 4
        |   WHEN 0 THEN 'HTTP://WWW.Ex.TEST:80/p' || CAST(doc_id AS VARCHAR) || '/?utm_source=x&b=2&a=1#sec'
        |   WHEN 1 THEN 'https://Ex.Test:443/q' || CAST(doc_id AS VARCHAR) || '?fbclid=abc&id=' || CAST(doc_id AS VARCHAR)
        |   WHEN 2 THEN 'https://cdn.ex.test:8443/r/' || CAST(doc_id AS VARCHAR) || '/'
        |   ELSE 'files/data' || CAST(doc_id AS VARCHAR) END AS url
        | FROM documents),
        |p AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |q AS (SELECT doc_id, url, nofrag,
        |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p),
        |h AS (SELECT doc_id, url, nofrag, scheme, rest,
        |  lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
        |  regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1), '(.)/$', '\1') AS path,
        |  list_sort(list_filter(string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
        |    x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$'))) AS params
        | FROM q),
        |c AS (SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN url ELSE
        |   scheme || '://' ||
        |   (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |     WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |     ELSE hostport END) || path ||
        |   (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END)
        |  END AS canon_url
        | FROM h)
        |SELECT doc_id, url, canon_url,
        | regexp_replace(regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?:]*)', 1), '^www\.', '') AS host
        |FROM c""".stripMargin,


    // The asymmetric (side-tagged) variant of the q25 LSH chain: corpus
    // and batch share one signature derivation; the bucket guard counts
    // CORPUS rows only; candidates join corpus x batch, never self.
    "q86_minhash_probe" -> minhashProbeSql(
      s"""  SELECT 'c' AS side, doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT 'b', doc_id + 1000000000000, text || ' zzdup tail'
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT 'b', doc_id + 2000000000000,
         |    'totally novel content block number ' || CAST(doc_id AS VARCHAR) || ' unseen tokens qqq www eee'
         |  FROM documents WHERE doc_id % 10 = 0""".stripMargin),


    // Same survivor policy: rank within each fingerprint group by
    // (quality desc, id asc); rk = 1 is the canonical member.
    "q111_canonical" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 1000000000000, text FROM documents),
         |${qualityCtesFrom("corpus")},
         |qs AS (SELECT doc_id, $qualityExprSql AS quality FROM m),
         |f AS (SELECT c.doc_id, md5(lower($cleanSql)) AS fp, qs.quality
         | FROM corpus c JOIN qs ON qs.doc_id = c.doc_id),
         |r AS (SELECT doc_id, fp,
         |  row_number() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY fp) AS group_n FROM f),
         |s AS (SELECT fp, doc_id AS canonical_id FROM r WHERE rk = 1)
         |SELECT r.doc_id, s.canonical_id, CAST(r.group_n AS BIGINT) AS group_n,
         | r.doc_id = s.canonical_id AS keep
         |FROM r JOIN s ON s.fp = r.fp""".stripMargin,


    // Same planted boilerplate, same 5-gram shingling as the minhash
    // chain (1-based inclusive slices), integer basis points.
    "q123_ngram_contam" ->
      s"""WITH corpus AS (SELECT doc_id AS id,
         |  CASE WHEN doc_id % 4 = 0
         |   THEN text || ' subscribe to our newsletter for daily updates today'
         |   ELSE text END AS text
         | FROM documents),
         |t AS (SELECT id, $toksSql AS toks FROM corpus),
         |shl AS (SELECT id, CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(toks) - 3),
         |    i -> array_to_string(toks[i:i+4], ' ')) END AS shs FROM t),
         |sh AS (SELECT DISTINCT id, unnest(shs) AS s FROM shl),
         |dfq AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 5),
         |tot AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY 1),
         |nf AS (SELECT sh.id, count(*) AS n_frequent FROM sh
         | JOIN dfq USING (s) GROUP BY 1)
         |SELECT c.id,
         | CAST(coalesce(tot.n_shingles, 0) AS BIGINT) AS n_shingles,
         | CAST(coalesce(nf.n_frequent, 0) AS BIGINT) AS n_frequent,
         | CAST(CASE WHEN coalesce(tot.n_shingles, 0) = 0 THEN 0
         |  ELSE (coalesce(nf.n_frequent, 0) * 10000) // tot.n_shingles
         |  END AS BIGINT) AS frequent_bp,
         | CAST(CASE WHEN coalesce(tot.n_shingles, 0) = 0 THEN 0
         |  ELSE (coalesce(nf.n_frequent, 0) * 10000) // tot.n_shingles
         |  END AS BIGINT) >= 5000 AS flagged
         |FROM corpus c
         |LEFT JOIN tot ON tot.id = c.id
         |LEFT JOIN nf ON nf.id = c.id""".stripMargin,


    // Brute-force exact Jaccard over ALL shared-shingle pairs — no
    // prefix logic, so the oracle independently certifies the prefix
    // filter's no-false-negative guarantee on this corpus.
    "q131_prefix_join" ->
      s"""WITH corpus AS (
         |  SELECT doc_id AS id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000000 AS id, text || ' zzdup tail' FROM documents),
         |t AS (SELECT id, $toksSql AS toks FROM corpus),
         |shl AS (SELECT id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+2], ' ')) END AS shs FROM t),
         |sh AS (SELECT DISTINCT id,
         |  ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         | FROM (SELECT id, unnest(shs) AS s FROM shl)),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS m
         | FROM sh a JOIN sh b ON b.h = a.h AND b.id > a.id GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b,
         | floor((CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m)) * 10000 + 0.5) / 10000 AS jaccard
         |FROM inter i
         |JOIN sizes sa ON sa.id = i.id_a
         |JOIN sizes sb ON sb.id = i.id_b
         |WHERE CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m) >= 0.7""".stripMargin,


    // The q25 signature chain restricted to the planted pairs; the
    // estimate (matching positions / 64) audited against exact Jaccard.
    "q135_minhash_eval" ->
      s"""WITH base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 5 = 0),
         |corpus AS (SELECT id, text FROM base
         | UNION ALL SELECT id + 1000000000000, text || ' zzdup tail' FROM base),
         |t AS (SELECT id, $toksSql AS toks FROM corpus),
         |shl AS (SELECT id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+2], ' ')) END AS shs FROM t),
         |sh AS (SELECT DISTINCT id,
         |  ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         | FROM (SELECT id, unnest(shs) AS s FROM shl)),
         |pidx AS (SELECT unnest(generate_series(0, 63)) AS i),
         |perms AS (SELECT i,
         |  ('0x' || substr(md5('graft_perm_a_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT | 1 AS a,
         |  ('0x' || substr(md5('graft_perm_b_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT AS b
         | FROM pidx),
         |sig AS (SELECT sh.id, perms.i,
         |  min(((sh.h::HUGEINT * perms.a + perms.b) % 1152921504606846976::HUGEINT)::BIGINT) AS s
         | FROM sh, perms GROUP BY 1, 2),
         |mm AS (SELECT a.id AS id_a,
         |  CAST(sum(CASE WHEN a.s = b.s THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         | FROM sig a JOIN sig b ON b.i = a.i AND b.id = a.id + 1000000000000
         | WHERE a.id < 1000000000000 GROUP BY 1),
         |inter AS (SELECT a.id AS id_a, CAST(count(*) AS BIGINT) AS m
         | FROM sh a JOIN sh b ON b.h = a.h AND b.id = a.id + 1000000000000
         | WHERE a.id < 1000000000000 GROUP BY 1),
         |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1)
         |SELECT mm.id_a, mm.id_a + 1000000000000 AS id_b, mm.n_match,
         | (mm.n_match * 10000) // 64 AS est_bp,
         | (coalesce(i.m, 0) * 10000) // (sa.n + sb.n - coalesce(i.m, 0)) AS exact_bp,
         | abs((mm.n_match * 10000) // 64
         |   - (coalesce(i.m, 0) * 10000) // (sa.n + sb.n - coalesce(i.m, 0))) AS err_bp
         |FROM mm
         |LEFT JOIN inter i ON i.id_a = mm.id_a
         |JOIN sizes sa ON sa.id = mm.id_a
         |JOIN sizes sb ON sb.id = mm.id_a + 1000000000000""".stripMargin,


    // Same blocking + distance (q91), then the q81 monotone label
    // closure; singletons self-label through the left join.
    "q136_entity_resolution" ->
      """WITH RECURSIVE sup AS (
        |  SELECT s_suppkey AS id, s_name AS name FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey + 1000000000000, substr(s_name, 1, 9) || 'X' || substr(s_name, 11)
        |  FROM supplier),
        |jp AS (SELECT a.id AS id_a, b.id AS id_b FROM sup a JOIN sup b
        |  ON right(a.name, 3) = right(b.name, 3)
        |  AND abs(len(a.name) - len(b.name)) <= 1
        |  AND a.id < b.id
        | WHERE levenshtein(a.name, b.name) <= 1),
        |symx AS (SELECT id_a AS a, id_b AS b FROM jp
        |  UNION SELECT id_b, id_a FROM jp),
        |nodesx AS (SELECT DISTINCT a AS id FROM symx),
        |reach AS (
        |  SELECT id, id AS lbl FROM nodesx
        |  UNION
        |  SELECT s2.b AS id, r.lbl FROM reach r JOIN symx s2 ON s2.a = r.id
        |  WHERE r.lbl < s2.b),
        |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        |SELECT s.id, coalesce(c.component, s.id) AS entity,
        | s.id = coalesce(c.component, s.id) AS canonical
        |FROM sup s LEFT JOIN comp c ON c.id = s.id""".stripMargin,


    "q138_event_dedup" ->
      """WITH r AS (SELECT event_id, user_id, event_type, ts,
        |  row_number() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts)
        |    ORDER BY ts, event_id) AS rn
        | FROM events)
        |SELECT event_id, user_id, event_type,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
        |FROM r WHERE rn = 1""".stripMargin,


    // Same 3-gram shingling (q25 chain), distinct per SOURCE, pairwise
    // exact Jaccard over md5 hashes.
    "q155_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |shl AS (SELECT doc_id, source,
         |  CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |   ELSE list_transform(range(1, len(toks) - 1),
         |     i -> array_to_string(toks[i:i+2], ' ')) END AS shs FROM t),
         |sh AS (SELECT DISTINCT source,
         |  ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         | FROM (SELECT source, unnest(shs) AS s FROM shl)),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS m
         | FROM sh a JOIN sh b ON b.h = a.h AND b.source > a.source GROUP BY 1, 2)
         |SELECT i.src_a, i.src_b, i.m, sa.n AS na, sb.n AS nb,
         | (i.m * 10000) // (sa.n + sb.n - i.m) AS jaccard_bp
         |FROM inter i
         |JOIN sizes sa ON sa.source = i.src_a
         |JOIN sizes sb ON sb.source = i.src_b""".stripMargin,


    // LSH chain (q25) and exact brute-force chain (q131, x-prefixed)
    // side by side, reduced to recall/precision.
    "q165_lsh_recall" ->
      s"""WITH ${minhashLshCtes("TRUE", 1000000000000L)},
         |lshp AS (SELECT i.id_a, i.id_b FROM inter i
         | JOIN sizes sa ON sa.id = i.id_a
         | JOIN sizes sb ON sb.id = i.id_b
         | WHERE CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m) >= 0.7),
         |xsh AS (SELECT id, h FROM sh),
         |xinter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS m
         | FROM xsh a JOIN xsh b ON b.h = a.h AND b.id > a.id GROUP BY 1, 2),
         |exactp AS (SELECT i.id_a, i.id_b FROM xinter i
         | JOIN sizes sa ON sa.id = i.id_a
         | JOIN sizes sb ON sb.id = i.id_b
         | WHERE CAST(i.m AS DOUBLE) / (sa.n + sb.n - i.m) >= 0.7),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exactp),
         |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lshp),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common
         | FROM exactp e JOIN lshp l ON l.id_a = e.id_a AND l.id_b = e.id_b)
         |SELECT n_exact, n_lsh, n_common,
         | (n_common * 10000) // n_exact AS recall_bp,
         | (n_common * 10000) // n_lsh AS precision_bp
         |FROM ne CROSS JOIN nl CROSS JOIN nc""".stripMargin,


    // Independent re-derivation of duplicated-span dedup: window
    // occurrences with positions -> portable md5 window hashes ->
    // duplicated = hash count > 1 -> canonical-first by row_number over
    // (doc_id, pos) (the engine uses a partial-aggregated struct min;
    // same ordering semantics) -> per-token coverage via the exploded
    // 0..w-1 offsets -> rewrite by anti-joining removed positions.
    "q175_span_dedup" ->
      s"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |   THEN text || ' $spanBoiler'
         |   ELSE text END AS text FROM documents),
         |t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |win AS (SELECT doc_id, toks,
         |  CASE WHEN len(toks) < 8 THEN CAST([] AS STRUCT(pos BIGINT, s VARCHAR)[])
         |   ELSE list_transform(range(1, len(toks) - 6),
         |     i -> struct_pack(pos := i - 1, s := array_to_string(toks[i:i+7], ' '))) END AS ws
         |  FROM t),
         |wo AS (SELECT doc_id, unnest(ws) AS u FROM win),
         |occ AS (SELECT doc_id, u.pos AS pos,
         |  ('0x' || substr(md5(u.s), 1, 15))::BIGINT AS h FROM wo),
         |dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
         |rk AS (SELECT doc_id, pos, h,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM occ),
         |rm AS (SELECT rk.doc_id, rk.pos FROM rk JOIN dup ON dup.h = rk.h WHERE rk.rn > 1),
         |rmexp AS (SELECT doc_id, pos, unnest(range(0, 8)) AS i FROM rm),
         |rmtok AS (SELECT DISTINCT doc_id, pos + i AS tpos FROM rmexp),
         |tl AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |    i -> struct_pack(p := i - 1, tk := toks[i]))) AS u FROM t),
         |tokpos AS (SELECT doc_id, u.p AS tpos, u.tk AS tk FROM tl),
         |keep AS (SELECT tp.doc_id, tp.tpos, tp.tk FROM tokpos tp
         |  LEFT JOIN rmtok r ON r.doc_id = tp.doc_id AND r.tpos = tp.tpos
         |  WHERE r.doc_id IS NULL),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  array_to_string(list(tk ORDER BY tpos), ' ') AS clean_text FROM keep GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(t.toks) AS BIGINT) - coalesce(ag.n_kept, 0) AS n_removed,
         |  coalesce(ag.clean_text, '') AS clean_text
         |FROM t LEFT JOIN ag ON ag.doc_id = t.doc_id""".stripMargin,


    // The q175 occurrence chain, reduced to the canonical-fraction per
    // doc (rn = 1 over (doc_id, pos) == the engine's struct min).
    "q180_novelty" -> noveltySql,


    // IDENTICAL SQL to q180 — the oracle computes the un-split answer,
    // so the match certifies the engine's batch-split + state-merge
    // path reproduces it (the merge law).
    "q182_novelty_increment" -> noveltySql,


    // The rolling hash expanded per position (8-term polynomial, base
    // 257 — 257^7 < 2^60 so the literal powers are exact; HUGEINT sum
    // mod 2^60 == the kernel's wrapping-64 & mask, low bits commute),
    // boundaries -> lag() chunk spans -> md5 per chunk.
    "q181_cdc_chunks" ->
      s"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |   THEN text || ' $cdcTail'
         |   ELSE text END AS text FROM documents),
         |cl1 AS (SELECT doc_id, $cleanSql AS t FROM corpus),
         |cl AS (SELECT doc_id, t FROM cl1 WHERE len(t) >= 1),
         |posr AS (SELECT doc_id, t, unnest(range(8, len(t) + 1)) AS i FROM cl
         | WHERE len(t) >= 8),
         |hv AS (SELECT doc_id, i,
         |  CAST(list_sum(list_transform(range(0, 8),
         |    j -> CAST(ord(substr(t, CAST(i - j AS INTEGER), 1)) AS HUGEINT)
         |      * CAST(([1, 257, 66049, 16974593, 4362470401, 1121154893057,
         |          288136807515649, 74051159531521793])[CAST(j + 1 AS INTEGER)] AS HUGEINT)))
         |    % 1152921504606846976 AS BIGINT) AS h
         | FROM posr),
         |bnd AS (SELECT doc_id, i AS e FROM hv WHERE h % 64 = 0),
         |alle AS (SELECT doc_id, e FROM bnd
         | UNION SELECT doc_id, CAST(len(t) AS BIGINT) AS e FROM cl),
         |ch AS (SELECT doc_id, e,
         |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s
         | FROM alle)
         |SELECT c.doc_id,
         | CAST(row_number() OVER (PARTITION BY c.doc_id ORDER BY c.e) AS BIGINT) AS chunk_idx,
         | c.s AS start_pos, c.e - c.s AS chunk_len,
         | md5(substr(cl.t, CAST(c.s + 1 AS INTEGER), CAST(c.e - c.s AS INTEGER))) AS chunk_md5
         |FROM ch c JOIN cl ON cl.doc_id = c.doc_id""".stripMargin,


    // One signature derivation (the shared sig CTE), three band-config
    // tails over it — the oracle re-derives every candidate set and the
    // planted-twin hit counts with the same ≤1000 bucket guard.
    "q196_band_sweep" ->
      s"""WITH ${minhashSigCtes("TRUE", 1000000000000L)},
         |pl AS (SELECT doc_id AS id_a, doc_id + 1000000000000 AS id_b FROM documents),
         |${bandSweepTailSql("r2", 2)},
         |${bandSweepTailSql("r4", 4)},
         |${bandSweepTailSql("r8", 8)},
         |pt AS (SELECT CAST(count(*) AS BIGINT) AS planted_total FROM pl)
         |SELECT CAST(2 AS BIGINT) AS rows_per_band, CAST(32 AS BIGINT) AS bands,
         | n_cand, planted_found,
         | (planted_found * 10000) // planted_total AS recall_bp FROM r2m, pt
         |UNION ALL SELECT 4, 16, n_cand, planted_found,
         | (planted_found * 10000) // planted_total FROM r4m, pt
         |UNION ALL SELECT 8, 8, n_cand, planted_found,
         | (planted_found * 10000) // planted_total FROM r8m, pt""".stripMargin,


    // Same fingerprint (md5 of lowercased cleaned text) as q63's
    // oracle; histogram + totals from the one cluster-size aggregation.
    "q202_dedup_report" ->
      s"""WITH c AS (
         | SELECT doc_id AS id, text FROM documents
         | UNION ALL SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 2 = 0
         | UNION ALL SELECT doc_id + 2000000000000, text FROM documents WHERE doc_id % 4 = 0),
         |f AS (SELECT id, md5(lower($cleanSql)) AS fp FROM c),
         |g AS (SELECT fp, CAST(count(*) AS BIGINT) AS cluster_size FROM f GROUP BY fp),
         |t AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS total_rows,
         |  CAST(count(*) AS BIGINT) AS total_clusters FROM g)
         |SELECT g.cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         | g.cluster_size * CAST(count(*) AS BIGINT) AS rows_at_size,
         | t.total_rows, t.total_clusters,
         | t.total_rows - t.total_clusters AS dup_rows
         |FROM g CROSS JOIN t
         |GROUP BY g.cluster_size, t.total_rows, t.total_clusters""".stripMargin,


    // The same 3-token shingle md5 hashing on both sides (DISTINCT per
    // doc), the same df <= 1000 corpus-side guard, integer containment
    // in bp over the probe's shingle count.
    "q212_containment" ->
      s"""WITH probes AS (SELECT doc_id + 3000000000000 AS id,
         |  array_to_string(($toksSql)[1:12], ' ') AS text
         | FROM documents WHERE doc_id % 29 = 0),
         |ct AS (SELECT doc_id AS id, $toksSql AS toks FROM documents),
         |csh0 AS (SELECT id, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+2], ' ')) END) AS sh FROM ct),
         |csh AS (SELECT DISTINCT id AS host_id,
         |  ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM csh0),
         |pt AS (SELECT id, $toksSql AS toks FROM probes),
         |psh0 AS (SELECT id, unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+2], ' ')) END) AS sh FROM pt),
         |psh AS (SELECT DISTINCT id AS probe_id,
         |  ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM psh0),
         |sizes AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_probe
         | FROM psh GROUP BY probe_id),
         |guard AS (SELECT h FROM (SELECT h, count(*) AS df FROM csh GROUP BY h)
         | WHERE df <= 1000),
         |m AS (SELECT p.probe_id, c.host_id, CAST(count(*) AS BIGINT) AS n_match
         | FROM csh c JOIN guard g ON g.h = c.h JOIN psh p ON p.h = c.h
         | WHERE p.probe_id <> c.host_id GROUP BY 1, 2)
         |SELECT m.probe_id, m.host_id, m.n_match, s.n_probe,
         | (m.n_match * 10000) // s.n_probe AS containment_bp
         |FROM m JOIN sizes s USING (probe_id)
         |WHERE (m.n_match * 10000) // s.n_probe >= 8000""".stripMargin,


    // Same twin plant (every 10th edit in the last char defeats the
    // right-3 key), same blocking join, same four 1-row counts.
    "q231_blocking_eval" ->
      """WITH sup AS (
        |  SELECT s_suppkey AS id, s_name AS name FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey + 1000000000000,
        |   CASE WHEN s_suppkey % 10 = 0 THEN s_name || 'Q'
        |    ELSE substr(s_name, 1, 9) || 'X' || substr(s_name, 11) END
        |  FROM supplier),
        |cand AS (SELECT a.id AS id_a, b.id AS id_b FROM sup a JOIN sup b
        |  ON right(a.name, 3) = right(b.name, 3)
        |  AND abs(len(a.name) - len(b.name)) <= 1
        |  AND a.id < b.id),
        |truth AS (SELECT s_suppkey AS id_a, s_suppkey + 1000000000000 AS id_b FROM supplier),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM sup),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS truth_found
        | FROM truth JOIN cand USING (id_a, id_b))
        |SELECT n_records,
        | n_records * (n_records - 1) // 2 AS n_total_pairs,
        | n_cand, n_truth, truth_found,
        | 10000 - (n_cand * 10000) // (n_records * (n_records - 1) // 2) AS rr_bp,
        | (truth_found * 10000) // n_truth AS pc_bp
        |FROM nr CROSS JOIN nc CROSS JOIN nt CROSS JOIN nf""".stripMargin,
  )
}

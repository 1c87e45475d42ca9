package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text retrieval: BM25, RRF hybrid, inverted index (+ incremental merge), phrase search, per-term and per-source statistics.
  *
  * Contract queries: q53_rag_retrieve, q65_bm25, q70_term_topk, q71_hybrid_rrf, q129_inverted_index, q137_index_merge, q147_phrase_search, q163_source_terms, q172_rag_context, q174_context_dedup, q179_mmr_rerank.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object RetrievalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RAG retrieval: ANN top-k joined back to document text (vec_id and
    // doc_id are aligned in the test data).
    "q53_rag_retrieve" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilarityOps.retrieveDocs(Tables.documents(s, d), emb,
        emb.where(col("vec_id") < 4), k = 3)
    }),


    // BM25 lexical retrieval — the keyword complement to q28/q30's
    // embedding ANN. Posting explode is filtered to the query terms
    // before anything shuffles; df + corpus stats broadcast back; the
    // ranking is TakeOrderedAndProject, never a global sort.
    "q65_bm25" -> ((s, d) =>
      RetrievalOps.bm25(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "window", "hash"), topK = 20)),

    // RAG CONTEXT ASSEMBLY (composition): BM25 top-20 (q65) -> join the
    // per-doc token counts -> keep the rank-order prefix that fits the
    // 600-token context budget (running sum over the top-k list; the
    // unpartitioned window is safe ONLY because the input is already
    // top-k sized — same bound as rrfFuse). Budget 600 cuts the 20-doc
    // list roughly in half, so the gate checks a real truncation.
    "q172_rag_context" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val hits = RetrievalOps.bm25(docs, "doc_id", "text",
        queryTerms = Seq("spark", "window", "hash"), topK = 20)
      val toks = docs.select(col("doc_id"),
        size(T.tokens(lower(col("text")))).cast("long").as("n_tokens"))
      val w = Window.orderBy(desc("bm25"), col("doc_id"))
      hits.join(toks, "doc_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .where(col("cum_tokens") <= 600L)
        .select("doc_id", "rank", "n_tokens", "cum_tokens", "bm25")
    }),

    // MMR diversification (Carbonell-Goldstein, λ=1/2) — the step
    // between retrieval and the context budget: BM25 top-12 greedily
    // re-ranked so each pick maximizes rel_bp - max-token-Jaccard-bp
    // against the already-picked set. All-integer (bm25's half4 bp +
    // truncating div), every pick's (rank, rel, maxsim, mmr) is
    // hash-checked against a 4-step unrolled greedy in SQL.
    "q179_mmr_rerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val hits = RetrievalOps.bm25(docs, "doc_id", "text",
        queryTerms = Seq("spark", "window", "hash"), topK = 12)
      val toks = docs.select(col("doc_id"),
        array_distinct(T.tokens(lower(col("text")))).as("toks"))
      val cands = hits.join(toks, "doc_id")
        .select(lit(0L).as("qid"), col("doc_id"),
          floor(col("bm25") * 10000 + lit(0.5)).cast("long").as("rel_bp"),
          col("toks"))
      RetrievalOps.mmrRerank(cands, "qid", "doc_id", "rel_bp", "toks", k = 4)
        .select(col("pick_rank"), col("doc_id"), col("rel_bp"),
          col("maxsim_bp"), col("mmr_bp"))
    }),

    // q172 + the DEDUPE step a real RAG context needs: identical-text
    // twins PLANTED at doc_id + 10^12 tie their originals' BM25 scores and
    // rank immediately after them (tie-break by id) — the fingerprint
    // first-occurrence filter must drop every twin BEFORE the budget
    // cut, or duplicates waste the context window. Rank/cum_tokens are
    // recomputed over the deduped list.
    "q174_context_dedup" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.documents(s, d)
      val docs = base.select("doc_id", "text")
        .unionByName(base.select((did + 1000000000000L).as("doc_id"), col("text")))
      val hits = RetrievalOps.bm25(docs, "doc_id", "text",
        queryTerms = Seq("spark", "window", "hash"), topK = 20)
      val toks = docs.select(col("doc_id"),
        size(T.tokens(lower(col("text")))).cast("long").as("n_tokens"),
        md5(T.cleanText(col("text"))).as("fp"))
      val wFp = Window.partitionBy("fp").orderBy(desc("bm25"), col("doc_id"))
      val deduped = hits.join(toks, "doc_id")
        .withColumn("_fp_rn", row_number().over(wFp))
        .where(col("_fp_rn") === 1) // first occurrence per fingerprint wins
      val w1 = Window.orderBy(desc("bm25"), col("doc_id"))
      deduped
        .withColumn("rank", row_number().over(w1).cast("long"))
        .withColumn("cum_tokens", sum("n_tokens").over(w1))
        .where(col("cum_tokens") <= 600L)
        .select("doc_id", "rank", "n_tokens", "cum_tokens", "bm25")
    }),


    // Exact heavy hitters: corpus-wide term counts, top 20. Map-side
    // partial agg collapses each partition's token stream pre-shuffle;
    // the ranking is TakeOrderedAndProject over (count, term).
    "q70_term_topk" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(T.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("term")).limit(20)),


    // Hybrid retrieval: RRF fusion of the q65 BM25 lexical top-20 with
    // the brute-force semantic top-20 for query vector 0 (vec_id and
    // doc_id are aligned in the test data). Both fusion inputs are
    // k-sized by construction, which is exactly the documented bound
    // under which rrfFuse's unpartitioned rank windows are safe.
    "q71_hybrid_rrf" -> ((s, d) => {
      val lex = RetrievalOps.bm25(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "window", "hash"), topK = 20)
      val emb = Tables.embeddings(s, d)
      val sem = SimilarityOps.bruteForceTopK(emb, emb.where(col("vec_id") === 0), k = 20)
        .select(col("neighbor_id").as("doc_id"), col("sim"))
      RetrievalOps.rrfFuse(lex, sem, "doc_id",
        lexOrder = Seq(desc("bm25"), col("doc_id")),
        semOrder = Seq(desc("sim"), col("doc_id")),
        topK = 20)
    }),


    // Inverted-index materialization: term -> (df, gap-compressed
    // sorted posting list) — the artifact BM25 reads instead of
    // re-tokenizing the corpus per query. (id, term) pairs shuffle
    // once; per-term state is the posting list itself (stop-words
    // shard-and-merge in production).
    "q129_inverted_index" -> ((s, d) =>
      RetrievalOps.invertedIndex(Tables.documents(s, d), "doc_id", "text")),


    // Incremental index maintenance: two RANGE-SHARDED halves of the
    // corpus build their q129 indexes independently, then merge by
    // term (df adds; posting lists concatenate with one boundary-gap
    // fix) — the corpus is never re-tokenized. The oracle builds the
    // index DIRECTLY from the full corpus, so the hash match certifies
    // merge == direct.
    "q137_index_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = RetrievalOps.invertedIndexGaps(
        docs.where(col("doc_id") < 250), "doc_id", "text")
      val b = RetrievalOps.invertedIndexGaps(
        docs.where(col("doc_id") >= 250), "doc_id", "text")
      RetrievalOps.mergeRangeShardIndexes(a, b)
    }),


    // Positional phrase search ("table hash" as an exact token
    // sequence): what docs-only postings can't answer. Token stream is
    // filtered to the phrase terms pre-shuffle; consecutive terms join
    // on (doc, anchored position); counts are exact per start position.
    "q147_phrase_search" -> ((s, d) =>
      RetrievalOps.phraseSearch(Tables.documents(s, d), "doc_id", "text",
        Seq("table", "hash"))),


    // Distinctive terms per source (c-TF-IDF-lite, integer): the terms
    // most CONCENTRATED in a source relative to the corpus — the
    // cluster-labeling op that names what each source is about. Min
    // support 5; top 3 per source by (concentration, term); the
    // per-source window is bounded by the vocabulary.
    "q163_source_terms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("source"),
        explode(T.tokens(lower(col("text")))).as("term"))
      val bySrc = toks.groupBy("source", "term").agg(count(lit(1)).as("n_src"))
      val corpus = toks.groupBy("term").agg(count(lit(1)).as("n_corpus"))
      val scored = bySrc.join(broadcast(corpus), "term")
        .where(col("n_src") >= 5L)
        .withColumn("score_bp", expr("(n_src * 10000) div n_corpus"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("score_bp").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("source", "term", "n_src", "n_corpus", "score_bp", "rank")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q53_rag_retrieve" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
        |s AS (SELECT qid, nid,
        |  list_sum(list_transform(list_zip(qv, cv), p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS dp,
        |  sqrt(list_sum(list_transform(list_zip(qv, qv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS na,
        |  sqrt(list_sum(list_transform(list_zip(cv, cv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS nb
        | FROM c CROSS JOIN q WHERE qid <> nid),
        |r AS (SELECT qid, nid,
        |  floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END) * 10000 + 0.5) / 10000 AS sim FROM s),
        |w AS (SELECT qid, nid, sim,
        |  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM r)
        |SELECT w.qid AS query_id, w.rk AS rank, w.nid AS neighbor_id, w.sim, d.text
        |FROM w JOIN documents d ON d.doc_id = w.nid
        |WHERE w.rk <= 3""".stripMargin,


    // BM25: ln / double arithmetic written in the exact same op order as
    // the Spark expression (idf and tf' are IEEE-bit-identical); score
    // rounded half4 before the ORDER BY so the top-20 total order matches.
    "q65_bm25" ->
      s"""WITH tok AS (SELECT doc_id,
         |  CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         |hits AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM hits
         |  WHERE term IN ('spark', 'window', 'hash') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term)
         |SELECT p.doc_id,
         | floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |   * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))))
         |   * 10000 + 0.5) / 10000 AS bm25
         |FROM postings p JOIN dfreq USING (term) JOIN lens USING (doc_id)
         | CROSS JOIN stats
         |GROUP BY p.doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,


    // The q65 chain cut to 12 -> pairwise token-Jaccard bp over the
    // candidates -> the greedy MMR selection UNROLLED to its 4 picks
    // (p1..p4), each step re-deriving maxsim against the picked set.
    "q179_mmr_rerank" ->
      s"""WITH tok AS (SELECT doc_id,
         |  CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         |hits AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM hits
         |  WHERE term IN ('spark', 'window', 'hash') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |sc AS (SELECT p.doc_id,
         |  floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))))
         |    * 10000 + 0.5) / 10000 AS bm25
         | FROM postings p JOIN dfreq USING (term) JOIN lens USING (doc_id)
         |  CROSS JOIN stats
         | GROUP BY p.doc_id ORDER BY bm25 DESC, doc_id LIMIT 12),
         |cand AS (SELECT doc_id, CAST(floor(bm25 * 10000 + 0.5) AS BIGINT) AS rel_bp
         | FROM sc),
         |ctr AS (SELECT doc_id, unnest(toks) AS tk FROM tok
         | WHERE doc_id IN (SELECT doc_id FROM cand)),
         |ctok AS (SELECT DISTINCT doc_id, tk FROM ctr),
         |szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ctok GROUP BY 1),
         |pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(count(*) AS BIGINT) AS inter
         | FROM ctok a JOIN ctok b ON b.tk = a.tk AND b.doc_id <> a.doc_id GROUP BY 1, 2),
         |simbp AS (SELECT ia, ib, (inter * 10000) // (sa.n + sb.n - inter) AS s
         | FROM pr JOIN szs sa ON sa.doc_id = pr.ia JOIN szs sb ON sb.doc_id = pr.ib),
         |p1 AS (SELECT doc_id, rel_bp FROM cand ORDER BY rel_bp DESC, doc_id LIMIT 1),
         |pk1 AS (SELECT doc_id FROM p1),
         |ms2 AS (SELECT s.ia AS doc_id, max(s.s) AS ms FROM simbp s
         | JOIN pk1 ON pk1.doc_id = s.ib GROUP BY 1),
         |r2 AS (SELECT c.doc_id, c.rel_bp, coalesce(m.ms, 0) AS ms
         | FROM cand c LEFT JOIN ms2 m ON m.doc_id = c.doc_id
         | WHERE c.doc_id NOT IN (SELECT doc_id FROM pk1)),
         |p2 AS (SELECT doc_id, rel_bp, ms FROM r2
         | ORDER BY rel_bp - ms DESC, doc_id LIMIT 1),
         |pk2 AS (SELECT doc_id FROM pk1 UNION ALL SELECT doc_id FROM p2),
         |ms3 AS (SELECT s.ia AS doc_id, max(s.s) AS ms FROM simbp s
         | JOIN pk2 ON pk2.doc_id = s.ib GROUP BY 1),
         |r3 AS (SELECT c.doc_id, c.rel_bp, coalesce(m.ms, 0) AS ms
         | FROM cand c LEFT JOIN ms3 m ON m.doc_id = c.doc_id
         | WHERE c.doc_id NOT IN (SELECT doc_id FROM pk2)),
         |p3 AS (SELECT doc_id, rel_bp, ms FROM r3
         | ORDER BY rel_bp - ms DESC, doc_id LIMIT 1),
         |pk3 AS (SELECT doc_id FROM pk2 UNION ALL SELECT doc_id FROM p3),
         |ms4 AS (SELECT s.ia AS doc_id, max(s.s) AS ms FROM simbp s
         | JOIN pk3 ON pk3.doc_id = s.ib GROUP BY 1),
         |r4 AS (SELECT c.doc_id, c.rel_bp, coalesce(m.ms, 0) AS ms
         | FROM cand c LEFT JOIN ms4 m ON m.doc_id = c.doc_id
         | WHERE c.doc_id NOT IN (SELECT doc_id FROM pk3)),
         |p4 AS (SELECT doc_id, rel_bp, ms FROM r4
         | ORDER BY rel_bp - ms DESC, doc_id LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS pick_rank, doc_id, rel_bp,
         | CAST(0 AS BIGINT) AS maxsim_bp, rel_bp AS mmr_bp FROM p1
         |UNION ALL SELECT 2, doc_id, rel_bp, ms, rel_bp - ms FROM p2
         |UNION ALL SELECT 3, doc_id, rel_bp, ms, rel_bp - ms FROM p3
         |UNION ALL SELECT 4, doc_id, rel_bp, ms, rel_bp - ms FROM p4""".stripMargin,


    // The q65 chain -> rank + running token sum -> budget-prefix cut.
    "q172_rag_context" ->
      s"""WITH tok AS (SELECT doc_id,
         |  CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         |hits AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM hits
         |  WHERE term IN ('spark', 'window', 'hash') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |top AS (SELECT p.doc_id,
         |  floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))))
         |    * 10000 + 0.5) / 10000 AS bm25
         | FROM postings p JOIN dfreq USING (term) JOIN lens USING (doc_id)
         |  CROSS JOIN stats
         | GROUP BY p.doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
         |ranked AS (SELECT t.doc_id, t.bm25, l.dl AS n_tokens,
         |  CAST(row_number() OVER (ORDER BY t.bm25 DESC, t.doc_id) AS BIGINT) AS rank,
         |  CAST(sum(l.dl) OVER (ORDER BY t.bm25 DESC, t.doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         | FROM top t JOIN lens l USING (doc_id))
         |SELECT doc_id, rank, n_tokens, cum_tokens, bm25
         |FROM ranked WHERE cum_tokens <= 600""".stripMargin,


    // q172's chain over the twin-doubled corpus, with the fingerprint
    // first-occurrence filter between the top-k and the budget cut.
    "q174_context_dedup" ->
      s"""WITH docs AS (SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 1000000000000 AS doc_id, text FROM documents),
         |tok AS (SELECT doc_id,
         |  CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM docs),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         |hits AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM hits
         |  WHERE term IN ('spark', 'window', 'hash') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |top AS (SELECT p.doc_id,
         |  floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))))
         |    * 10000 + 0.5) / 10000 AS bm25
         | FROM postings p JOIN dfreq USING (term) JOIN lens USING (doc_id)
         |  CROSS JOIN stats
         | GROUP BY p.doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
         |fps AS (SELECT doc_id, md5($cleanSql) AS fp FROM docs),
         |ded AS (SELECT t.doc_id, t.bm25, l.dl AS n_tokens,
         |  row_number() OVER (PARTITION BY f.fp ORDER BY t.bm25 DESC, t.doc_id) AS fprn
         | FROM top t JOIN lens l USING (doc_id) JOIN fps f USING (doc_id)),
         |ranked AS (SELECT doc_id, bm25, n_tokens,
         |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank,
         |  CAST(sum(n_tokens) OVER (ORDER BY bm25 DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         | FROM ded WHERE fprn = 1)
         |SELECT doc_id, rank, n_tokens, cum_tokens, bm25
         |FROM ranked WHERE cum_tokens <= 600""".stripMargin,


    "q70_term_topk" ->
      s"""SELECT term, count(*) AS n FROM (
         | SELECT unnest(CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END) AS term
         | FROM documents)
         |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,


    // Hybrid RRF: q65's BM25 top-20 and the single-query ANN top-20 are
    // re-derived, ranked (score desc, id — both scores pre-rounded half4
    // so the total order is engine-independent), full-outer fused with
    // 1/(60+rank) contributions, rounded half4.
    "q71_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id,
         |  CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         |hits AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM hits
         |  WHERE term IN ('spark', 'window', 'hash') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |bm AS (SELECT p.doc_id,
         |  floor(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))))
         |    * 10000 + 0.5) / 10000 AS bm25
         | FROM postings p JOIN dfreq USING (term) JOIN lens USING (doc_id)
         |  CROSS JOIN stats
         | GROUP BY p.doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
         |lexr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank FROM bm),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings WHERE vec_id <> 0),
         |s AS (SELECT nid,
         |  list_sum(list_transform(list_zip(qv, cv), p -> p[1]::DOUBLE * p[2]::DOUBLE)) AS dp,
         |  sqrt(list_sum(list_transform(list_zip(qv, qv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS na,
         |  sqrt(list_sum(list_transform(list_zip(cv, cv), p -> p[1]::DOUBLE * p[2]::DOUBLE))) AS nb
         | FROM c CROSS JOIN q),
         |r AS (SELECT nid,
         |  floor((CASE WHEN na * nb = 0 THEN 0.0 ELSE dp / (na * nb) END) * 10000 + 0.5) / 10000 AS sim
         | FROM s),
         |sem AS (SELECT nid AS doc_id, sim FROM r ORDER BY sim DESC, nid LIMIT 20),
         |semr AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY sim DESC, doc_id) AS sem_rank FROM sem),
         |f AS (SELECT coalesce(l.doc_id, s2.doc_id) AS doc_id,
         |  floor((coalesce(1.0 / (60 + l.lex_rank), 0.0)
         |       + coalesce(1.0 / (60 + s2.sem_rank), 0.0)) * 10000 + 0.5) / 10000 AS rrf
         | FROM lexr l FULL OUTER JOIN semr s2 ON l.doc_id = s2.doc_id)
         |SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,


    // Same lowercase tokenization; gaps rebuilt with lag() instead of
    // the list transform — an independent formulation of the same
    // encoding.
    "q129_inverted_index" ->
      s"""WITH t AS (SELECT doc_id AS id,
         |  CASE WHEN lower($cleanSql) = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |tok AS (SELECT DISTINCT id, unnest(toks) AS term FROM t),
         |w AS (SELECT term, id,
         |  id - coalesce(lag(id) OVER (PARTITION BY term ORDER BY id), 0) AS gap
         | FROM tok)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         | string_agg(CAST(gap AS VARCHAR), ',' ORDER BY id) AS gaps_csv
         |FROM w GROUP BY term""".stripMargin,


    // Direct build over the FULL corpus — hash equality with the
    // Spark-side shard merge certifies merge == direct.
    "q137_index_merge" ->
      s"""WITH t AS (SELECT doc_id AS id,
         |  CASE WHEN lower($cleanSql) = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |tok AS (SELECT DISTINCT id, unnest(toks) AS term FROM t),
         |w AS (SELECT term, id,
         |  id - coalesce(lag(id) OVER (PARTITION BY term ORDER BY id), 0) AS gap
         | FROM tok)
         |SELECT term, CAST(count(*) AS BIGINT) AS df,
         | string_agg(CAST(gap AS VARCHAR), ',' ORDER BY id) AS gaps_csv
         |FROM w GROUP BY term""".stripMargin,


    // Parallel unnest aligns token and subscript; the offset anchoring
    // cancels the 0- vs 1-based position difference.
    "q147_phrase_search" ->
      s"""WITH t AS (SELECT doc_id AS id,
         |  CASE WHEN lower($cleanSql) = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |tok AS (SELECT id, unnest(toks) AS w,
         |  generate_subscripts(toks, 1) AS pos FROM t),
         |p0 AS (SELECT id, pos FROM tok WHERE w = 'table'),
         |p1 AS (SELECT id, pos - 1 AS pos FROM tok WHERE w = 'hash')
         |SELECT p0.id, CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM p0 JOIN p1 ON p1.id = p0.id AND p1.pos = p0.pos
         |GROUP BY 1""".stripMargin,


    "q163_source_terms" ->
      s"""WITH t AS (SELECT source,
         |  CASE WHEN lower($cleanSql) = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |tok AS (SELECT source, unnest(toks) AS term FROM t),
         |bs AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_src
         | FROM tok GROUP BY 1, 2),
         |co AS (SELECT term, CAST(count(*) AS BIGINT) AS n_corpus
         | FROM tok GROUP BY 1),
         |sc AS (SELECT bs.source, bs.term, bs.n_src, co.n_corpus,
         |  (bs.n_src * 10000) // co.n_corpus AS score_bp
         | FROM bs JOIN co USING (term) WHERE bs.n_src >= 5),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |  ORDER BY score_bp DESC, term) AS rank FROM sc)
         |SELECT source, term, n_src, n_corpus, score_bp,
         | CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 3""".stripMargin,
  )
}

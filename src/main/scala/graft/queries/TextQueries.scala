package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis and tokenization: quality scores, lang-ID, BPE, packing, chunking, redaction, boilerplate, token rarity, bigram LM.
  *
  * Contract queries: q14_token_counts, q15_quality_score, q16_lang_id, q62_pack_budget, q68_redact, q72_bpe_tokens, q74_pack_bpe, q77_repetition, q83_boilerplate, q85_token_rarity, q87_chunking, q100_bigram_lm, q160_lang_confusion, q164_pack_efficiency, q183_data_card, q188_nfc_normalize, q203_tokenizer_fertility, q204_collocations, q209_vocab_chao1, q210_feature_hash, q218_distinct_n, q219_merge_usage, q222_stupid_backoff, q223_token_dropout, q227_tv_divergence, q228_vocab_gini, q278_frequent_pairs.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting (whitespace + BPE-ish).
    "q14_token_counts" -> ((s, d) =>
      TextAnalysisOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")),


    // Unicode NFC normalization — the pre-dedup canonicalization:
    // every 13th doc gets a PLANTED decomposed sequence ("cafe" + a
    // combining acute, byte-different from composed "café"); the
    // operator must compose it and flag the change, leaving pure-ASCII
    // docs untouched. DuckDB's nfc_normalize is the independent UAX#15
    // implementation on the identical planted input.
    "q188_nfc_normalize" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("id"),
        when(pmod(did, lit(13)) === 0,
          concat(col("text"), lit(" cafe" + "\u0301"))).otherwise(col("text")).as("text"))
      TextAnalysisOps.nfcNormalize(corpus, "id", "text")
        .select(col("id").as("doc_id"), col("norm_text"), col("changed"))
    }),


    // Per-source corpus DATASHEET (the "data card" a dataset release
    // ships): docs, token mass, exact-dup rate, language mix, quality
    // pass rate — one row per source, every cell integer/bp so the
    // whole card hash-checks. Twins of every 9th doc are PLANTED so the
    // dup-rate cell is non-vacuous.
    "q183_data_card" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      val corpus = base.unionByName(base.where(pmod(did, lit(9)) === 0)
        .select((did + 1000000000000L).as("doc_id"), col("source"), col("text")))
      // Round-18: tokenCounts + qualityScore + languageId are all
      // projections of the ONE textStats kernel — docProfile computes
      // the three in a single tokenize pass (ws_tokens IS docProfile's
      // n_tokens; quality/lang_pred identical by construction), where
      // the round-17 shape ran the kernel three times and chained four
      // broadcast joins over the same corpus (guide §1.2: remove
      // passes first). One kernel pass + one join, same per-doc values.
      val prof = TextAnalysisOps.docProfile(corpus, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens").as("ws_tokens"),
          col("quality"), col("lang_pred"))
      corpus.select(col("doc_id"), col("source"),
          T.fingerprint(col("text")).as("fp"))
        .join(prof, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("n_tokens"),
          countDistinct("fp").as("n_distinct"),
          sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("n_quality"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("((n_docs - n_distinct) * 10000) div n_docs").as("dup_bp"),
          expr("(n_en * 10000) div n_docs").as("en_bp"),
          expr("(n_quality * 10000) div n_docs").as("quality_pass_bp"))
    }),


    // Quality scoring.
    "q15_quality_score" -> ((s, d) =>
      TextAnalysisOps.qualityScore(Tables.documents(s, d), "doc_id", "text")),


    // Language ID.
    "q16_lang_id" -> ((s, d) =>
      TextAnalysisOps.languageId(Tables.documents(s, d), "doc_id", "text")),


    // Token-budget sequence packing within deterministic shards.
    "q62_pack_budget" -> ((s, d) => {
      val toks = TextAnalysisOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("ws_tokens"))
      SampleOps.packByTokenBudget(toks, "doc_id", "ws_tokens",
        budget = 512L, nShards = 32)
    }),


    // PII scrub: deterministic synthetic PII injected from table columns
    // (identical expression on the oracle side), then the redaction chain
    // + per-category audit counts — a shuffle-free codegen'd scan.
    "q68_redact" -> ((s, d) => {
      val emailPart = when(pmod(did, lit(2)) === 0,
        concat(lit(" user"), sid, lit("@example.com"))).otherwise(lit(""))
      val phonePart = when(pmod(did, lit(3)) === 0,
        concat(lit(" call +1 555-010-"), lpad(sid, 4, "0"))).otherwise(lit(""))
      val ssnPart = when(pmod(did, lit(5)) === 0,
        lit(" id 987-65-4321")).otherwise(lit(""))
      val pii = concat(col("text"), emailPart, phonePart, ssnPart)
      Tables.documents(s, d).select(
        did.as("doc_id") +: T.redactPii(pii).as("redacted") +: T.piiCounts(pii): _*)
    }),


    // REAL BPE token counts (iterative best-pair merge over the toy
    // vocab) — the counts training pipelines pack by. Oracle re-derives
    // the encode loop as a recursive CTE over DISTINCT words.
    "q72_bpe_tokens" -> ((s, d) =>
      TextAnalysisOps.bpeTokenCounts(Tables.documents(s, d), "doc_id", "text")),


    // Tokenizer-fertility report: per source, whitespace words vs real
    // BPE tokens vs characters — fertility (BPE per 10⁴ words) and
    // compression (chars per 100 BPE tokens) are THE tokenizer-fit
    // numbers a corpus card reports (a source with outlier fertility is
    // either non-target-language or junk). One kernel pass per doc, one
    // partial-aggregated source rollup; all-integer ratios.
    "q203_tokenizer_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = TextAnalysisOps.bpeTokenCounts(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("n_chars0")), "doc_id")
      counts.groupBy("source").agg(
          sum(col("n_words").cast("long")).as("words"),
          sum("n_bpe_tokens").as("bpe_tokens"),
          sum("n_chars0").as("chars"))
        .select(col("source"), col("words"), col("bpe_tokens"), col("chars"),
          expr("(bpe_tokens * 10000) div words").as("fertility_bp"),
          expr("(chars * 100) div bpe_tokens").as("chars_per_bpe_e2"))
    }),


    // q62's packing on REAL BPE counts instead of whitespace words —
    // same shard/window shape, corrected weights.
    "q74_pack_bpe" -> ((s, d) =>
      SampleOps.packByTokenBudget(
        TextAnalysisOps.bpeTokenCounts(Tables.documents(s, d), "doc_id", "text")
          .select(col("doc_id"), col("n_bpe_tokens")),
        "doc_id", "n_bpe_tokens", budget = 512L, nShards = 32)),


    // Intra-doc repetition (Gopher-rule family): top-bigram and
    // duplicate-bigram fractions; the shuffle carries (id, gram) with
    // map-side partial counts, never document text.
    "q77_repetition" -> ((s, d) =>
      TextAnalysisOps.repetitionStats(Tables.documents(s, d), "doc_id", "text")),


    // CCNet-style boilerplate removal by line frequency: a per-source
    // footer line planted in EVERY document of the source is detected
    // and stripped; the per-document unique line survives. The original
    // text lines stay (no real line repeats across >=50% of a source).
    "q83_boilerplate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("source"),
        concat(col("text"), lit("\nFooter: "), col("source"),
          lit("\nLine "), col("doc_id").cast("string")).as("text"))
      CurationOps.stripBoilerplate(corpus, "doc_id", "source", "text")
    }),


    // Corpus-relative token rarity: every doc scored against the global
    // unigram distribution with all-integer counting (no LM, no
    // floating-accumulation hazard) — the CCNet-style quality signal
    // that needs corpus statistics, not just row-local features.
    "q85_token_rarity" -> ((s, d) =>
      TextAnalysisOps.tokenRarity(Tables.documents(s, d), "doc_id", "text")),


    // RAG chunking: fixed-size token windows (64) with overlap (16);
    // the tail-suppression rule keeps chunks that add new tokens only.
    "q87_chunking" -> ((s, d) =>
      TextAnalysisOps.chunkByTokens(Tables.documents(s, d), "doc_id", "text",
        chunkSize = 64, overlap = 16)),


    // Bigram-LM fluency scoring (the perplexity-filter slot): mean
    // in-corpus bigram probability per doc, add-one smoothed, integer-
    // quantized so the aggregate is order-independent and hash-exact.
    "q100_bigram_lm" -> ((s, d) =>
      TextAnalysisOps.bigramLmScore(Tables.documents(s, d), "doc_id", "text")),


    // Language-ID confusion matrix vs the GROUND-TRUTH lang column:
    // one row per (truth, prediction) pair — the model-eval artifact
    // behind the q16 classifier.
    "q160_lang_confusion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysisOps.languageId(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("correct", col("lang") === col("lang_pred"))
    }),


    // Packing-efficiency audit: per (shard, pack) doc and token counts
    // plus the over-budget flag — the utilization check on the q62/q157
    // packer (greedy offset packing intentionally lets the last doc of
    // a pack spill past the budget; this measures by how much).
    "q164_pack_efficiency" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"))
      SampleOps.packByTokenBudget(docs, "doc_id", "n_tokens",
          budget = 512L, nShards = 8)
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("pack_tokens"))
        .withColumn("over_budget", col("pack_tokens") > 512L)
    }),


    // Collocation mining (word2phrase/PMI-lift): corpus bigrams whose
    // integer lift N·c(ab)·10⁴/(c(a)·c(b)) clears 3× independence at
    // count ≥ 3. Every 17th doc PLANTS the rare pair "zxqa zzcolloc"
    // (each word occurs ONLY in the pair → lift ≈ N/c(ab), enormous),
    // so the high-lift band is provably non-empty while common-word
    // pairs ("of the") sit near lift 10⁴ and must NOT appear.
    "q204_collocations" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("id"),
        when(pmod(did, lit(17)) === 0,
          concat(col("text"), lit(" zxqa zzcolloc"))).otherwise(col("text")).as("text"))
      TextAnalysisOps.collocations(corpus, "text", minCount = 3L, minLiftE4 = 30000L)
    }),


    // APRIORI FREQUENT PAIRS (market-basket over token sets): which
    // tokens co-occur in >= minSupport DOCUMENTS (set semantics —
    // q204's collocations count adjacent OCCURRENCES; this counts
    // documents and ignores order/distance). The base corpus's shared
    // vocabulary co-occurs everywhere (its pairs are background), so
    // the fixture PLANTS residue structure: mb{id%8} x mc{id%12}
    // co-occur only when the residues align mod lcm(8,12)=24 — exactly
    // 24 of the 96 cross pairs exist at support n/24, the other 72
    // have both legs frequent (n/8, n/12 docs) but ZERO co-occurrence,
    // so the pair COUNT pass, not item pruning alone, must separate
    // them. minSupport = n/30+1 sits between n/24 and the noise floor.
    "q278_frequent_pairs" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(did.as("doc_id"),
        concat(col("text"),
          lit(" mb"), expr("CAST(doc_id % 8 AS STRING)"),
          lit(" mc"), expr("CAST(doc_id % 12 AS STRING)")).as("text"))
      val n = Tables.documents(s, d).count()
      ItemsetOps.frequentPairs(corpus, "doc_id", "text",
        minSupport = n / 30 + 1)
    }),


    // Per-source Chao1 vocabulary-richness estimate: observed distinct
    // tokens D plus the f1²/2f2 unseen-tail correction — the "is this
    // source mined out?" cell of a corpus datasheet. All-integer
    // (capture-recapture arithmetic in div), so the card hash-checks.
    // The synthetic corpus's shared vocab has almost no singleton tail,
    // so each doc PLANTS one unique token (uniqN → f1) and one id-pair
    // token (pairN shared by ids 40k+s and 40k+20+s — the same source
    // under the src{id%20} layout, so it counts twice there → f2) — the correction term is provably non-zero.
    "q209_vocab_chao1" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(col("source"),
        concat(col("text"), lit(" uniq"), sid, lit(" pair"),
          expr("CAST(doc_id div 40 AS STRING)")).as("text"))
      TextAnalysisOps.vocabRichness(corpus, "source", "text")
    }),


    // The hashing trick end-to-end: tokens fold into 256 signed buckets
    // (portable md5 bucket + parity sign), then a FIXED hashed linear
    // model scores each doc straight off the buckets — w(b) = b%21 − 10,
    // the deterministic stand-in for trained weights. No vocabulary is
    // ever built or broadcast; featurize + score is one pass + one
    // (id, bucket) shuffle at any corpus size.
    "q210_feature_hash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val perDoc = TextAnalysisOps.featureHash(docs, "doc_id", "text", nBuckets = 256)
        .groupBy("id").agg(
          count(lit(1)).as("n_buckets"),
          sum(abs(col("f"))).as("l1"),
          sum(expr("f * (bucket % 21 - 10)")).as("score"))
      docs.select(did.as("id")).join(perDoc, Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
          coalesce(col("l1"), lit(0L)).as("l1"),
          coalesce(col("score"), lit(0L)).as("score"))
    }),


    // distinct-1/distinct-2 diversity per source — the mode-collapse
    // check run on generated/synthetic corpora (low distinct-2 = the
    // generator loops the same phrases): unigram and bigram instance
    // vs distinct counts, ratios in basis points. The countDistinct
    // shuffle carries (source, gram) partials only.
    "q218_distinct_n" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val rows = Tables.documents(s, d)
        .select(col("source").cast("string"), col("text").cast("string"))
        .as[(String, String)]
      val uni = rows.mapPartitions(_.flatMap { case (src, raw) =>
        Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          .iterator.map(w => (src, w))
      }).toDF("source", "w")
      val bi = rows.mapPartitions(_.flatMap { case (src, raw) =>
        val ts = Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
        if (ts.length < 2) Iterator.empty
        else (0 until ts.length - 1).iterator.map(i => (src, ts(i) + " " + ts(i + 1)))
      }).toDF("source", "g")
      val u = uni.groupBy("source").agg(count(lit(1)).as("n_uni"),
        countDistinct("w").as("d_uni"))
      val b = bi.groupBy("source").agg(count(lit(1)).as("n_bi"),
        countDistinct("g").as("d_bi"))
      u.join(b, "source")
        .select(col("source"), col("n_uni"), col("d_uni"), col("n_bi"), col("d_bi"),
          expr("(d_uni * 10000) div n_uni").as("distinct1_bp"),
          expr("(d_bi * 10000) div n_bi").as("distinct2_bp"))
    }),


    // BPE merge-usage report — tokenizer introspection: every merge
    // rule's applied-round counts over distinct words and weighted by
    // word frequency. Dead merges (never fire on this corpus) simply
    // don't appear; the frequency-weighted ranking is the vocab-pruning
    // order. The oracle re-derives every encode round from the q72
    // recursive CTE's intermediate states.
    "q219_merge_usage" -> ((s, d) =>
      TextAnalysisOps.bpeMergeUsage(Tables.documents(s, d), "doc_id", "text")),


    // Stupid Backoff perplexity-filter scoring: count tables from the
    // 80% train split (id%5 != 0), scores for the held-out 20% — novel
    // continuations hit the 0.4-penalty unigram backoff instead of
    // q100's uniform add-one smear. The synthetic corpus repeats a tiny
    // shared vocabulary (every eval bigram occurs in train), so every
    // 15th doc — an eval doc by construction — PLANTS an unseen
    // "qqnovelN qqtail" continuation, making the backoff path provably
    // taken (c_b = 0 and the 0.4·c(w2)/N price both exercised).
    "q222_stupid_backoff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(did, col("source"),
        when(pmod(did, lit(15)) === 0,
          concat(col("text"), lit(" qqnovel"), sid, lit(" qqtail")))
          .otherwise(col("text")).as("text"))
      TextAnalysisOps.stupidBackoffScore(
          docs.where(pmod(did, lit(5)) =!= 0),
          docs.where(pmod(did, lit(5)) === 0), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("backoff_hits"), col("mean_e6"))
    }),


    // Deterministic token-dropout augmentation: ~10% of positions drop
    // by portable (id, position) hash — the denoising augmentation
    // regenerated identically every epoch/engine instead of stored.
    "q223_token_dropout" -> ((s, d) =>
      TextAnalysisOps.tokenDropout(Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("aug_text"),
          col("n_tokens"), col("n_dropped"))),


    // Per-source total-variation distance from the corpus unigram mix —
    // the domain-shift cell of a training datasheet. TV instead of KL
    // on purpose: every term is exact integer arithmetic over a common
    // denominator (log is not correctly-rounded IEEE), so the basis-
    // point result hash-checks cross-engine. Absent-word mass folds in
    // closed form; only EXISTING (source, word) pairs materialize.
    "q227_tv_divergence" -> ((s, d) =>
      TextAnalysisOps.tvDivergence(Tables.documents(s, d), "source", "text")),


    // Vocabulary-concentration Gini per source: rank words by count
    // ascending, Gini = (2·Σ i·c_i − (n+1)·Σc) / (n·Σc). Rank ties
    // (equal counts) can break arbitrarily — Σ i·c_i over a block of
    // equal counts is invariant to their internal order — so the
    // cross-engine hash check doesn't ride on string collation. High
    // Gini = a few tokens dominate (templated/boilerplate source); low
    // = flat vocabulary. Window shuffles (source, word, count) rows
    // only — vocab-sized, never corpus-sized.
    "q228_vocab_gini" -> ((s, d) => {
      val spark = s
      import spark.implicits._
      val wc = Tables.documents(s, d)
        .select(col("source").cast("string"), col("text").cast("string"))
        .as[(String, String)]
        .mapPartitions(_.flatMap { case (src, raw) =>
          Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
            .iterator.map(w => (src, w))
        }).toDF("source", "w")
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("c"), col("w"))
      wc.withColumn("i", row_number().over(win).cast("long"))
        .groupBy("source").agg(
          count(lit(1)).as("n_vocab"),
          sum("c").as("n_tokens"),
          sum(col("i") * col("c")).as("sic"))
        .select(col("source"), col("n_vocab"), col("n_tokens"),
          expr("""CAST(floor(
            |  (2.0 * CAST(sic AS DOUBLE)
            |   - (CAST(n_vocab AS DOUBLE) + 1.0) * CAST(n_tokens AS DOUBLE))
            |  / (CAST(n_vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
            |  * 10000.0 + 0.5) AS BIGINT)""".stripMargin).as("gini_e4"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q14_token_counts" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)
         |   AS bpeish_tokens
         |FROM documents""".stripMargin,


    // The identical decomposed plant (chr(769) = U+0301), DuckDB's own
    // UAX#15 nfc_normalize as the independent implementation.
    "q188_nfc_normalize" ->
      """WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |  THEN text || ' cafe' || chr(769) ELSE text END AS text
        | FROM documents)
        |SELECT doc_id, nfc_normalize(text) AS norm_text,
        | nfc_normalize(text) <> text AS changed
        |FROM corpus""".stripMargin,


    // Every cell re-derived: q15's quality chain + q16's lang chain +
    // q13's fingerprint over the twinned corpus, folded per source.
    "q183_data_card" ->
      s"""WITH corpus AS (SELECT doc_id, source, text FROM documents
         | UNION ALL SELECT doc_id + 1000000000000, source, text
         |  FROM documents WHERE doc_id % 9 = 0),
         |${qualityCtesFrom("corpus")},
         |q AS (SELECT doc_id, $qualityExprSql AS quality FROM m),
         |ls AS (SELECT doc_id,
         | CAST(len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS DOUBLE) AS en,
         | CAST(len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS DOUBLE) AS es,
         | CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) AS fr,
         | CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) AS de,
         | CAST(len(list_filter(toks, x -> x IN ('de','shi','le','zai'))) AS DOUBLE) AS zh
         | FROM t),
         |lp AS (SELECT doc_id, CASE WHEN greatest(en,es,fr,de,zh) <= 0 THEN 'und'
         | WHEN en = greatest(en,es,fr,de,zh) THEN 'en'
         | WHEN es = greatest(en,es,fr,de,zh) THEN 'es'
         | WHEN fr = greatest(en,es,fr,de,zh) THEN 'fr'
         | WHEN de = greatest(en,es,fr,de,zh) THEN 'de'
         | ELSE 'zh' END AS lang_pred FROM ls),
         |fp AS (SELECT doc_id, md5(lower($cleanSql)) AS f FROM corpus),
         |tokc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok FROM t),
         |j AS (SELECT c.source, c.doc_id, tokc.tok, q.quality, lp.lang_pred, fp.f
         | FROM corpus c JOIN tokc USING (doc_id) JOIN q USING (doc_id)
         |  JOIN lp USING (doc_id) JOIN fp USING (doc_id)),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT f) AS BIGINT) AS n_distinct,
         |  CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
         | FROM j GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         | ((n_docs - n_distinct) * 10000) // n_docs AS dup_bp,
         | (n_en * 10000) // n_docs AS en_bp,
         | (n_quality * 10000) // n_docs AS quality_pass_bp
         |FROM a""".stripMargin,


    "q15_quality_score" ->
      s"""WITH $qualityCtes
         |SELECT doc_id, n_chars, n_tokens,
         | floor(mtl * 10000 + 0.5) / 10000 AS mean_token_len,
         | floor(swr * 10000 + 0.5) / 10000 AS stopword_ratio,
         | floor(pr * 10000 + 0.5) / 10000 AS punct_ratio,
         | $qualityExprSql AS quality
         |FROM m""".stripMargin,


    "q16_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         | CAST(len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS DOUBLE) AS en,
         | CAST(len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS DOUBLE) AS es,
         | CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) AS fr,
         | CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) AS de,
         | CAST(len(list_filter(toks, x -> x IN ('de','shi','le','zai'))) AS DOUBLE) AS zh
         | FROM t)
         |SELECT doc_id, CASE WHEN greatest(en,es,fr,de,zh) <= 0 THEN 'und'
         | WHEN en = greatest(en,es,fr,de,zh) THEN 'en'
         | WHEN es = greatest(en,es,fr,de,zh) THEN 'es'
         | WHEN fr = greatest(en,es,fr,de,zh) THEN 'fr'
         | WHEN de = greatest(en,es,fr,de,zh) THEN 'de'
         | ELSE 'zh' END AS lang_pred
         |FROM s""".stripMargin,


    // Same shard/window/floor arithmetic as SampleOps.packByTokenBudget
    // (ws-token counts per q14's tokenizer).
    "q62_pack_budget" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, doc_id % 32 AS shard,
         |  CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
         |o AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS so
         | FROM n)
         |SELECT doc_id, shard, n_tokens,
         | CAST(so AS BIGINT) AS start_offset,
         | CAST(floor(so / 512.0) AS BIGINT) AS pack_id
         |FROM o""".stripMargin,


    "q68_redact" ->
      """WITH p AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0
        |   THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0
        |   THEN ' call +1 555-010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN ' id 987-65-4321' ELSE '' END AS pii
        | FROM documents)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(pii,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\+\d{1,2} \d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |   '\d{3}-\d{2}-\d{4}', '<SSN>', 'g') AS redacted,
        | CAST(len(regexp_extract_all(pii,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(pii,
        |   '\+\d{1,2} \d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(
        |   regexp_replace(pii, '\+\d{1,2} \d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |   '\d{3}-\d{2}-\d{4}')) AS BIGINT) AS n_ssns
        |FROM p""".stripMargin,


    "q72_bpe_tokens" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT d.doc_id,
         | coalesce(c.n_words, 0) AS n_words,
         | CAST(coalesce(c.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents d LEFT JOIN cnt c USING (doc_id)""".stripMargin,


    // q72's per-doc BPE chain rolled up per source with the same
    // integer ratio arithmetic as the engine.
    "q203_tokenizer_fertility" ->
      s"""WITH RECURSIVE $bpeCtes,
         |j AS (SELECT d.doc_id, d.source,
         |  CAST(length(d.text) AS BIGINT) AS n_chars0,
         |  CAST(coalesce(c.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(c.n_bpe, 0) AS BIGINT) AS n_bpe
         | FROM documents d LEFT JOIN cnt c USING (doc_id))
         |SELECT source,
         | CAST(sum(n_words) AS BIGINT) AS words,
         | CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
         | CAST(sum(n_chars0) AS BIGINT) AS chars,
         | (CAST(sum(n_bpe) AS BIGINT) * 10000) // CAST(sum(n_words) AS BIGINT) AS fertility_bp,
         | (CAST(sum(n_chars0) AS BIGINT) * 100) // CAST(sum(n_bpe) AS BIGINT) AS chars_per_bpe_e2
         |FROM j GROUP BY source""".stripMargin,


    "q74_pack_bpe" ->
      s"""WITH RECURSIVE $bpeCtes,
         |n AS (SELECT d.doc_id, d.doc_id % 32 AS shard,
         |  CAST(coalesce(c.n_bpe, 0) AS BIGINT) AS n_tokens
         | FROM documents d LEFT JOIN cnt c USING (doc_id)),
         |o AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS so
         | FROM n)
         |SELECT doc_id, shard, n_tokens,
         | CAST(so AS BIGINT) AS start_offset,
         | CAST(floor(so / 512.0) AS BIGINT) AS pack_id
         |FROM o""".stripMargin,


    "q77_repetition" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN $cleanSql = '' THEN CAST([] AS VARCHAR[])
         |   ELSE string_split(lower($cleanSql), ' ') END AS toks
         | FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END) AS gram
         | FROM t),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
         |p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |  count(*) AS n_distinct, max(c) AS max_c FROM c GROUP BY doc_id)
         |SELECT d.doc_id,
         | coalesce(p.n_grams, 0) AS n_bigrams,
         | floor((CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0
         |   ELSE p.max_c::DOUBLE / p.n_grams END) * 10000 + 0.5) / 10000 AS top_bigram_frac,
         | floor((CASE WHEN coalesce(p.n_grams, 0) = 0 THEN 0.0
         |   ELSE (p.n_grams - p.n_distinct)::DOUBLE / p.n_grams END) * 10000 + 0.5) / 10000 AS dup_bigram_frac
         |FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin,


    // Line-frequency boilerplate: lines distinct per doc, counted per
    // (source, line); lines in >= 50% (and >= 2) of a source's docs are
    // stripped via an order-preserving list_filter.
    "q83_boilerplate" ->
      """WITH corpus AS (SELECT doc_id, source,
        |  text || chr(10) || 'Footer: ' || source || chr(10) || 'Line ' || CAST(doc_id AS VARCHAR) AS text
        | FROM documents),
        |t AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls FROM corpus),
        |ln AS (SELECT source, unnest(list_distinct(ls)) AS line FROM t),
        |dc AS (SELECT source, count(*) AS n_docs FROM corpus GROUP BY source),
        |freq AS (SELECT source, line, count(*) AS n FROM ln GROUP BY source, line),
        |bl AS (SELECT f.source, list(f.line) AS bl
        | FROM freq f JOIN dc ON dc.source = f.source
        | WHERE f.n >= 2 AND f.n >= dc.n_docs * 0.5 GROUP BY f.source),
        |j AS (SELECT t.doc_id, t.ls, coalesce(bl.bl, CAST([] AS VARCHAR[])) AS bl
        | FROM t LEFT JOIN bl ON bl.source = t.source),
        |k AS (SELECT doc_id, ls, list_filter(ls, x -> NOT list_contains(bl, x)) AS kept FROM j)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        | CAST(len(ls) - len(kept) AS INTEGER) AS removed_lines FROM k""".stripMargin,


    // Unigram counts over the whole corpus, rejoined to each doc's token
    // stream; DuckDB sums of INTEGER are HUGEINT, so cast back to BIGINT.
    "q85_token_rarity" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
         |pd AS (SELECT tok.doc_id,
         |  count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN c.cnt <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS rare_tokens,
         |  CAST(sum(c.cnt) AS BIGINT) AS sum_counts
         | FROM tok JOIN counts c ON c.tok = tok.tok GROUP BY tok.doc_id)
         |SELECT d.doc_id AS id,
         | coalesce(pd.n_tokens, 0) AS n_tokens,
         | coalesce(pd.rare_tokens, 0) AS rare_tokens,
         | CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN 0.0
         |  ELSE floor((pd.rare_tokens::DOUBLE / pd.n_tokens) * 10000 + 0.5) / 10000 END AS rare_frac,
         | CASE WHEN coalesce(pd.n_tokens, 0) = 0 THEN 0.0
         |  ELSE floor((pd.sum_counts::DOUBLE / pd.n_tokens) * 10000 + 0.5) / 10000 END AS mean_count
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,


    // Token-window chunking: stepped starts via generate_series (stop-
    // inclusive both engines), tail suppression, 1-based inclusive list
    // slices on both sides.
    "q87_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |nz AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
         |st0 AS (SELECT doc_id, ts, n,
         |  unnest(generate_series(0, CAST(n - 1 AS BIGINT), 48)) AS s FROM nz),
         |st AS (SELECT * FROM st0 WHERE s = 0 OR s + 16 < n)
         |SELECT doc_id AS id, s // 48 AS chunk_id,
         | array_to_string(ts[s + 1 : s + 64], ' ') AS chunk_text,
         | CAST(least(n - s, 64) AS INTEGER) AS n_tokens
         |FROM st""".stripMargin,


    // Division-then-multiply order mirrors the Spark expression exactly;
    // p9 quantization keeps every aggregate an integer sum. range() is
    // stop-exclusive, lists are 1-indexed, and the unnest lives in its
    // own CTE (DuckDB can't combine unnest with formulas over it).
    "q100_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |idx AS (SELECT doc_id, toks, unnest(range(2, len(toks) + 1)) AS i FROM t),
         |bg AS (SELECT doc_id, toks[i-1] AS prev, toks[i] AS tok FROM idx),
         |cbg AS (SELECT prev, tok, count(*) AS cbg FROM bg GROUP BY 1, 2),
         |cprev AS (SELECT prev, count(*) AS cprev FROM bg GROUP BY 1),
         |u AS (SELECT unnest(toks) AS tok FROM t),
         |v AS (SELECT count(DISTINCT tok) AS v FROM u),
         |scored AS (SELECT bg.doc_id,
         |  CAST(floor((cbg.cbg + 1)::DOUBLE / (cprev.cprev + v.v) * 1000000000 + 0.5) AS BIGINT) AS p9
         | FROM bg JOIN cbg ON cbg.prev = bg.prev AND cbg.tok = bg.tok
         | JOIN cprev ON cprev.prev = bg.prev CROSS JOIN v),
         |pd AS (SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(p9) AS BIGINT) AS sum_p9 FROM scored GROUP BY 1)
         |SELECT d.doc_id AS id,
         | coalesce(pd.n_bigrams, 0) AS n_bigrams,
         | coalesce(pd.sum_p9, 0) AS sum_p9,
         | CASE WHEN coalesce(pd.n_bigrams, 0) = 0 THEN 0.0
         |  ELSE floor((pd.sum_p9::DOUBLE / pd.n_bigrams) * 100 + 0.5) / 100 END AS mean_p9
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,


    // The q16 prediction chain joined to the truth column.
    "q160_lang_confusion" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         | CAST(len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS DOUBLE) AS en,
         | CAST(len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS DOUBLE) AS es,
         | CAST(len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS DOUBLE) AS fr,
         | CAST(len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS DOUBLE) AS de,
         | CAST(len(list_filter(toks, x -> x IN ('de','shi','le','zai'))) AS DOUBLE) AS zh
         | FROM t),
         |p AS (SELECT doc_id, CASE WHEN greatest(en,es,fr,de,zh) <= 0 THEN 'und'
         | WHEN en = greatest(en,es,fr,de,zh) THEN 'en'
         | WHEN es = greatest(en,es,fr,de,zh) THEN 'es'
         | WHEN fr = greatest(en,es,fr,de,zh) THEN 'fr'
         | WHEN de = greatest(en,es,fr,de,zh) THEN 'de'
         | ELSE 'zh' END AS lang_pred FROM s)
         |SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n,
         | d.lang = p.lang_pred AS correct
         |FROM documents d JOIN p USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,


    // The q62 chain grouped to packs.
    "q164_pack_efficiency" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |n AS (SELECT doc_id, doc_id % 8 AS shard,
         |  CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
         |o AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS so
         | FROM n)
         |SELECT CAST(shard AS BIGINT) AS shard,
         | CAST(floor(so / 512.0) AS BIGINT) AS pack_id,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         | CAST(sum(n_tokens) AS BIGINT) > 512 AS over_budget
         |FROM o GROUP BY 1, 2""".stripMargin,


    // Same planted pair, same integer lift; the bigram stream is the
    // q100-style unnest-range chain, the dictionaries re-derived from
    // the unigram stream. The c_ab >= 3 filter and the lift threshold
    // are applied on identical integer expressions.
    "q204_collocations" ->
      s"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
         |  THEN text || ' zxqa zzcolloc' ELSE text END AS text FROM documents),
         |t AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |uni AS (SELECT unnest(toks) AS w FROM t),
         |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
         |idx AS (SELECT doc_id, toks, unnest(range(2, len(toks) + 1)) AS i FROM t),
         |bg AS (SELECT toks[i-1] AS w1, toks[i] AS w2 FROM idx),
         |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2)
         |SELECT b.w1, b.w2, b.c_ab, a.c AS c_a, z.c AS c_b,
         | (n.n_total * b.c_ab * 10000) // (a.c * z.c) AS lift_e4
         |FROM bc b JOIN uc a ON a.w = b.w1 JOIN uc z ON z.w = b.w2 CROSS JOIN n
         |WHERE b.c_ab >= 3
         | AND (n.n_total * b.c_ab * 10000) // (a.c * z.c) >= 30000""".stripMargin,


    // The same Apriori chain in closed form: per-doc DISTINCT tokens,
    // item counts filtered at minSupport, pairs generated among
    // frequent items only (binary order), pair counts filtered again.
    "q278_frequent_pairs" ->
      s"""WITH corpus AS (SELECT doc_id,
         |  text || ' mb' || CAST(doc_id % 8 AS VARCHAR)
         |       || ' mc' || CAST(doc_id % 12 AS VARCHAR) AS text
         | FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) // 30 + 1 AS BIGINT) AS ms FROM documents),
         |t AS (SELECT doc_id, list_distinct($toksSql) AS toks FROM corpus),
         |i AS (SELECT doc_id, unnest(toks) AS t FROM t),
         |ic AS (SELECT t, CAST(count(*) AS BIGINT) AS item_docs FROM i
         |  GROUP BY t HAVING count(*) >= (SELECT ms FROM n)),
         |ki AS (SELECT i.doc_id, i.t FROM i JOIN ic ON ic.t = i.t),
         |pc AS (SELECT a.t AS t1, b.t AS t2,
         |  CAST(count(*) AS BIGINT) AS pair_docs
         | FROM ki a JOIN ki b ON a.doc_id = b.doc_id AND a.t < b.t
         | GROUP BY 1, 2 HAVING count(*) >= (SELECT ms FROM n))
         |SELECT pc.t1, pc.t2, pc.pair_docs,
         | a.item_docs AS t1_docs, b.item_docs AS t2_docs,
         | (n.n_docs * pc.pair_docs * 10000) // (a.item_docs * b.item_docs) AS lift_e4
         |FROM pc JOIN ic a ON a.t = pc.t1 JOIN ic b ON b.t = pc.t2
         |CROSS JOIN n""".stripMargin,


    // Count-of-counts per source; chao1 = D + f1(f1-1) // (2(f2+1)),
    // the bias-corrected form (defined at f2 = 0) on both sides.
    "q209_vocab_chao1" ->
      s"""WITH corpus AS (SELECT source,
         |  text || ' uniq' || CAST(doc_id AS VARCHAR) || ' pair' || CAST(doc_id // 40 AS VARCHAR) AS text
         | FROM documents),
         |t AS (SELECT source, $toksSql AS toks FROM corpus),
         |tok AS (SELECT source, unnest(toks) AS w FROM t),
         |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         | FROM tok GROUP BY source, w),
         |a AS (SELECT source,
         |  CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS d_vocab,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         | FROM wc GROUP BY source)
         |SELECT source, n_tokens, d_vocab, f1, f2,
         | d_vocab + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS chao1
         |FROM a""".stripMargin,


    // Same md5 bucket/sign arithmetic (h >= 0, so % == pmod), same
    // fixed bucket weights, zero-row docs kept by the left join.
    "q210_feature_hash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
         |f AS (SELECT doc_id, h % 256 AS bucket,
         |  CAST(sum((h // 256) % 2 * 2 - 1) AS BIGINT) AS f FROM h GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(abs(f)) AS BIGINT) AS l1,
         |  CAST(sum(f * (bucket % 21 - 10)) AS BIGINT) AS score FROM f GROUP BY 1)
         |SELECT d.doc_id, coalesce(pd.n_buckets, 0) AS n_buckets,
         | coalesce(pd.l1, 0) AS l1, coalesce(pd.score, 0) AS score
         |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,


    // The q77-style adjacency bigrams grouped per source; distinct and
    // instance counts with integer bp ratios.
    "q218_distinct_n" ->
      s"""WITH t AS (SELECT source, doc_id, $toksSql AS toks FROM documents),
         |u AS (SELECT source, unnest(toks) AS w FROM t),
         |idx AS (SELECT source, doc_id, toks, unnest(range(2, len(toks) + 1)) AS i FROM t),
         |bg AS (SELECT source, toks[i-1] || ' ' || toks[i] AS g FROM idx),
         |ua AS (SELECT source, CAST(count(*) AS BIGINT) AS n_uni,
         |  CAST(count(DISTINCT w) AS BIGINT) AS d_uni FROM u GROUP BY source),
         |ba AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bi,
         |  CAST(count(DISTINCT g) AS BIGINT) AS d_bi FROM bg GROUP BY source)
         |SELECT ua.source, ua.n_uni, ua.d_uni, ba.n_bi, ba.d_bi,
         | (ua.d_uni * 10000) // ua.n_uni AS distinct1_bp,
         | (ba.d_bi * 10000) // ba.n_bi AS distinct2_bp
         |FROM ua JOIN ba USING (source)""".stripMargin,


    // Every intermediate state of the q72 recursive encode carries the
    // rank it applies NEXT (999999 = terminal); counting those rows per
    // rank — over distinct words, and weighted by instance counts —
    // replays the engine's encode-trace kernel exactly.
    "q219_merge_usage" ->
      s"""WITH RECURSIVE $bpeCtes,
         |app AS (SELECT w, br FROM (
         |   SELECT w, list_min(list_transform(range(1, len(tk)), i ->
         |     coalesce(nullif(list_position($bpeMergesLit, tk[i] || ' ' || tk[i+1]), 0), 999999))) AS br
         |   FROM bpe) s
         | WHERE br IS NOT NULL AND br < 999999),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_inst FROM inst GROUP BY w),
         |g AS (SELECT a.br AS rank, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(wc.n_inst) AS BIGINT) AS n_instances
         | FROM app a JOIN wc USING (w) GROUP BY a.br)
         |SELECT CAST(rank AS BIGINT) AS rank, $bpeMergesLit[rank] AS pair,
         | n_words, n_instances FROM g""".stripMargin,


    // Train-side count tables, eval-side bigrams through the same
    // seen/backoff integer arithmetic; zero-bigram docs kept at 0.
    "q222_stupid_backoff" ->
      s"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 15 = 0
         |  THEN text || ' qqnovel' || CAST(doc_id AS VARCHAR) || ' qqtail'
         |  ELSE text END AS text FROM documents),
         |tr AS (SELECT doc_id, $toksSql AS toks FROM corpus WHERE doc_id % 5 <> 0),
         |ev AS (SELECT doc_id, $toksSql AS toks FROM corpus WHERE doc_id % 5 = 0),
         |tu AS (SELECT unnest(toks) AS w FROM tr),
         |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tu GROUP BY w),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tu),
         |ti AS (SELECT doc_id, toks, unnest(range(2, len(toks) + 1)) AS i FROM tr),
         |tb AS (SELECT toks[i-1] AS w1, toks[i] AS w2 FROM ti),
         |cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM tb GROUP BY 1, 2),
         |ei AS (SELECT doc_id, toks, unnest(range(2, len(toks) + 1)) AS i FROM ev),
         |eb AS (SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2 FROM ei),
         |sc AS (SELECT eb.doc_id,
         |  CASE WHEN cab.c_ab IS NOT NULL THEN (cab.c_ab * 1000000) // ca.c
         |   ELSE (coalesce(cb.c, 0) * 400000) // n.n_total END AS s_e6,
         |  CASE WHEN cab.c_ab IS NULL THEN 1 ELSE 0 END AS backoff
         | FROM eb
         | LEFT JOIN cab ON cab.w1 = eb.w1 AND cab.w2 = eb.w2
         | LEFT JOIN cw ca ON ca.w = eb.w1
         | LEFT JOIN cw cb ON cb.w = eb.w2
         | CROSS JOIN n),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(backoff) AS BIGINT) AS backoff_hits,
         |  CAST(sum(s_e6) AS BIGINT) // count(*) AS mean_e6
         | FROM sc GROUP BY doc_id)
         |SELECT e.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
         | coalesce(pd.backoff_hits, 0) AS backoff_hits,
         | coalesce(pd.mean_e6, 0) AS mean_e6
         |FROM (SELECT DISTINCT doc_id FROM ev) e LEFT JOIN pd USING (doc_id)""".stripMargin,


    // Positions replayed 1-based through the same md5 gate; kept tokens
    // re-join in order.
    "q223_token_dropout" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
         |k AS (SELECT doc_id, i, toks[i] AS w,
         |  ('0x' || substr(md5('aug_' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 10 <> 0 AS keep
         | FROM idx),
         |agg AS (SELECT doc_id,
         |  string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY i) AS aug_text,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         | FROM k GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.aug_text, '') AS aug_text,
         | coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.n_dropped, 0) AS n_dropped
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,


    // Same integer numerator (present |c_sw·N − c_w·N_s| + closed-form
    // absent mass), same final double expression tree.
    "q227_tv_divergence" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |tok AS (SELECT source, unnest(toks) AS w FROM t),
         |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
         | FROM tok GROUP BY source, w),
         |st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
         |cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
         |nn AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM cw),
         |j AS (SELECT sw.source,
         |  CAST(max(st.n_s) AS BIGINT) AS n_tokens,
         |  CAST(max(nn.n) AS BIGINT) AS corpus_tokens,
         |  CAST(sum(abs(sw.c_sw * nn.n - cw.c_w * st.n_s)) AS BIGINT) AS present_abs,
         |  CAST(sum(cw.c_w) AS BIGINT) AS present_cw
         | FROM sw JOIN cw USING (w) JOIN st USING (source) CROSS JOIN nn
         | GROUP BY sw.source)
         |SELECT source, n_tokens, corpus_tokens,
         | CAST(floor(
         |  (CAST(present_abs AS DOUBLE)
         |   + CAST(n_tokens AS DOUBLE) *
         |     (CAST(corpus_tokens AS DOUBLE) - CAST(present_cw AS DOUBLE)))
         |  / (CAST(n_tokens AS DOUBLE) * CAST(corpus_tokens AS DOUBLE))
         |  * 5000.0 + 0.5) AS BIGINT) AS tv_bp
         |FROM j""".stripMargin,


    // Same count-ascending ranks; the Σ i·c_i sum is invariant to how
    // equal-count ties break, so row_number's tie order is free.
    "q228_vocab_gini" ->
      s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
         |tok AS (SELECT source, unnest(toks) AS w FROM t),
         |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         | FROM tok GROUP BY source, w),
         |r AS (SELECT source, c,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY c, w) AS BIGINT) AS i
         | FROM wc),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
         |  CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(sum(i * c) AS BIGINT) AS sic
         | FROM r GROUP BY source)
         |SELECT source, n_vocab, n_tokens,
         | CAST(floor(
         |  (2.0 * CAST(sic AS DOUBLE)
         |   - (CAST(n_vocab AS DOUBLE) + 1.0) * CAST(n_tokens AS DOUBLE))
         |  / (CAST(n_vocab AS DOUBLE) * CAST(n_tokens AS DOUBLE))
         |  * 10000.0 + 0.5) AS BIGINT) AS gini_e4
         |FROM a""".stripMargin,
  )
}

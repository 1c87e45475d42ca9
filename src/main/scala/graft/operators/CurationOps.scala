package graft.operators

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data pipeline
  * runs over every ingest batch: quality gate → language gate → exact
  * dedup, in one operator.
  *
  * Plan shape (what survives 100 TB):
  *  - ONE `textStats` kernel pass produces quality AND language
  *    ([[TextAnalysisOps.docProfile]]); the gates are Catalyst
  *    predicates evaluated in the same stage — low-quality and
  *    wrong-language rows die before anything shuffles.
  *  - The fingerprint projection is a second narrow scan (md5 of
  *    normalized text), joined to the surviving profile rows on id; the
  *    join input on the profile side is already gate-filtered.
  *  - The dedup shuffle carries (fingerprint, id) — never document
  *    payloads (same contract as [[DedupOps.exactDedup]]).
  *
  * Near-dup removal (MinHash) intentionally stays a separate stage
  * ([[DedupOps.minhashNearDupsPortable]]): it needs its own shuffle geometry and
  * its candidate set should be built on the EXACT-deduped survivors.
  */
object CurationOps {

  /** Gate + dedup the corpus. Returns one row per surviving distinct
    * content: (fingerprint, keep_id, dup_count).
    *
    * @param minQuality  minimum composite quality (docProfile `quality`)
    * @param langs       allowed predicted languages
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.5,
             langs: Seq[String] = Seq("en")): DataFrame = {
    val prof = TextAnalysisOps.docProfile(docs, idCol, textCol)
      .where(col("quality") >= minQuality && col("lang_pred").isin(langs: _*))
      .select(col(idCol))
    val fp = docs.select(col(idCol), T.fingerprint(col(textCol)).as("fingerprint"))
    prof.join(fp, Seq(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Survivor payloads: [[curate]] joined back to the original rows —
    * what downstream training jobs actually read. The join is on keep_id
    * (one row per distinct content), broadcast when the survivor set is
    * small.
    */
  def curatedDocs(docs: DataFrame, idCol: String, textCol: String,
                  minQuality: Double = 0.5,
                  langs: Seq[String] = Seq("en")): DataFrame =
    curate(docs, idCol, textCol, minQuality, langs)
      .select(col("keep_id").as(idCol), col("dup_count"))
      .join(docs, Seq(idCol))

  /** DOMAIN-MIXING WEIGHTS (DoReMi-lite): per-source token mass vs a
    * target share → the sampling multiplier that reshapes the mix
    * (weight > 1: upsample; < 1: downsample). Feed the result to
    * [[SampleOps.stratifiedSample]] rates. Input is any pre-counted
    * (source, tokens) frame — compose with
    * [[TextAnalysisOps.tokenCounts]] or bpeTokenCounts. One partial-
    * aggregated shuffle on source; the corpus total broadcasts back as
    * a one-row frame (the bm25-stats shape).
    */
  def mixWeights(counts: DataFrame, sourceCol: String, tokenCol: String,
                 targetShares: Map[String, Double],
                 defaultTarget: Double): DataFrame = {
    val perSource = counts.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("n_tokens"))
    val total = perSource.agg(sum("n_tokens").as("total_tokens"))
    val target = targetShares.foldLeft(lit(defaultTarget)) {
      case (rest, (s, t)) => when(col(sourceCol) === s, t).otherwise(rest)
    }
    perSource.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        graft.functions.Rounding.half4(
          col("n_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("actual_share"),
        target.as("target_share"),
        graft.functions.Rounding.half4(
          target / (col("n_tokens").cast("double") / col("total_tokens").cast("double")))
          .as("weight"))
  }

  /** TEST-SET DECONTAMINATION (the GPT-3/Pile n-gram rule): flag every
    * corpus document sharing at least `minShared` distinct word
    * `shingleN`-grams with ANY benchmark document, so evaluation data
    * can be scrubbed from the training mix.
    *
    * Scale shape: the benchmark is small by definition (an eval set) —
    * its distinct gram set BROADCASTS, so the corpus-side probe is a
    * narrow semi-join in the scan stage; the only shuffle is the
    * per-document distinct-hit count, carrying (id, gram) pairs for
    * MATCHING grams only (a tiny fraction of the corpus token stream).
    * Returns (id, shared_ngrams, contaminated) for every corpus row.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    shingleN: Int = 3, minShared: Int = 2): DataFrame = {
    val docGrams = DedupOps.wordShingleRows(docs, idCol, textCol, shingleN)
      .select(col("id"), explode(col("sh")).as("gram"))
    val benchGrams = DedupOps.wordShingleRows(
        benchmark.select(lit(0L).as("_bid"), col(benchTextCol)), "_bid", benchTextCol, shingleN)
      .select(explode(col("sh")).as("gram")).distinct()
    // wordShingleRows emits DISTINCT grams per doc, so a plain count is
    // the distinct-hit count — no count_distinct expansion needed
    val hits = docGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy("id").agg(count(lit(1)).as("shared_ngrams"))
    docs.select(col(idCol).cast("long").as("id")).join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("shared_ngrams"), lit(0L)).as("shared_ngrams"),
        (coalesce(col("shared_ngrams"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** BOILERPLATE LINE REMOVAL (the CCNet/RefinedWeb line-frequency rule):
    * a line occurring in at least `minDocFrac` of a source's documents
    * (and in at least `minDocs` of them) is boilerplate — headers,
    * footers, nav, cookie banners — and is stripped from every document
    * of that source. Surviving lines keep their original order. Returns
    * (id, clean_text, removed_lines) for every input row.
    *
    * Scale shape: the frequency pass shuffles (source, line) with
    * map-side partial aggregation — lines are distinct-per-doc before
    * exploding, so a plain count IS the containing-doc count. The
    * boilerplate set per source is tiny by construction (only lines in
    * ≥ frac of a source's docs survive the filter), so it collects to a
    * per-source list that BROADCASTS back, and the strip itself is a
    * narrow array-filter in the scan stage — document payloads never
    * shuffle.
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, srcCol: String,
                       textCol: String, minDocFrac: Double = 0.5,
                       minDocs: Int = 2): DataFrame = {
    val lines = docs.select(col(srcCol).as("src"),
      explode(array_distinct(split(col(textCol), "\n"))).as("line"))
    val docCounts = docs.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("n_docs"))
    val freq = lines.groupBy("src", "line").agg(count(lit(1)).as("n"))
    val boiler = freq.join(docCounts, "src")
      .where(col("n") >= minDocs && col("n") >= col("n_docs") * minDocFrac)
      .groupBy("src").agg(collect_list("line").as("bl"))
    docs.join(broadcast(boiler), docs(srcCol) === boiler("src"), "left")
      .withColumn("ls", split(col(textCol), "\n"))
      .withColumn("kept", filter(col("ls"),
        l => !coalesce(array_contains(col("bl"), l), lit(false))))
      .select(col(idCol),
        array_join(col("kept"), "\n").as("clean_text"),
        (size(col("ls")) - size(col("kept"))).as("removed_lines"))
  }

  /** Temperature-scaled mixture sampling (τ = 0.5): the standard
    * multi-source rebalancing rule q_i ∝ p_i^τ — tail sources get
    * relatively MORE of the mix than their raw token share, dominant
    * sources less — realized as a deterministic per-document keep
    * decision. Per source: weight w_i = floor(sqrt(n_tokens_i)) (IEEE
    * sqrt is correctly rounded, so the floor is bit-identical in any
    * IEEE engine — this is why τ is fixed at 0.5: general pow() is NOT
    * correctly rounded and would diverge cross-engine); the per-source
    * sampling rate normalizes q_i/p_i to 1 at the largest source, all
    * in integer arithmetic:
    *   raw_i = (w_i * 10^8) div n_i,  rate_bp_i = (raw_i * 10^4) div max_j raw_j.
    * A doc stays iff its portable hash bucket < rate_bp — reproducible
    * in any md5-bearing engine, and deterministic under partitioning.
    * (Membership is stable across corpus appends only to the extent the
    * per-source RATES are: appends shift a source's token mass, so docs
    * whose hash bucket sits within the rate delta can flip — unlike
    * [[SampleOps.portableSample]], whose rate is a constant.)
    *
    * Scale shape: one partial-aggregated count per source; the
    * source→rate table is |sources|-sized and BROADCASTS back; the keep
    * decision is a pure projection. The 1-row max side is a broadcast
    * cross join, the same global-stats shape as q114.
    */
  def temperatureSample(docTokens: DataFrame, idCol: String, srcCol: String,
                        tokCol: String): DataFrame = {
    val bySrc = docTokens.groupBy(col(srcCol))
      .agg(sum(col(tokCol)).cast("long").as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("raw", when(col("n_tokens") === 0L, lit(0L))
        .otherwise(expr("(w * 100000000) div n_tokens")))
    val m = bySrc.agg(max("raw").as("m"))
    val rates = bySrc.crossJoin(broadcast(m))
      .select(col(srcCol), col("n_tokens"),
        expr("(raw * 10000) div m").as("rate_bp"))
    docTokens.select(col(idCol), col(srcCol))
      .join(broadcast(rates), Seq(srcCol))
      .select(col(idCol), col(srcCol), col("n_tokens").as("src_tokens"),
        col("rate_bp"),
        (pmod(graft.functions.HashFunctions.portableHash60(col(idCol)),
          lit(10000L)) < col("rate_bp")).as("keep"))
  }

  /** DSIR-style IMPORTANCE RESAMPLING (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023, in an
    * all-integer serving form): score every corpus document by how
    * enriched its tokens are in a TARGET slice relative to the raw
    * corpus, then keep the top-n by normalized enrichment. Token t's
    * weight is its integer enrichment ratio
    * (count_target(t) · 10⁴) div count_corpus(t) — the hash-exact
    * stand-in for DSIR's bigram log-ratio (a trained estimator's
    * weights swap in unchanged); a document scores the sum over its
    * token INSTANCES, normalized per token so long documents aren't
    * favored. All-integer, so any md5-bearing engine re-derives the
    * exact selection (q195's oracle does).
    *
    * Scale shape: one token explode feeds a single (token → both
    * counts) partial aggregation — the target count rides a
    * conditional sum in the SAME pass, not a second scan — then one
    * token equi-join back and a per-doc partial sum; selection is a
    * TakeOrderedAndProject top-n. Never a window over instances,
    * never a second tokenization.
    *
    * Returns (id, n_toks, score, imp_bp) for the n selected docs.
    */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: org.apache.spark.sql.Column, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val clean = graft.functions.TextFunctions.cleanText(col(textCol))
    val toks = docs.select(col(idCol).cast("long").as("id"),
        isTarget.cast("long").as("is_tgt"),
        explode(when(clean === "", array().cast("array<string>"))
          .otherwise(split(clean, " "))).as("tok"))
    val wt = toks.groupBy("tok")
      .agg(count(lit(1)).as("c_raw"), sum("is_tgt").as("c_tgt"))
      .select(col("tok"), expr("(c_tgt * 10000) div c_raw").as("wt"))
    toks.join(wt, "tok")
      .groupBy("id").agg(count(lit(1)).as("n_toks"), sum("wt").as("score"))
      .select(col("id"), col("n_toks"), col("score"),
        expr("score div n_toks").as("imp_bp"),
        graft.functions.HashFunctions.portableHash60(col("id")).as("_h"))
      .orderBy(col("imp_bp").desc, col("_h"), col("id")).limit(n)
      .select(col("id"), col("n_toks"), col("score"), col("imp_bp"))
  }

  /** Weak-supervision label resolution (the Snorkel-majority-vote slot):
    * each row of `votes` is one labeling function's verdict on one doc —
    * a label string, or NULL for abstain. Plurality wins; a tie for the
    * top count (or zero non-abstain votes) resolves to 'abstain' so
    * downstream training never sees an arbitrary winner.
    *
    * One (id, label) count shuffle plus a per-id fold. The winner comes
    * from `min(struct(-count, label))` — partial-aggregatable map-side,
    * deterministic on count ties (which the separate `n_top` count then
    * flags as abstain anyway). The candidate-counts frame feeding the
    * tie probe is O(ids × labels-per-id), bounded by the LF count.
    *
    * Returns (id, n_votes, n_abstain, label, is_tie, conf_bp) where
    * conf_bp = winner-share of non-abstain votes in basis points.
    */
  def weakLabelVote(votes: DataFrame, idCol: String, labelCol: String): DataFrame = {
    val ids = votes.select(col(idCol).cast("long").as("id")).distinct()
    val counts = votes.where(col(labelCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(labelCol).as("label"))
      .groupBy("id", "label").agg(count(lit(1)).as("c"))
    val agg = counts.groupBy("id").agg(
      sum("c").as("n_votes"),
      max("c").as("c_max"),
      min(struct((-col("c")).as("neg"), col("label").as("l"))).as("win"))
    val nTop = counts.join(agg.select(col("id"), col("c_max").as("cm")), "id")
      .where(col("c") === col("cm"))
      .groupBy("id").agg(count(lit(1)).as("n_top"))
    val abst = votes.where(col(labelCol).isNull)
      .groupBy(col(idCol).cast("long").as("id")).agg(count(lit(1)).as("n_abstain"))
    ids.join(agg, Seq("id"), "left").join(nTop, Seq("id"), "left")
      .join(abst, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"),
        coalesce(col("n_abstain"), lit(0L)).as("n_abstain"),
        when(col("n_votes").isNull || col("n_top") > 1L, lit("abstain"))
          .otherwise(col("win").getField("l")).as("label"),
        (coalesce(col("n_top"), lit(0L)) > 1L).as("is_tie"),
        when(col("n_votes").isNull || col("n_top") > 1L, lit(0L))
          .otherwise(expr("(c_max * 10000) div n_votes")).as("conf_bp"))
  }
}

package graft.operators

import graft.functions.{Rounding, TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis operators: language ID, quality scoring, token
  * counting, fingerprinting. Shuffle-free scan-and-score passes.
  *
  * Counting runs in a single `mapPartitions` kernel ([[textStats]]): the
  * Catalyst higher-order-function forms re-evaluate the tokenizer once per
  * derived metric (no CSE inside lambda bodies), which measured ~1 ms/row —
  * the kernel is one tokenization pass per row. All RATIO arithmetic stays
  * in Catalyst so the operators remain oracle-checkable: the divisions and
  * clamps are the exact same IEEE double ops the DuckDB oracle SQL runs.
  */
object TextAnalysisOps {

  case class TextStatsRow(id: Long, n_chars: Long, n_tokens: Long,
                          sum_token_len: Long, n_stopwords: Long,
                          n_punct: Long, bpeish_tokens: Long,
                          lang_hits: Seq[Long])

  /** Tiny per-language stopword marker lists for the n-gram-free heuristic.
    * Deliberately small and deterministic (explainable, oracle-checkable);
    * a production system would swap in fastText-style n-gram profiles.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "die", "und", "das"),
    "zh" -> Seq("de", "shi", "le", "zai"))

  /** Per-document counting stats from one tokenization pass.
    * Tokenization parity with [[T.tokens]]: trim + split on `\s+`.
    * `bpeish_tokens` counts letter runs / single digits / single symbols —
    * the same language the regex `[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]` accepts.
    */
  def textStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stops = T.EnglishStopwords.toSet
    val markers = LangMarkers.map { case (_, ms) => ms.toSet }
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          val text = Option(raw).getOrElse("")
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          // regex \s = space, \t, \n, , \f, \r
          def isWs(c: Char) =
            c == ' ' || c == '\t' || c == '\n' || c == '' || c == '\f' || c == '\r'
          def isAsciiLetter(c: Char) =
            (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
          def isPunct(c: Char) =
            (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
              (c >= '[' && c <= '`') || (c >= '{' && c <= '~')
          var bpeish = 0L
          var i = 0
          while (i < text.length) {
            val c = text.charAt(i)
            if (isAsciiLetter(c)) {
              while (i < text.length && isAsciiLetter(text.charAt(i))) i += 1
              bpeish += 1
            } else {
              if ((c >= '0' && c <= '9') || !isWs(c)) bpeish += 1
              i += 1
            }
          }
          TextStatsRow(
            id = id,
            n_chars = text.length.toLong,
            n_tokens = toks.length.toLong,
            sum_token_len = toks.map(_.length.toLong).sum,
            n_stopwords = toks.count(stops.contains).toLong,
            n_punct = text.count(isPunct).toLong,
            bpeish_tokens = bpeish,
            lang_hits = markers.map(ms => toks.count(ms.contains).toLong))
        }
      }.toDF().withColumnRenamed("id", idCol)
  }

  /** Deterministic argmax over the kernel's per-language hit counts:
    * strict `>` fold = earliest language (in [[LangMarkers]] order) with
    * the maximum score; zero hits everywhere → "und".
    */
  private def langPredFromHits(hits: Column): Column =
    LangMarkers.zipWithIndex.foldLeft((lit("und"), lit(0.0))) {
      case ((bestLang, bestScore), ((lang, _), i)) =>
        val score = element_at(hits, i + 1).cast("double")
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
         when(score > bestScore, score).otherwise(bestScore))
    }._1

  /** Quality-scoring pass: length, token stats, stopword/punct ratios and
    * a composite [0,1] quality score (heuristic, deterministic). Counts
    * come from the kernel; every ratio/clamp below is plain Catalyst
    * double arithmetic, mirrored 1:1 in the DuckDB oracle.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    textStats(docs, idCol, textCol).select(scoreColumns(idCol): _*)

  /** The quality-score projection over a [[textStats]] frame (shared by
    * [[qualityScore]] and [[docProfile]]).
    */
  private def scoreColumns(idCol: String): Seq[Column] = {
    val nToks = col("n_tokens")
    val mtl = when(nToks === 0, lit(0.0))
      .otherwise(col("sum_token_len").cast("double") / nToks.cast("double"))
    val swr = when(nToks === 0, lit(0.0))
      .otherwise(col("n_stopwords").cast("double") / nToks.cast("double"))
    val pr = when(col("n_chars") === 0, lit(0.0))
      .otherwise(col("n_punct").cast("double") / col("n_chars").cast("double"))
    val lengthScore = least(nToks.cast("double") / lit(50.0), lit(1.0))
    val composite = greatest(lit(0.0), least(lit(1.0),
      lengthScore * lit(0.5) + least(swr * lit(5.0), lit(1.0)) * lit(0.3)
        + (lit(1.0) - least(pr * lit(10.0), lit(1.0))) * lit(0.2)))
    Seq(
      col(idCol),
      col("n_chars"),
      col("n_tokens"),
      Rounding.half4(mtl).as("mean_token_len"),
      Rounding.half4(swr).as("stopword_ratio"),
      Rounding.half4(pr).as("punct_ratio"),
      Rounding.half4(composite).as("quality"))
  }

  /** ONE-PASS document profile: quality metrics AND language prediction
    * from a single [[textStats]] kernel scan — the input frame corpus
    * curation gates on ([[CurationOps.curate]]). Running
    * [[qualityScore]] + [[languageId]] separately would scan and
    * tokenize the corpus twice.
    */
  def docProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    textStats(docs, idCol, textCol)
      .select(scoreColumns(idCol) :+ langPredFromHits(col("lang_hits")).as("lang_pred"): _*)

  /** Token-counting pass: whitespace and BPE-ish counts per document. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    textStats(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens").as("ws_tokens"), col("bpeish_tokens"))

  /** Language-ID pass, optionally carrying a label column for agreement
    * checks.
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: Option[String] = None): DataFrame = {
    val preds = textStats(docs, idCol, textCol)
      .select(col(idCol), langPredFromHits(col("lang_hits")).as("lang_pred"))
    labelCol match {
      case Some(l) => docs.select(col(idCol), col(l).as("lang_label")).join(preds, idCol)
      case None => preds
    }
  }

  /** Content fingerprints: md5 of normalized text + a 64-bit xxhash —
    * the join/dedup keys for incremental corpus maintenance.
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      T.fingerprint(col(textCol)).as("fingerprint"),
      xxhash64(lower(T.cleanText(col(textCol)))).as("fp64"))

  /** Intra-document repetition stats (the Gopher-rule family): per doc,
    * the fraction of word bigrams consumed by the single most frequent
    * bigram (`top_bigram_frac` — boilerplate/spam marker) and the
    * fraction that are duplicates of an earlier bigram
    * (`dup_bigram_frac` — loops/stutter marker).
    *
    * The stats are ROW-LOCAL, so this is a [[textStats]]-shaped kernel:
    * one tokenize pass + a per-doc gram-count map, zero exchanges. (The
    * Column-HOF form hit the documented lambda-re-evaluation blowup —
    * `transform` re-tokenized per bigram position — and shuffled
    * (id, gram) pairs that never needed to leave their row; measured 8.5 s
    * → 0.4 s at sf0.1.) Rounding is `floor(x·10⁴ + 0.5)/10⁴`, the same
    * IEEE ops as [[Rounding.half4]], so the DuckDB oracle matches.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        def half4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
        it.map { case (id, raw) =>
          val toks = Option(raw).getOrElse("").trim
            .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
          if (toks.length < 2) (id, 0L, 0.0, 0.0)
          else {
            val m = scala.collection.mutable.HashMap.empty[String, Int]
            var i = 0
            var maxC = 0
            while (i < toks.length - 1) {
              val c = m.updateWith(toks(i) + " " + toks(i + 1))(o => Some(o.getOrElse(0) + 1)).get
              if (c > maxC) maxC = c
              i += 1
            }
            val total = (toks.length - 1).toLong
            (id, total,
              half4(maxC.toDouble / total.toDouble),
              half4((total - m.size).toDouble / total.toDouble))
          }
        }
      }.toDF(idCol, "n_bigrams", "top_bigram_frac", "dup_bigram_frac")
  }

  /** REAL BPE token counts per document ([[graft.functions.Bpe]] encode
    * loop over lowercased whitespace words): the counts a training
    * pipeline packs sequences by — whitespace words under-count tokens
    * 1.3-1.5× and skew packing. Kernel-shaped like [[textStats]]: narrow
    * scan, zero exchanges; the vocab ships once via closure, and a
    * per-partition word→count memo exploits the Zipfian repeat rate so
    * the encode loop runs ~once per DISTINCT word per partition, not per
    * occurrence. Output: (id, n_words, n_bpe_tokens).
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     vocab: graft.functions.Bpe.Vocab = graft.functions.Bpe.toyVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { case (id, raw) =>
          val words = Option(raw).getOrElse("").trim
            .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
          var bpe = 0L
          words.foreach { w =>
            bpe += memo.getOrElseUpdate(w, vocab.countTokens(w).toLong)
          }
          (id, words.length.toLong, bpe)
        }
      }.toDF(idCol, "n_words", "n_bpe_tokens")
  }

  /** RAG CHUNKING: split each document into fixed-size token windows
    * with overlap — the retrieval-side preparation step that feeds
    * embedding + indexing. Chunk starts step by `chunkSize - overlap`;
    * a tail window that would add no tokens beyond the previous chunk's
    * overlap is suppressed. Returns (id, chunk_id, chunk_text,
    * n_tokens); empty docs emit no chunks.
    *
    * Pure Column expressions over the row's own token array — a
    * shuffle-free scan whose output fans out ~n_tokens/step rows per
    * doc. At 100 TB the chunker runs in the same stage as the scan and
    * the downstream embed/index step repartitions as it needs.
    */
  def chunkByTokens(docs: DataFrame, idCol: String, textCol: String,
                    chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    val clean = T.cleanText(col(textCol))
    val ts = when(clean === "", array().cast("array<string>"))
      .otherwise(split(clean, " "))
    val n = size(col("ts"))
    docs.select(col(idCol).cast("long").as("id"), ts.as("ts"))
      .where(size(col("ts")) > 0)
      .select(col("id"), col("ts"),
        explode(filter(sequence(lit(0), n - 1, lit(step)),
          s => (s === 0) || (s + lit(overlap) < n))).as("start"))
      .select(col("id"),
        (col("start") / step).cast("long").as("chunk_id"),
        array_join(slice(col("ts"), col("start") + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(size(col("ts")) - col("start"), lit(chunkSize)).as("n_tokens"))
  }

  /** CORPUS-RELATIVE TOKEN RARITY (the CCNet idea — score documents
    * against corpus statistics — with all-integer arithmetic instead of
    * an LM, so the result is bit-identical in any engine): per document,
    * how many of its token occurrences are corpus-rare (global count ≤
    * `rareThreshold`) and the mean corpus count of its tokens. High
    * `rare_frac` marks gibberish/codes/OCR noise; very low marks
    * boilerplate. Returns every doc: (id, n_tokens, rare_tokens,
    * rare_frac, mean_count).
    *
    * Scale shape: pass 1 is a partial-aggregated unigram count shuffled
    * on token; pass 2 re-joins the token stream to the counts — also
    * shuffled on token, where the Zipf head makes hot keys (AQE skew
    * join handles it; counts carry (token, long) only) — then
    * re-aggregates per doc. Integer sums commute, so no
    * floating-accumulation-order hazard exists; the two divisions
    * happen once per row at the end.
    */
  /** Corpus bigram-LM fluency score (the KenLM/CCNet perplexity-filter
    * slot of a training-data pipeline): every document scored by the MEAN
    * in-corpus probability of its token bigrams under add-one smoothing,
    * p(cur|prev) = (c(prev,cur) + 1) / (c(prev) + V). Low mean = unusual
    * token transitions = low fluency.
    *
    * Transcendental-free by design so the score is exactly reproducible
    * cross-engine: IEEE division is correctly rounded, `log` is not (Java
    * and DuckDB may differ in the last ulp, which flips a rounding
    * boundary). Each bigram probability is quantized to integer 1e-9
    * units and per-doc totals are INTEGER sums — accumulation-order
    * independent, hash-exact against the oracle.
    *
    * Scale shape: one shuffle keys the per-doc bigram window (doc id),
    * one keys the bigram-count join ((prev, cur)), one keys c(prev); the
    * vocabulary size V is a 1-row broadcast. State per group is one
    * count; documents and token lists never shuffle.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clean = T.cleanText(col(textCol))
    val toks = docs.select(col(idCol).cast("long").as("id"),
      posexplode(when(clean === "", array().cast("array<string>"))
        .otherwise(split(clean, " "))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("id").orderBy("pos")
    val bg = toks.select(col("id"), lag("tok", 1).over(w).as("prev"), col("tok"))
      .where(col("prev").isNotNull)
    val cbg = bg.groupBy("prev", "tok").agg(count(lit(1)).as("cbg"))
    val cprev = bg.groupBy("prev").agg(count(lit(1)).as("cprev"))
    val vdf = toks.agg(countDistinct("tok").as("v"))
    val scored = bg.join(cbg, Seq("prev", "tok"))
      .join(cprev, Seq("prev"))
      .crossJoin(broadcast(vdf))
      .select(col("id"),
        floor((col("cbg") + lit(1L)).cast("double")
          / (col("cprev") + col("v")).cast("double") * lit(1000000000.0) + lit(0.5))
          .cast("long").as("p9"))
    val perDoc = scored.groupBy("id").agg(
      count(lit(1)).as("n_bigrams"), sum("p9").as("sum_p9"))
    docs.select(col(idCol).cast("long").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_p9"), lit(0L)).as("sum_p9"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(Rounding.half2(
            col("sum_p9").cast("double") / col("n_bigrams").cast("double")))
          .as("mean_p9"))
  }

  def tokenRarity(docs: DataFrame, idCol: String, textCol: String,
                  rareThreshold: Long = 3L): DataFrame = {
    val clean = T.cleanText(col(textCol))
    val toks = docs.select(col(idCol).cast("long").as("id"),
        explode(when(clean === "", array().cast("array<string>"))
          .otherwise(split(clean, " "))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val perDoc = toks.join(counts, "tok")
      .groupBy("id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cnt") <= rareThreshold, 1L).otherwise(0L)).as("rare_tokens"),
        sum("cnt").as("sum_counts"))
    docs.select(col(idCol).cast("long").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("rare_tokens"), lit(0L)).as("rare_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(graft.functions.Rounding.half4(
            col("rare_tokens").cast("double") / col("n_tokens").cast("double")))
          .as("rare_frac"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(graft.functions.Rounding.half4(
            col("sum_counts").cast("double") / col("n_tokens").cast("double")))
          .as("mean_count"))
  }

  /** Unicode NFC normalization — the canonicalization step that must
    * run BEFORE any hash-based dedup on multilingual text: "é" as one
    * codepoint and "e"+combining-acute are byte-different (so md5
    * fingerprints, minhash shingles, and exact-dup groups all miss the
    * duplicate) but canonically equivalent; NFC composes both to the
    * same form. JDK `java.text.Normalizer` in a narrow kernel — Spark
    * has no built-in NFC Column function — with DuckDB's
    * `nfc_normalize` as the independent oracle (both implement UAX #15
    * over the same stable composition tables). Returns (id, norm_text,
    * changed).
    *
    * Scale shape: pure per-row kernel, zero shuffles.
    */
  def nfcNormalize(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val t = Option(text).getOrElse("")
          val n = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
          (id, n, n != t)
        }
      }.toDF("id", "norm_text", "changed")
  }

  /** Collocation mining (word2phrase / PMI-lift family): corpus-wide
    * adjacent-bigram counts scored by integer lift
    * `N·c(ab)·10⁴ div (c(a)·c(b))` — lift ≥ 10⁴ means the pair co-occurs
    * more than independence predicts; phrase-merge pipelines join high-
    * lift pairs into single tokens before embedding/BPE training.
    *
    * All-integer scoring (no log-PMI — `ln` is not cross-engine exact;
    * lift ranks identically since log is monotone). The `minCount`
    * filter runs BEFORE the two dictionary joins, so the join input is
    * the (tiny) set of frequent bigrams, not the full bigram table; the
    * shuffles carry (gram, partial-count) pairs only, never text.
    * Long arithmetic holds while `N·c(ab)·10⁴ < 2⁶³` — c(ab) ≤ N gives
    * the guard N < ~9.6e8 tokens per run; at larger corpora pre-scale N
    * (lift is a ratio) or swap the expression to DecimalType.
    *
    * Returns (w1, w2, c_ab, c_a, c_b, lift_e4), filtered to
    * `c_ab >= minCount` and `lift_e4 >= minLiftE4`.
    */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 3L, minLiftE4: Long = 30000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val texts = docs.select(col(textCol).cast("string")).as[String]
    val pairs = texts.mapPartitions { it =>
      it.flatMap { raw =>
        val ts = Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
        if (ts.length < 2) Iterator.empty
        else (0 until ts.length - 1).iterator.map(i => (ts(i), ts(i + 1)))
      }
    }.toDF("w1", "w2")
    val unis = texts.mapPartitions { it =>
      it.flatMap(raw => Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty).iterator)
    }.toDF("w")
    val uc = unis.groupBy("w").agg(count(lit(1)).as("c"))
    val totals = unis.agg(count(lit(1)).as("n_total"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
      .join(uc.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(n_total * c_ab * 10000) div (c_a * c_b)").as("lift_e4"))
      .where(col("lift_e4") >= minLiftE4)
  }

  /** Per-source vocabulary richness with the Chao1 estimate of TOTAL
    * vocabulary size: `chao1 = D + f1·(f1−1) div (2·(f2+1))` where D is
    * observed distinct tokens and f1/f2 are the singleton/doubleton
    * counts (bias-corrected form — defined even when f2 = 0). A source
    * whose chao1 far exceeds D has a long unseen-vocabulary tail — more
    * data from it keeps adding new tokens; one whose chao1 ≈ D is
    * saturated. The capture-recapture answer to "is this source mined
    * out?" that a raw distinct count can't give.
    *
    * One (source, token) count shuffle, then a per-source fold of the
    * count-of-counts — all-integer output (source, n_tokens, d_vocab,
    * f1, f2, chao1).
    */
  def vocabRichness(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(srcCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        it.flatMap { case (s, raw) =>
          Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
            .iterator.map(w => (s, w))
        }
      }.toDF("source", "w")
    toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("d_vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("n_tokens"), col("d_vocab"), col("f1"), col("f2"),
        (col("d_vocab") + expr("(f1 * (f1 - 1)) div (2 * (f2 + 1))")).as("chao1"))
  }

  /** The hashing trick (signed feature hashing): tokens fold into a
    * fixed `nBuckets`-dimensional sparse vector via a portable md5 hash
    * — bucket = h mod n, sign = parity of the next hash bit (the
    * Weinberger et al. construction that keeps collision noise
    * zero-mean). THE featurization that makes linear models scale:
    * vocabulary-free (no dictionary build/broadcast), fixed width at
    * any corpus size, and merge = vector addition, so per-shard
    * features combine associatively.
    *
    * One tokenize pass, one (id, bucket) partial-agg shuffle — the
    * bucket table never exceeds id × nBuckets. Returns the sparse rows
    * (id, bucket, f) with f = signed collision-summed count.
    */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
                  nBuckets: Int = 256): DataFrame = {
    val clean = T.cleanText(col(textCol))
    docs.select(col(idCol).cast("long").as("id"),
        explode(when(clean === "", array().cast("array<string>"))
          .otherwise(split(clean, " "))).as("tok"))
      .select(col("id"), graft.functions.HashFunctions.portableHash60(col("tok")).as("h"))
      .select(col("id"), expr(s"pmod(h, $nBuckets)").as("bucket"),
        expr(s"pmod(h div $nBuckets, 2) * 2 - 1").as("sign"))
      .groupBy("id", "bucket").agg(sum("sign").as("f"))
  }

  /** BPE merge-usage statistics — tokenizer introspection: for every
    * merge rule, how many encode rounds applied it across the corpus,
    * both over distinct words (`n_words`) and weighted by word frequency
    * (`n_instances`). The vocabulary-pruning signal: a merge that never
    * fires on the target corpus is dead weight in the vocab, and a
    * frequency-weighted usage ranking is exactly what retraining a
    * tokenizer on in-domain data would reorder.
    *
    * Shape: one word-count shuffle (the Zipf-collapsed distinct-word
    * table), then the encode-trace kernel runs once per DISTINCT word
    * and the per-rank rollup partial-aggregates. Ranks are emitted
    * 1-based to match the oracle's `list_position` convention.
    *
    * Returns (rank, pair, n_words, n_instances).
    */
  def bpeMergeUsage(docs: DataFrame, idCol: String, textCol: String,
                    vocab: graft.functions.Bpe.Vocab = graft.functions.Bpe.toyVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val clean = lower(T.cleanText(col(textCol)))
    val wcnt = docs.select(
        explode(when(clean === "", array().cast("array<string>"))
          .otherwise(split(clean, " "))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_inst"))
    val traces = wcnt.as[(String, Long)].mapPartitions { it =>
      it.flatMap { case (w, n) =>
        vocab.encodeTrace(Option(w).getOrElse("")).iterator.map(r => (r + 1, n))
      }
    }.toDF("rank", "n_inst")
    val pairLit = typedLit(vocab.merges.map { case (a, b) => s"$a $b" })
    traces.groupBy("rank").agg(
        count(lit(1)).as("n_words"), sum("n_inst").as("n_instances"))
      .select(col("rank").cast("long").as("rank"),
        element_at(pairLit, col("rank").cast("int")).as("pair"),
        col("n_words"), col("n_instances"))
  }

  private def bigramRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, raw) =>
        val ts = Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
        if (ts.length < 2) Iterator.empty
        else (0 until ts.length - 1).iterator.map(i => (id, ts(i), ts(i + 1)))
      }).toDF("id", "w1", "w2")
  }

  private def unigramRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, raw) =>
        Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          .iterator.map(w => (id, w))
      }).toDF("id", "w")
  }

  /** Stupid Backoff bigram scoring (Brants et al. 2007 — THE web-scale
    * LM: no discounting, no normalization, just back off to the unigram
    * with a fixed 0.4 penalty): eval docs score their bigrams against
    * counts from the TRAIN side only, so genuinely novel continuations
    * hit the backoff path. All-integer e6 scores:
    * seen → c(w1w2)·10⁶ div c(w1); unseen → c(w2)·400000 div N.
    *
    * q100's add-one bigram LM smooths everything toward the vocabulary
    * size; backoff instead PRESERVES the seen-bigram ML estimate and
    * prices novelty via the unigram — the standard perplexity-filter
    * scorer when the count tables come from a different (larger) corpus.
    *
    * Shape: count shuffles keyed by gram, two broadcast-friendly
    * dictionary joins on the eval side, 1-row N broadcast.
    * Returns (id, n_bigrams, backoff_hits, mean_e6) for each eval doc.
    */
  def stupidBackoffScore(train: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val cab = bigramRows(train, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val uni = unigramRows(train, idCol, textCol)
    val cw = uni.groupBy("w").agg(count(lit(1)).as("c"))
    val totals = uni.agg(count(lit(1)).as("n_total"))
    val scored = bigramRows(eval, idCol, textCol)
      .join(cab, Seq("w1", "w2"), "left")
      .join(cw.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"), "left")
      .join(cw.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .select(col("id"),
        when(col("c_ab").isNotNull, expr("(c_ab * 1000000) div c_a"))
          .otherwise(expr("(coalesce(c_b, 0) * 400000) div n_total")).as("s_e6"),
        when(col("c_ab").isNull, 1L).otherwise(0L).as("backoff"))
    val perDoc = scored.groupBy("id").agg(
      count(lit(1)).as("n_bigrams"),
      sum("backoff").as("backoff_hits"),
      expr("sum(s_e6) div count(1)").as("mean_e6"))
    eval.select(col(idCol).cast("long").as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("backoff_hits"), lit(0L)).as("backoff_hits"),
        coalesce(col("mean_e6"), lit(0L)).as("mean_e6"))
  }

  /** Deterministic token-dropout augmentation: position i of doc id is
    * dropped iff `portable_hash('aug_<id>_<i>') mod 10 == 0` (~10%) —
    * the contrastive/denoising augmentation a training pipeline emits,
    * made a pure function of (id, position) so every epoch, engine, and
    * replica regenerates the identical augmented corpus instead of
    * storing it. Pure per-row kernel, zero shuffles.
    *
    * Returns (id, aug_text, n_tokens, n_dropped); positions are 1-based
    * (matching the oracle's `range(1, len+1)` replay).
    */
  def tokenDropout(docs: DataFrame, idCol: String, textCol: String,
                   seed: String = "aug"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, raw) =>
          val ts = Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          val kept = ts.iterator.zipWithIndex.collect {
            case (w, i0) if graft.functions.HashFunctions
              .portableHash60JVM(md, s"${seed}_${id}_${i0 + 1}") % 10L != 0L => w
          }.toArray
          (id, kept.mkString(" "), ts.length.toLong, (ts.length - kept.length).toLong)
        }
      }.toDF("id", "aug_text", "n_tokens", "n_dropped")
  }

  /** Per-source total-variation distance from the corpus-wide unigram
    * distribution — the domain-shift cell of a training datasheet
    * (which sources pull the token mix away from the blend the model
    * will actually see). TV = ½ Σ_w |p_s(w) − p(w)| ∈ [0, 1], reported
    * in exact basis points.
    *
    * Deliberately TV and not KL: every term is EXACT integer
    * arithmetic — |c_sw·N − c_w·N_s| over common denominator N_s·N —
    * so the cross-engine hash check is deterministic (KL's log is not
    * correctly-rounded IEEE and may differ between libm builds in the
    * last ulp). Words absent from a source are folded in closed form:
    *   Σ_{w∉s} c_w·N_s = N_s·(N − Σ_{w∈s} c_w),
    * so the plan only materializes (source, word) pairs that EXIST —
    * the join is source-vocab-sized, never |vocab|×|sources|.
    *
    * Shape: one tokenize kernel → one (source, w) partial-agg shuffle;
    * corpus counts re-aggregate FROM those counts (no second pass);
    * the w-keyed join carries counts only; per-source and corpus
    * totals ride as broadcasts. Long bounds: each |term| <= N_s·N
    * (~2.5e12 at sf0.1); the summed numerator <= 2·N_s·N — overflow
    * needs N_s·N > 4.6e18, i.e. beyond ~2e9 tokens per side; shard the
    * sum mod-free by splitting sources before that.
    */
  def tvDivergence(docs: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs
      .select(col(srcCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (src, raw) =>
        Option(raw).getOrElse("").trim.split("\\s+").filter(_.nonEmpty)
          .iterator.map(w => (src, w))
      }).toDF("source", "w")
    val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val srcTot = sw.groupBy("source").agg(sum("c_sw").as("n_s"))
    val corpus = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
    val n = corpus.agg(sum("c_w").as("n"))
    sw.join(corpus, "w")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(n))
      .groupBy("source")
      .agg(
        max("n_s").as("n_tokens"),
        max("n").as("corpus_tokens"),
        sum(abs(col("c_sw") * col("n") - col("c_w") * col("n_s"))).as("present_abs"),
        sum(col("c_w")).as("present_cw"))
      .select(col("source"), col("n_tokens"), col("corpus_tokens"),
        // numerator = Σ_present |c_sw·N − c_w·N_s| + N_s·(N − Σ_present c_w);
        // TV = numerator / (2·N_s·N), e4 via the identical double tree
        expr("""CAST(floor(
          |  (CAST(present_abs AS DOUBLE)
          |   + CAST(n_tokens AS DOUBLE) *
          |     (CAST(corpus_tokens AS DOUBLE) - CAST(present_cw AS DOUBLE)))
          |  / (CAST(n_tokens AS DOUBLE) * CAST(corpus_tokens AS DOUBLE))
          |  * 5000.0 + 0.5) AS BIGINT)""".stripMargin).as("tv_bp"))
  }
}

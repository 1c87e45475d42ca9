package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data quality, governance and CDC: profiling, constraints, k-anonymity, snapshot diff, SCD2, MERGE, CDC feeds, freshness, backfill, KS drift.
  *
  * Contract queries: q116_profile, q117_constraints, q118_snapshot_diff, q120_scd2, q121_merge_upsert, q145_k_anonymity, q153_cdc_feed, q154_freshness, q161_backfill_plan, q162_ks_drift, q206_kappa, q211_calibration, q220_corpus_diff, q230_fingerprint, q239_fingerprint_nulls,
  * q233_benford, q234_fingerprint_merge.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object QualityQueries {

  /** Row-string for the q230/q234 content fingerprint. Every field is
    * NULL-coalesced to a NUL-prefixed sentinel BEFORE concat_ws:
    * concat_ws silently skips NULL fields (and their separator), so rows
    * differing only in WHICH field is null would otherwise hash
    * identically — and DuckDB's `||` propagates NULL instead, so the two
    * engines would diverge the moment any column is null (round-8
    * advice). The sentinel keeps null positions distinguishable and both
    * engines byte-identical; U+0000 cannot appear in the data columns.
    */
  private[graft] def fpRowString: Column = {
    val nullS = "\u0000NULL"
    concat_ws("|",
      coalesce(col("doc_id").cast("string"), lit(nullS)),
      coalesce(col("lang"), lit(nullS)),
      coalesce(col("source"), lit(nullS)),
      coalesce(col("n_chars").cast("string"), lit(nullS)),
      coalesce(md5(col("text")), lit(nullS)))
  }

  /** The DuckDB twin of [[fpRowString]] — chr(0) spelled at runtime. */
  private val fpRowSql: String =
    """coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'NULL') || '|' ||
      |     coalesce(lang, chr(0) || 'NULL') || '|' ||
      |     coalesce(source, chr(0) || 'NULL') || '|' ||
      |     coalesce(CAST(n_chars AS VARCHAR), chr(0) || 'NULL') || '|' ||
      |     coalesce(md5(text), chr(0) || 'NULL')""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Column profiling (the Deequ-style pre-ingest audit): one pass
    // over the table computes every column's row/null/distinct counts
    // and string min/max; the long-format explode happens on the 1-row
    // aggregate. Long/string columns only, so the string rendering is
    // engine-independent.
    "q116_profile" -> ((s, d) => {
      QualityOps.columnProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    }),


    // Declarative constraint validation with PLANTED violations: rows
    // with o_orderkey % 997 == 0 are re-appended with negated custkey
    // (FK break), negated cents (domain break), and a now-duplicate key
    // (pk break) — so every failing check has a known nonzero count and
    // the all-zero degenerate output cannot pass. One row per check.
    "q117_constraints" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dirty = o.unionByName(
        o.where(pmod(col("o_orderkey"), lit(997L)) === 0L)
          .select(col("o_orderkey"), (-col("o_custkey")).as("o_custkey"),
            (-col("cents")).as("cents")))
      QualityOps.checkViolations(Seq(
        QualityOps.Check("orders_pk_unique",
          QualityOps.duplicateKeys(dirty, "o_orderkey"), lit(true)),
        QualityOps.Check("orders_fk_customer",
          QualityOps.fkViolations(dirty, "o_custkey",
            Tables.customer(s, d), "c_custkey"), lit(true)),
        QualityOps.Check("orders_custkey_not_null", dirty,
          col("o_custkey").isNull),
        QualityOps.Check("orders_price_positive", dirty,
          col("cents") <= 0L)))
    }),


    // Snapshot CDC diff: two deterministic snapshots of orders (A drops
    // keys %11==3; B drops %13==5 and bumps %7==0 cents) diffed into
    // added/removed/changed — ONLY differences ship, from one co-keyed
    // full-outer join, and values compare as exact cents.
    "q118_snapshot_diff" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val snapA = o.where(pmod(col("o_orderkey"), lit(11L)) =!= 3L)
      val snapB = o.where(pmod(col("o_orderkey"), lit(13L)) =!= 5L)
        .select(col("o_orderkey"), when(pmod(col("o_orderkey"), lit(7L)) === 0L,
          col("cents") + 100L).otherwise(col("cents")).as("cents"))
      QualityOps.snapshotDiff(snapA, snapB, "o_orderkey", "cents")
    }),


    // SCD Type-2 dimension build from the event stream: each user's
    // event_type history collapses no-op changes, then every surviving
    // change opens a version [valid_from, valid_to). One shuffle on the
    // key; all three windows reuse the (user, ts, event_id) ordering.
    "q120_scd2" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      CdcOps.scd2(ev, "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("attr"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
          col("version"), col("is_current"))
    }),


    // MERGE (upsert + delete) application: a deterministic I/U/D batch
    // (keys %5==4 insert, %5==0 update +7 cents, %5==1 delete) applied
    // to the orders snapshot in ONE co-keyed full-outer join — the
    // delta side stays broadcast-sized at scale, the snapshot never
    // re-shuffles to take a day's changes.
    "q121_merge_upsert" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val target = o.where(pmod(col("o_orderkey"), lit(5L)) =!= 4L)
      val batch = o.where(pmod(col("o_orderkey"), lit(5L)) === 4L)
        .select(col("o_orderkey"), col("cents"), lit("I").as("op"))
        .unionByName(o.where(pmod(col("o_orderkey"), lit(5L)) === 0L)
          .select(col("o_orderkey"), (col("cents") + 7L).as("cents"), lit("U").as("op")))
        .unionByName(o.where(pmod(col("o_orderkey"), lit(5L)) === 1L)
          .select(col("o_orderkey"), lit(null).cast("long").as("cents"), lit("D").as("op")))
      CdcOps.mergeApply(target, batch, "o_orderkey", "cents", "op")
    }),


    // k-anonymity audit over (nation, segment) quasi-identifiers:
    // combinations with fewer than 10 customers re-identify them — the
    // governance gate before a dataset release. One row per occupied
    // combination.
    "q145_k_anonymity" -> ((s, d) =>
      QualityOps.kAnonymityAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)),


    // CDC feed generation — the inverse of q121: diff the q118
    // snapshots into the I/U/D batch whose replay reproduces snapshot
    // B exactly (round-trip law spec-asserted in CdcOpsSpec).
    "q153_cdc_feed" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val snapA = o.where(pmod(col("o_orderkey"), lit(11L)) =!= 3L)
      val snapB = o.where(pmod(col("o_orderkey"), lit(13L)) =!= 5L)
        .select(col("o_orderkey"), when(pmod(col("o_orderkey"), lit(7L)) === 0L,
          col("cents") + 100L).otherwise(col("cents")).as("cents"))
      CdcOps.cdcFeed(snapA, snapB, "o_orderkey", "cents")
    }),


    // Data-freshness monitoring: per-type newest event vs the global
    // high-water mark, integer lag, staleness flag — the ops check a
    // 100 TB ingest runs every cycle (tiny aggregates, 1-row
    // broadcast).
    "q154_freshness" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val per = ev.groupBy("event_type")
        .agg(max(unix_micros(col("ts"))).as("max_us"),
          count(lit(1)).as("n"))
      // the global high-water mark FOLDS from the per-type maxes — a
      // separate ev.agg(max) branch would scan the events table twice
      // (q250 lesson); the window moves |event_type| rows, not data
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      per.withColumn("global_us", max("max_us").over(w))
        .select(col("event_type"), col("n"), col("max_us"),
          (col("global_us") - col("max_us")).as("lag_us"),
          (col("global_us") - col("max_us") > 3600000000L).as("stale"))
    }),


    // Backfill planner: the (type, day) partitions a complete calendar
    // expects but the observed data lacks — with a PLANTED outage
    // (click days with day_idx % 7 == 0 are dropped from "observed"),
    // so the anti-join provably finds real gaps. Day dimension comes
    // from the data itself; everything is tiny aggregates.
    "q161_backfill_plan" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"))
        .withColumn("day_idx",
          datediff(col("day"), lit("2024-01-01").cast("date")))
      val observed = ev.distinct()
        .where(!(col("event_type") === "click" && pmod(col("day_idx"), lit(7)) === 0))
      val days = ev.select("day", "day_idx").distinct()
      val types = ev.select("event_type").distinct()
      types.crossJoin(days)
        .join(observed, Seq("event_type", "day", "day_idx"), "left_anti")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("day_idx"))
    }),


    // KS drift detection: the distribution of n_chars vs a planted
    // 25%-shifted copy (doc_id%4==0 gains +40 chars) — D = max
    // |cdf_a - cdf_b| in integer basis points, the drift gate between
    // two days/sources of the same feature. No transcendentals (KS,
    // not PSI), so engine-exact.
    "q162_ks_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.select(col("n_chars"))
      val b = docs.select(
        when(pmod(did, lit(4)) === 0, col("n_chars") + 40L)
          .otherwise(col("n_chars")).as("n_chars"))
      QualityOps.ksDrift(a, b, "n_chars")
    }),


    // Cohen's kappa between two rule annotators — the inter-annotator-
    // agreement gate a labeling pipeline reports before trusting labels.
    // Annotator 1: q15's quality composite >= 0.5; annotator 2: token
    // count >= 30. Kappa is EXACT in integers: with a = agreements and
    // S = Σ_k row_k·col_k, kappa = (n·a − S)/(n² − S), emitted e4 via
    // one truncating div (negative-safe: div truncates toward zero in
    // both engines). Chance-perfect marginals (n² = S) pin 10⁴.
    "q206_kappa" -> ((s, d) => {
      val q = TextAnalysisOps.qualityScore(Tables.documents(s, d), "doc_id", "text")
        .select(
          when(col("quality") >= 0.5, 1L).otherwise(0L).as("a1"),
          when(col("n_tokens") >= 30L, 1L).otherwise(0L).as("a2"))
      q.agg(
          count(lit(1)).as("n"),
          sum(when(col("a1") === col("a2"), 1L).otherwise(0L)).as("n_agree"),
          sum("a1").as("n_pos_quality"),
          sum("a2").as("n_pos_length"))
        .select(col("n"), col("n_agree"), col("n_pos_quality"), col("n_pos_length"),
          expr("""CASE WHEN n * n = n_pos_quality * n_pos_length
            |  + (n - n_pos_quality) * (n - n_pos_length) THEN CAST(10000 AS BIGINT)
            | ELSE ((n * n_agree - n_pos_quality * n_pos_length
            |   - (n - n_pos_quality) * (n - n_pos_length)) * 10000)
            |  div (n * n - n_pos_quality * n_pos_length
            |   - (n - n_pos_quality) * (n - n_pos_length)) END""".stripMargin).as("kappa_e4"))
    }),


    // Calibration / reliability report (the per-bin body of ECE): the
    // q15 quality composite read as a confidence for the "long doc"
    // label, binned into confidence deciles; each bin reports count,
    // mean confidence, accuracy, and |acc − conf| — the artifact that
    // says WHERE a quality classifier over- or under-claims, which a
    // single AUC number hides. All-integer (e4 means via truncating
    // div), one tiny 10-row aggregate.
    "q211_calibration" -> ((s, d) => {
      val q = TextAnalysisOps.qualityScore(Tables.documents(s, d), "doc_id", "text")
        .select(floor(col("quality") * 10000 + 0.5).cast("long").as("conf_e4"),
          when(col("n_tokens") >= 30L, 1L).otherwise(0L).as("y"))
      q.select(least(expr("conf_e4 div 1000"), lit(9L)).as("bin"),
          col("conf_e4"), col("y"))
        .groupBy("bin").agg(count(lit(1)).as("n"),
          sum("conf_e4").as("sc"), sum("y").as("n_pos"))
        .select(col("bin"), col("n"),
          expr("sc div n").as("conf_e4"),
          expr("(n_pos * 10000) div n").as("acc_e4"),
          abs(expr("sc div n") - expr("(n_pos * 10000) div n")).as("gap_e4"))
    }),


    // Dataset-release changelog card: two corpus snapshots (A drops
    // id%11==3; B drops id%13==5 and REWRITES id%7==0 with appended
    // text) diffed per source into added/removed/changed doc counts and
    // the token-mass delta — the "what changed since v1" datasheet cell.
    // One co-keyed full-outer join; only per-source aggregates leave it.
    // SCALE SHAPE (round-10 rework): text is reduced to (md5 digest,
    // token count) MAP-SIDE, before the exchange — the full-outer join
    // shuffles four narrow columns per row, never document bodies.
    // Change detection compares digests; equality semantics are
    // identical (md5 collision odds are negligible at any corpus size)
    // and the per-source aggregate output is byte-for-byte unchanged.
    "q220_corpus_diff" -> ((s, d) => {
      def ws(c: Column): Column = {
        val cl = T.cleanText(c)
        when(cl === "", 0L).otherwise(size(split(cl, " ")).cast("long"))
      }
      val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      // presence is an EXPLICIT per-side flag, never the nullable
      // digest: a present row with NULL text must count in n_a/n_b
      // (the oracle keys presence on id), and chg inherits SQL
      // three-valued semantics — a NULL-text comparison is not a
      // change, exactly as the oracle's a.text <> b.text evaluates
      val a = base.where(pmod(did, lit(11)) =!= 3)
        .select(did.as("id"), col("source").as("source_a"),
          md5(col("text")).as("ha"), ws(col("text")).as("tok_a"),
          lit(true).as("pa"))
      val btext = when(pmod(did, lit(7)) === 0,
        concat(col("text"), lit(" appended v2 tokens"))).otherwise(col("text"))
      val b = base.where(pmod(did, lit(13)) =!= 5)
        .select(did.as("id"), col("source").as("source_b"),
          md5(btext).as("hb"), ws(btext).as("tok_b"),
          lit(true).as("pb"))
      a.join(b, Seq("id"), "full_outer")
        .select(coalesce(col("source_a"), col("source_b")).as("source"),
          coalesce(col("pa"), lit(false)).as("in_a"),
          coalesce(col("pb"), lit(false)).as("in_b"),
          (col("pa") && col("pb") && col("ha") =!= col("hb")).as("chg"),
          coalesce(col("tok_a"), lit(0L)).as("tok_a"),
          coalesce(col("tok_b"), lit(0L)).as("tok_b"))
        .groupBy("source").agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("in_b"), 1L).otherwise(0L)).as("n_b"),
          sum(when(col("in_b") && !col("in_a"), 1L).otherwise(0L)).as("n_added"),
          sum(when(col("in_a") && !col("in_b"), 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("chg"), 1L).otherwise(0L)).as("n_changed"),
          (sum("tok_b") - sum("tok_a")).as("tok_delta"))
    }),


    // Dataset content fingerprint — the reproducibility manifest a
    // 100 TB pipeline publishes per snapshot so replicas/reruns can
    // certify "same bytes" WITHOUT shipping rows: per source and
    // globally ('*'), an order-independent row-hash digest (bit_xor —
    // overflow-free and commutative at any scale), a mod-p checksum
    // lane (p = 1000003; distinct failure modes from xor: xor misses
    // even-multiplicity swaps, sum-mod misses xor-canceling pairs —
    // together they pin content), row count, and the hash extrema.
    // Text folds in via md5 so the hashed row string stays bounded.
    // Pure partial-agg shuffles; nothing wide, nothing collected.
    "q230_fingerprint" -> ((s, d) => {
      val h = graft.functions.HashFunctions.portableHash60(fpRowString)
      val rows = Tables.documents(s, d).select(col("source"), h.as("h"))
      def digest(df: DataFrame, key: Column) = df.groupBy(key.as("source"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor60"),
          (sum(pmod(col("h"), lit(1000003L))) % 1000003L).as("sum_mod"),
          min("h").as("h_min"), max("h").as("h_max"))
      digest(rows, col("source")).unionByName(digest(rows, lit("*")))
    }),


    // NUL-sentinel certification for the fingerprint row-string (round-9
    // advice): the driver fixture has no NULL lang/source/text, so the
    // chr(0) null-position sentinel in fpRowString/fpRowSql was only
    // hand-checked. This query UNIONS five synthetic rows — one per null
    // position plus all-null — into documents (negative doc_ids cannot
    // collide with the corpus) and emits each synthetic row's individual
    // digest lanes plus the global '*' digest over corpus+synthetics.
    // The DuckDB hash-match therefore certifies, every round, that both
    // engines agree byte-for-byte on EVERY null position — a mismatch
    // pinpoints which position diverged. Same shuffle shape as q230
    // (digest-only partial aggs; text folds in via md5 before grouping).
    "q239_fingerprint_nulls" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      def synth(id: Long, text: Column, lang: Column,
                source: Column, nChars: Column): DataFrame =
        s.range(1).select(lit(id).as("doc_id"), text.as("text"),
          lang.as("lang"), source.as("source"), nChars.cast("long").as("n_chars"))
      val nullS = lit(null).cast("string")
      val nullL = lit(null).cast("long")
      val pats = Seq(
        synth(-1L, nullS, lit("en"), lit("synth"), lit(7L)),
        synth(-2L, lit("t2"), nullS, lit("synth"), lit(7L)),
        synth(-3L, lit("t3"), lit("en"), nullS, lit(7L)),
        synth(-4L, lit("t4"), lit("en"), lit("synth"), nullL),
        synth(-5L, nullS, nullS, nullS, nullL)).reduce(_ unionByName _)
      val all = docs.unionByName(pats)
      val h = graft.functions.HashFunctions.portableHash60(fpRowString)
      val rows = all.select(col("doc_id"), h.as("h"))
      val per = rows.where(col("doc_id") < 0)
        .select(concat(lit("null_pat_"), (-col("doc_id")).cast("string")).as("source"),
          lit(1L).as("n_rows"), col("h").as("xor60"),
          pmod(col("h"), lit(1000003L)).as("sum_mod"),
          col("h").as("h_min"), col("h").as("h_max"))
      val tot = rows.groupBy(lit("*").as("source"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor60"),
          (sum(pmod(col("h"), lit(1000003L))) % 1000003L).as("sum_mod"),
          min("h").as("h_min"), max("h").as("h_max"))
      per.unionByName(tot)
    }),


    // Benford first-digit audit over l_extendedprice — the classic
    // fabricated-numbers screen run on ingested numeric feeds. The
    // expected Benford mass log10(1+1/d) is baked in as e6 INTEGER
    // constants (they sum to exactly 1,000,000), so no runtime log and
    // no cross-libm drift; observed mass is integer-div e6. One
    // 9-group aggregation; the digit extraction is a pure projection.
    "q233_benford" -> ((s, d) => {
      val be6 = Map(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L)
      val expected = be6.toSeq.sortBy(_._1)
        .map { case (dg, e) => struct(lit(dg).as("digit"), lit(e).as("expected_e6")) }
      val exp = s.range(1).select(explode(array(expected: _*)).as("s"))
        .select(col("s.digit").as("digit"), col("s.expected_e6").as("expected_e6"))
      val digits = Tables.lineitem(s, d)
        .select(substring(floor(col("l_extendedprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("cnt"))
      // total FOLDS from the 9-row joined frame (coalesced, so a digit
      // absent from the data still gets the global total) — a separate
      // agg branch would scan lineitem twice (q250 lesson)
      exp.join(digits, Seq("digit"), "left")
        .withColumn("total", sum(coalesce(col("cnt"), lit(0L))).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("digit"), coalesce(col("cnt"), lit(0L)).as("cnt"),
          col("total"), col("expected_e6"),
          expr("(coalesce(cnt, 0) * 1000000) div total").as("obs_e6"),
          abs(expr("(coalesce(cnt, 0) * 1000000) div total")
            - col("expected_e6")).as("dev_e6"))
    }),


    // FINGERPRINT SHARD-MERGE LAW: two shards (even/odd doc ids) build
    // q230's digests independently; digests fold lane-wise (counts
    // add, xor lanes xor, mod-p lanes add mod p, extrema min/max) per
    // source, and the global '*' row folds AGAIN from the per-source
    // merged digests — two levels of merge. The oracle computes q230's
    // un-split answer directly, so the hash match certifies
    // state(A) ⊕ state(B) == state(A ∪ B) end to end — extending the
    // oracle-certified mergeable-state family (k-means q173, novelty
    // q182, HLL q186, percentiles q187) to the reproducibility
    // manifest: per-day/per-shard digests roll up without raw rows.
    "q234_fingerprint_merge" -> ((s, d) => {
      val h = graft.functions.HashFunctions.portableHash60(fpRowString)
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), h.as("h"))
      def digest(df: DataFrame) = df.groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor60"),
          (sum(pmod(col("h"), lit(1000003L))) % 1000003L).as("sum_mod"),
          min("h").as("h_min"), max("h").as("h_max"))
      val a = digest(rows.where(pmod(col("doc_id"), lit(2)) === 0))
      val b = digest(rows.where(pmod(col("doc_id"), lit(2)) === 1))
      val lanes = Seq("n_rows", "xor60", "sum_mod", "h_min", "h_max")
      // per-lane identities for a shard missing the source: 0 for the
      // additive and xor lanes; least/greatest skip nulls natively
      def z(c: String) = coalesce(col(c), lit(0L))
      val perSource = a.select(col("source") +: lanes.map(c => col(c).as(c + "_a")): _*)
        .join(b.select(col("source") +: lanes.map(c => col(c).as(c + "_b")): _*),
          Seq("source"), "full_outer")
        .select(col("source"),
          (z("n_rows_a") + z("n_rows_b")).as("n_rows"),
          z("xor60_a").bitwiseXOR(z("xor60_b")).as("xor60"),
          ((z("sum_mod_a") + z("sum_mod_b")) % 1000003L).as("sum_mod"),
          least(col("h_min_a"), col("h_min_b")).as("h_min"),
          greatest(col("h_max_a"), col("h_max_b")).as("h_max"))
      val global = perSource.agg(
        sum("n_rows").as("n_rows"), expr("bit_xor(xor60)").as("xor60"),
        (sum("sum_mod") % 1000003L).as("sum_mod"),
        min("h_min").as("h_min"), max("h_max").as("h_max"))
        .select(lit("*").as("source"), col("n_rows"), col("xor60"),
          col("sum_mod"), col("h_min"), col("h_max"))
      perSource.unionByName(global)
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // One UNION ALL arm per profiled column; long/string columns only,
    // so CAST AS VARCHAR renders identically in both engines.
    "q116_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      .map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           | count(*) - count($c) AS n_null,
           | count(DISTINCT $c) AS n_distinct,
           | min(CAST($c AS VARCHAR)) AS min_s,
           | max(CAST($c AS VARCHAR)) AS max_s FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n"),


    // Same dirty corpus (planted pk/fk/domain violations), one arm per
    // check.
    "q117_constraints" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |dirty AS (SELECT * FROM o
        | UNION ALL
        | SELECT o_orderkey, -o_custkey, -cents FROM o WHERE o_orderkey % 997 = 0),
        |pk AS (SELECT count(*) AS n FROM (
        |  SELECT o_orderkey FROM dirty GROUP BY 1 HAVING count(*) > 1)),
        |fk AS (SELECT count(*) AS n FROM dirty
        | WHERE o_custkey IS NOT NULL
        |  AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |nn AS (SELECT count(*) AS n FROM dirty WHERE o_custkey IS NULL),
        |dom AS (SELECT count(*) AS n FROM dirty WHERE cents <= 0)
        |SELECT 'orders_pk_unique' AS check_name, n AS n_violations, n = 0 AS passed FROM pk
        |UNION ALL
        |SELECT 'orders_fk_customer', n, n = 0 FROM fk
        |UNION ALL
        |SELECT 'orders_custkey_not_null', n, n = 0 FROM nn
        |UNION ALL
        |SELECT 'orders_price_positive', n, n = 0 FROM dom""".stripMargin,


    "q118_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT k, cents AS old_v FROM o WHERE k % 11 <> 3),
        |b AS (SELECT k, CASE WHEN k % 7 = 0 THEN cents + 100 ELSE cents END AS new_v
        | FROM o WHERE k % 13 <> 5)
        |SELECT coalesce(a.k, b.k) AS o_orderkey,
        | CASE WHEN a.k IS NULL THEN 'added'
        |      WHEN b.k IS NULL THEN 'removed'
        |      ELSE 'changed' END AS status,
        | a.old_v, b.new_v
        |FROM a FULL OUTER JOIN b ON b.k = a.k
        |WHERE a.k IS NULL OR b.k IS NULL OR a.old_v <> b.new_v""".stripMargin,


    // Same collapse-then-version window chain; (ts, event_id) totally
    // orders each user's history on both sides.
    "q120_scd2" ->
      """WITH o AS (SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id FROM o
        | WHERE prev IS NULL OR prev <> event_type),
        |v AS (SELECT user_id, event_type, ts,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
        | FROM c)
        |SELECT user_id, event_type AS attr,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
        | strftime(valid_to, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        | CAST(version AS BIGINT) AS version,
        | valid_to IS NULL AS is_current
        |FROM v""".stripMargin,


    // Same I/U/D batch, applied via FULL OUTER + coalesce.
    "q121_merge_upsert" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |t AS (SELECT k, cents FROM o WHERE k % 5 <> 4),
        |b AS (SELECT k, cents AS v, 'I' AS op FROM o WHERE k % 5 = 4
        | UNION ALL SELECT k, cents + 7, 'U' FROM o WHERE k % 5 = 0
        | UNION ALL SELECT k, NULL, 'D' FROM o WHERE k % 5 = 1)
        |SELECT coalesce(t.k, b.k) AS o_orderkey,
        | coalesce(b.v, t.cents) AS cents
        |FROM t FULL OUTER JOIN b ON b.k = t.k
        |WHERE b.op IS NULL OR b.op <> 'D'""".stripMargin,


    "q145_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        | count(*) < 10 AS violates
        |FROM customer GROUP BY 1, 2""".stripMargin,


    // The q118 diff with status -> op; D rows carry NULL values on
    // both sides.
    "q153_cdc_feed" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT k, cents AS old_v FROM o WHERE k % 11 <> 3),
        |b AS (SELECT k, CASE WHEN k % 7 = 0 THEN cents + 100 ELSE cents END AS new_v
        | FROM o WHERE k % 13 <> 5),
        |d AS (SELECT coalesce(a.k, b.k) AS o_orderkey,
        |  CASE WHEN a.k IS NULL THEN 'I'
        |       WHEN b.k IS NULL THEN 'D'
        |       ELSE 'U' END AS op,
        |  b.new_v AS cents
        | FROM a FULL OUTER JOIN b ON b.k = a.k
        | WHERE a.k IS NULL OR b.k IS NULL OR a.old_v <> b.new_v)
        |SELECT o_orderkey, cents, op FROM d""".stripMargin,


    "q154_freshness" ->
      """WITH per AS (SELECT event_type, max(epoch_us(ts)) AS max_us,
        |  count(*) AS n FROM events GROUP BY 1),
        |g AS (SELECT max(epoch_us(ts)) AS global_us FROM events)
        |SELECT event_type, CAST(n AS BIGINT) AS n, max_us,
        | global_us - max_us AS lag_us,
        | global_us - max_us > 3600000000 AS stale
        |FROM per CROSS JOIN g""".stripMargin,


    "q161_backfill_plan" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_idx
        | FROM events),
        |observed AS (SELECT DISTINCT event_type, day, day_idx FROM ev
        | WHERE NOT (event_type = 'click' AND day_idx % 7 = 0)),
        |days AS (SELECT DISTINCT day, day_idx FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT t.event_type, strftime(d.day, '%Y-%m-%d') AS day,
        | CAST(d.day_idx AS BIGINT) AS day_idx
        |FROM types t CROSS JOIN days d
        |WHERE NOT EXISTS (SELECT 1 FROM observed o
        | WHERE o.event_type = t.event_type AND o.day = d.day)""".stripMargin,


    // Same merged-cell cumulative CDFs, same integer D; v_at_max ties
    // break to the smallest value on both sides.
    "q162_ks_drift" ->
      """WITH a AS (SELECT n_chars AS v, count(*) AS ca FROM documents GROUP BY 1),
        |b0 AS (SELECT CASE WHEN doc_id % 4 = 0 THEN n_chars + 40 ELSE n_chars END AS v
        | FROM documents),
        |b AS (SELECT v, count(*) AS cb FROM b0 GROUP BY 1),
        |m AS (SELECT coalesce(a.v, b.v) AS v,
        |  coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0) AS cb
        | FROM a FULL OUTER JOIN b ON b.v = a.v),
        |c AS (SELECT v, ca, cb,
        |  sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |  sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
        |  sum(ca) OVER () AS tot_a, sum(cb) OVER () AS tot_b
        | FROM m),
        |dd AS (SELECT v, tot_a, tot_b,
        |  abs((cum_a * 10000) // tot_a - (cum_b * 10000) // tot_b) AS d FROM c)
        |SELECT CAST(max(tot_a) AS BIGINT) AS n_a, CAST(max(tot_b) AS BIGINT) AS n_b,
        | CAST(max(d) AS BIGINT) AS ks_bp,
        | CAST(min(v) FILTER (d = (SELECT max(d) FROM dd)) AS BIGINT) AS v_at_max
        |FROM dd""".stripMargin,


    // q15's quality CTEs feed annotator 1, m.n_tokens annotator 2; the
    // 2x2 marginal identity S = n1·n2 + (n−n1)(n−n2) makes kappa one
    // integer division on both sides.
    "q206_kappa" ->
      s"""WITH $qualityCtes,
         |j AS (SELECT CASE WHEN $qualityExprSql >= 0.5 THEN 1 ELSE 0 END AS a1,
         |  CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END AS a2 FROM m),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN a1 = a2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST(sum(a1) AS BIGINT) AS n_pos_quality,
         |  CAST(sum(a2) AS BIGINT) AS n_pos_length FROM j)
         |SELECT n, n_agree, n_pos_quality, n_pos_length,
         | CASE WHEN n * n = n_pos_quality * n_pos_length
         |   + (n - n_pos_quality) * (n - n_pos_length) THEN CAST(10000 AS BIGINT)
         |  ELSE ((n * n_agree - n_pos_quality * n_pos_length
         |    - (n - n_pos_quality) * (n - n_pos_length)) * 10000)
         |   // (n * n - n_pos_quality * n_pos_length
         |    - (n - n_pos_quality) * (n - n_pos_length)) END AS kappa_e4
         |FROM a""".stripMargin,


    // The e4-rounded quality recovers the engine's integer confidence
    // exactly; decile binning, per-bin means and gaps are all integer
    // division on identical operands.
    "q211_calibration" ->
      s"""WITH $qualityCtes,
         |s0 AS (SELECT CAST(floor($qualityExprSql * 10000 + 0.5) AS BIGINT) AS conf_e4,
         |  CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END AS y FROM m),
         |b AS (SELECT least(conf_e4 // 1000, 9) AS bin, conf_e4, y FROM s0),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(conf_e4) AS BIGINT) AS sc, CAST(sum(y) AS BIGINT) AS n_pos
         | FROM b GROUP BY bin)
         |SELECT bin, n, sc // n AS conf_e4, (n_pos * 10000) // n AS acc_e4,
         | abs(sc // n - (n_pos * 10000) // n) AS gap_e4 FROM g""".stripMargin,


    // The same planted snapshot pair; DuckDB's full outer join and
    // identical whitespace token counts on the REWRITTEN B text.
    "q220_corpus_diff" ->
      s"""WITH a AS (SELECT doc_id AS id, source, text,
         |  CAST(len($toksSql) AS BIGINT) AS tok
         | FROM documents WHERE doc_id % 11 <> 3),
         |b0 AS (SELECT doc_id AS id, source,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' appended v2 tokens' ELSE text END AS text
         | FROM documents WHERE doc_id % 13 <> 5),
         |b AS (SELECT id, source, text, CAST(len($toksSql) AS BIGINT) AS tok FROM b0),
         |j AS (SELECT coalesce(a.source, b.source) AS source,
         |  a.id IS NOT NULL AS in_a, b.id IS NOT NULL AS in_b,
         |  a.id IS NOT NULL AND b.id IS NOT NULL AND a.text <> b.text AS chg,
         |  coalesce(a.tok, 0) AS tok_a, coalesce(b.tok, 0) AS tok_b
         | FROM a FULL OUTER JOIN b ON b.id = a.id)
         |SELECT source,
         | CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         | CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         | CAST(sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         | CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         | CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         | CAST(sum(tok_b) - sum(tok_a) AS BIGINT) AS tok_delta
         |FROM j GROUP BY source""".stripMargin,


    // Same row-string → md5-60bit hash, same four digest lanes; the
    // global row re-aggregates under source = '*'.
    "q230_fingerprint" ->
      s"""WITH h AS (SELECT source,
        |  ('0x' || substr(md5($fpRowSql), 1, 15))::BIGINT AS h
        | FROM documents),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor60,
        |  CAST(sum(h % 1000003) % 1000003 AS BIGINT) AS sum_mod,
        |  CAST(min(h) AS BIGINT) AS h_min, CAST(max(h) AS BIGINT) AS h_max
        | FROM h GROUP BY source),
        |tot AS (SELECT '*' AS source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor60,
        |  CAST(sum(h % 1000003) % 1000003 AS BIGINT) AS sum_mod,
        |  CAST(min(h) AS BIGINT) AS h_min, CAST(max(h) AS BIGINT) AS h_max
        | FROM h)
        |SELECT * FROM per UNION ALL SELECT * FROM tot""".stripMargin,


    // Same synthetic null rows UNION'd in via VALUES; the hash-match is
    // the cross-engine certificate for every chr(0) null position.
    "q239_fingerprint_nulls" ->
      s"""WITH all_rows AS (
        | SELECT doc_id, text, lang, source, n_chars FROM documents
        | UNION ALL
        | SELECT CAST(v.doc_id AS BIGINT), CAST(v.text AS VARCHAR),
        |   CAST(v.lang AS VARCHAR), CAST(v.source AS VARCHAR),
        |   CAST(v.n_chars AS BIGINT)
        | FROM (VALUES
        |   (-1, NULL, 'en', 'synth', 7),
        |   (-2, 't2', NULL, 'synth', 7),
        |   (-3, 't3', 'en', NULL, 7),
        |   (-4, 't4', 'en', 'synth', NULL),
        |   (-5, NULL, NULL, NULL, NULL)) AS v(doc_id, text, lang, source, n_chars)),
        |h AS (SELECT doc_id,
        |  ('0x' || substr(md5($fpRowSql), 1, 15))::BIGINT AS h
        | FROM all_rows),
        |per AS (SELECT 'null_pat_' || CAST(-doc_id AS VARCHAR) AS source,
        |  CAST(1 AS BIGINT) AS n_rows, CAST(h AS BIGINT) AS xor60,
        |  CAST(h % 1000003 AS BIGINT) AS sum_mod,
        |  CAST(h AS BIGINT) AS h_min, CAST(h AS BIGINT) AS h_max
        | FROM h WHERE doc_id < 0),
        |tot AS (SELECT '*' AS source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor60,
        |  CAST(sum(h % 1000003) % 1000003 AS BIGINT) AS sum_mod,
        |  CAST(min(h) AS BIGINT) AS h_min, CAST(max(h) AS BIGINT) AS h_max
        | FROM h)
        |SELECT * FROM per UNION ALL SELECT * FROM tot""".stripMargin,


    // Same e6 Benford constants (they sum to exactly 1e6), same
    // integer-div observed mass.
    "q233_benford" ->
      """WITH exp AS (SELECT * FROM (VALUES
        |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        |  (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |  AS t(digit, expected_e6)),
        |dg AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        | FROM lineitem),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM dg GROUP BY digit),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT e.digit, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt, tt.total,
        | CAST(e.expected_e6 AS BIGINT) AS expected_e6,
        | (coalesce(c.cnt, 0) * 1000000) // tt.total AS obs_e6,
        | abs((coalesce(c.cnt, 0) * 1000000) // tt.total - e.expected_e6) AS dev_e6
        |FROM exp e LEFT JOIN c USING (digit) CROSS JOIN tt""".stripMargin,


    // The ORACLE is q230's direct un-split computation — the engine
    // answers from two shard digests folded lane-wise (then folded
    // again for '*'), so the hash match IS the merge-law certificate.
    "q234_fingerprint_merge" ->
      s"""WITH h AS (SELECT source,
        |  ('0x' || substr(md5($fpRowSql), 1, 15))::BIGINT AS h
        | FROM documents),
        |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor60,
        |  CAST(sum(h % 1000003) % 1000003 AS BIGINT) AS sum_mod,
        |  CAST(min(h) AS BIGINT) AS h_min, CAST(max(h) AS BIGINT) AS h_max
        | FROM h GROUP BY source),
        |tot AS (SELECT '*' AS source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor60,
        |  CAST(sum(h % 1000003) % 1000003 AS BIGINT) AS sum_mod,
        |  CAST(min(h) AS BIGINT) AS h_min, CAST(max(h) AS BIGINT) AS h_max
        | FROM h)
        |SELECT * FROM per UNION ALL SELECT * FROM tot""".stripMargin,
  )
}

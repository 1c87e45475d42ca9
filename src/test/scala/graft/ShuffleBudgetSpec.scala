package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** MEASURED shuffle budgets: the "shuffle only keys and sketches, never
  * payloads" design rule asserted quantitatively. Each query's total
  * shuffle-write bytes must stay a small fraction of its payload size —
  * a regression that starts shuffling text/embeddings (a dropped
  * partial-agg, a widened projection before an exchange) fails here
  * even while results stay correct. Three sketch-merge queries also
  * return the same rows at 1 and 7 shuffle partitions.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Execute the query's own plan and sum shuffleBytesWritten across
    * every exchange (descending into AQE stages).
    */
  private def shuffleBytes(df: DataFrame): Long = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    def walk(p: SparkPlan): Seq[SparkPlan] =
      Seq(p) ++ p.children.flatMap(walk) ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => Seq.empty
      })
    walk(qe.executedPlan).collect { case s: ShuffleExchangeLike =>
      s.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
    }.sum
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("dedup and curation shuffle digests, not document text") {
    val textBytes = Tables.documents(spark, sf)
      .agg(sum(length(col("text")))).collect().head.getLong(0)
    assert(textBytes > 100000L, s"corpus unexpectedly small: $textBytes")
    // exact dedup shuffles (digest, id): ~22 KB observed vs ~150 KB text
    val dedup = shuffleBytes(q("q13_exact_dedup"))
    assert(dedup < textBytes / 3,
      s"q13 shuffled $dedup bytes — payload-sized vs $textBytes of text")
    // minhash LSH shuffles the band-KEY sketch table once (the capped
    // bucket aggregation) — bound against the sketch table's OWN
    // serialized size, not the text. The pre-r11 plan measured ~7 KB
    // here, but only because its broadcast-anti guard let AQE broadcast
    // everything at this SF — the same guard collected >1 GiB to the
    // driver on the 100× probe. The honest scale cost is one pass of
    // the (id, band, bk) rows; these fixture docs are ~300 B so the
    // 16-band key table rivals the text, while at production doc sizes
    // the identical sketch cost is ≪ payload.
    val lsh = shuffleBytes(q("q25_minhash_neardups"))
    // (shingleN, numPerms, bands) mirror minhashNearDupsPortable's
    // defaults — q25 calls it with defaults, so these must track them
    val keyed = graft.operators.DedupOps.minhashBandRowsPortable(
      graft.operators.DedupOps.hashedShingleRowsPortable(
        graft.queries.Fixtures.dupCorpus(Tables.documents(spark, sf)),
        "id", "text", 3), 64, 16)
    val sketchBytes = keyed
      .agg(sum(length(col("bk")) + lit(16))).collect().head.getLong(0)
    // TIGHT bound: the sketch table crosses the wire once (the capped
    // bucket aggregation) plus pair/verify rows ≪ textBytes/3. A
    // regression that widens any pre-exchange projection to include
    // the text column adds ≥ textBytes and fails. (2·sketchBytes was
    // briefly used here and would have masked exactly that leak —
    // these fixture docs are ~300 B, so the 16-band key table is
    // ~4× the text; at production doc sizes the same sketch is ≪ it.)
    assert(lsh < sketchBytes + textBytes / 3,
      s"q25 shuffled $lsh bytes vs $sketchBytes-byte band-key sketch " +
        s"+ ${textBytes / 3} slack; document payloads are leaking into an exchange")
    GraftCache.releaseAll(spark)
    spark.catalog.clearCache()
  }

  test("top-k ANN shuffles bounded heaps, not scored embeddings") {
    val embBytes = Tables.embeddings(spark, sf)
      .agg(sum(size(col("embedding")) * 4)).collect().head.getLong(0)
    // the Q x N scored cross product would dwarf the corpus itself; the
    // partial TopK carries k rows per group per map task (~2.4 KB)
    val ann = shuffleBytes(q("q28_bruteforce_topk"))
    assert(ann < embBytes / 10,
      s"q28 shuffled $ann bytes vs $embBytes of embeddings — heap aggregation lost?")
  }

  test("snapshot CDC shuffles the changed files' slice, never the table") {
    // the fixture table holds ALL of lineitem across its versions; the
    // q274 diff (one appended quarter + the deleted ~10% range through
    // keyed anti-joins + the group-by) must cost a fraction of a
    // whole-table exchange
    val tableBytes = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag")
      .agg(sum(lit(8L * 3) + lit(8L) + length(col("l_returnflag"))))
      .collect().head.getLong(0)
    val cdc = shuffleBytes(q("q274_snapshot_cdc"))
    assert(cdc < tableBytes,
      s"q274 shuffled $cdc bytes vs ~$tableBytes of table payload — " +
        "the diff is reading carried files or joining unpruned sides")
  }

  test("apriori pairs shuffle tokens and pair keys, never document text") {
    val textBytes = Tables.documents(spark, sf)
      .agg(sum(length(col("text")))).collect().head.getLong(0)
    // the token/count passes shuffle (token, count) and the basket
    // stage shuffles (doc, frequent-token set); the text column itself
    // must never reach an exchange
    val pairs = shuffleBytes(q("q278_frequent_pairs"))
    assert(pairs < textBytes,
      s"q278 shuffled $pairs bytes vs $textBytes of text — " +
        "document payloads are leaking into an exchange")
  }

  /** `name`'s rows, sorted, at `partitions` shuffle partitions. The cache
    * is cleared first, so no frame persisted at another setting is reused.
    */
  private def rowsAt(name: String, partitions: Int): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    GraftCache.releaseAll(spark)
    spark.catalog.clearCache()
    spark.conf.set(key, partitions.toString)
    try q(name).collect().map(_.toString).sorted.toSeq
    finally {
      spark.conf.set(key, prior)
      GraftCache.releaseAll(spark)
      spark.catalog.clearCache()
    }
  }

  // results do not depend on the shuffle-partition count
  for (name <- Seq("q241_mg_merge", "q186_hll_merge", "q251_kmv_intersect"))
    test(s"$name: the same rows at 1 and 7 shuffle partitions") {
      val one = rowsAt(name, 1)
      assert(one.nonEmpty)
      assert(rowsAt(name, 7) == one)
    }
}

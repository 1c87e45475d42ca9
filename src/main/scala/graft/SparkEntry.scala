package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the LLM-data-pipeline operators, each with a
  * DuckDB-equivalent `oracleSql` where SQL-expressible.
  *
  * Conventions shared by every query/oracle pair:
  *  - every computed column is aliased identically on both sides (the
  *    driver's compare sorts columns by name before hashing);
  *  - double aggregates are rounded via [[graft.functions.Rounding]]
  *    (binary-deterministic `floor(x*10^k + 0.5)`) with the SAME expression
  *    in the oracle SQL, so neither FP summation-order noise nor
  *    decimal-vs-binary round-half semantics can flip the hash;
  *  - synthetic inputs (URLs, HTML pages, media metadata) are constructed
  *    deterministically from table columns with identical expressions in
  *    Spark and SQL, so the oracle can state the expected OUTPUT directly.
  *
  * Queries with no oracle entry use Spark-specific hashing (xxhash64) or
  * seeded RNG that DuckDB cannot reproduce; they get the driver's
  * rows-only check and are deterministic by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The training-manifest pipeline (q157) composes the
    * engine end to end: curate → dedup → domain cap → split → pack.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q157_training_manifest")(spark, "/root/testdata/sf0.001")

  import graft.queries._

  private val modules = Seq(
    RelationalQueries.queries -> RelationalQueries.oracleSql,
    ScrapeQueries.queries -> ScrapeQueries.oracleSql,
    DeltaQueries.queries -> DeltaQueries.oracleSql,
    DedupQueries.queries -> DedupQueries.oracleSql,
    SimilarityQueries.queries -> SimilarityQueries.oracleSql,
    RetrievalQueries.queries -> RetrievalQueries.oracleSql,
    TextQueries.queries -> TextQueries.oracleSql,
    CurationQueries.queries -> CurationQueries.oracleSql,
    MultimodalQueries.queries -> MultimodalQueries.oracleSql,
    StatsQueries.queries -> StatsQueries.oracleSql,
    QualityQueries.queries -> QualityQueries.oracleSql,
    JoinsQueries.queries -> JoinsQueries.oracleSql,
    GraphQueries.queries -> GraphQueries.oracleSql,
    TimeSeriesQueries.queries -> TimeSeriesQueries.oracleSql,
    LayoutQueries.queries -> LayoutQueries.oracleSql,
  )

  /** Union of every family module's contract queries. Family maps have
    * disjoint key sets (asserted), so ++ order cannot shadow an entry.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val maps = modules.map(_._1)
    val n = maps.map(_.size).sum
    val merged = maps.reduce(_ ++ _)
    require(merged.size == n, s"duplicate query names across modules: ${n - merged.size}")
    merged
  }

  /** Union of every family module's oracle SQL, under the same
    * disjoint-key guarantee as [[queries]] — a query name accidentally
    * given oracle SQL in two modules must fail loudly, not be shadowed
    * by module order.
    */
  def oracleSql: Map[String, String] = {
    val maps = modules.map(_._2)
    val n = maps.map(_.size).sum
    val merged = maps.reduce(_ ++ _)
    require(merged.size == n, s"duplicate oracle names across modules: ${n - merged.size}")
    merged
  }
}

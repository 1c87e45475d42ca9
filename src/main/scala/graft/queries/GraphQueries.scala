package graft.queries

import graft.Tables
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics: PageRank (unrolled + RDD-loop deep), triangle
  * counting, BFS distances (unrolled + RDD-loop deep).
  *
  * Contract queries: q105_pagerank, q122_triangles, q141_bfs_distance,
  * q167_bfs_deep, q168_pagerank_deep, q184_link_rank, q194_anchor_text,
  * q198_hits, q200_label_prop, q201_random_walks, q208_modularity,
  * q229_kcore, q247_hierarchy_rollup, q248_hierarchy_rollup_deep.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object GraphQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Crawl-to-rank COMPOSITION (scrape family × graph family): each
    // doc renders a deterministic HTML page whose two <a href> targets
    // are exactly q105's literal edges; the query extracts the link
    // graph with codegen'd regexp_extract_all (no UDF) and ranks it.
    // The oracle is q105's — it ranks the edges DIRECTLY, so any
    // extraction slip (missed href, order, bad cast) changes the edge
    // multiset and breaks the hash. This is the whole crawl-frontier
    // pipeline: fetch -> parse links -> rank what to fetch next.
    "q184_link_rank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val html = concat(lit("<ul><li><a href=\"/doc/"),
        pmod(did * 31L + 7L, lit(500L)).cast("string"),
        lit("\">a</a></li><li><a href=\"/doc/"),
        pmod(did * 17L + 3L, lit(500L)).cast("string"),
        lit("\">b</a></li></ul>"))
      val edges = docs.select(did.as("src"), html.as("html"))
        .select(col("src"), explode(
          expr("regexp_extract_all(html, 'href=\"/doc/([0-9]+)\"', 1)")).as("dst"))
        .select(col("src"), col("dst").cast("long").as("dst"))
      GraphOps.pageRankFixedPoint(edges, iters = 3)
    }),


    // Fixed-point PageRank (3 iterations, damping 0.85) over a
    // deterministic literal link graph on doc ids — integer division
    // everywhere, so the iteration is hash-exact cross-engine.
    "q105_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 17L + 3L, lit(500L)).as("dst")))
      GraphOps.pageRankFixedPoint(edges, iters = 3)
    }),


    // Degree-oriented triangle counting over a literal ring+chord link
    // graph (i->i+1, i->i+2, i->31i+7 mod 500 — every consecutive
    // triple plus chords closes triangles, so the zero answer can't
    // pass vacuously): orientation caps every out-degree at O(sqrt(m)),
    // so the wedge join stays O(m^1.5) on ANY graph — the oracle counts
    // the same triangles via an independent a<b<c three-way self-join.
    "q122_triangles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did + 1L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did + 2L, lit(500L)).as("dst")))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst")))
      GraphOps.triangleCount(edges)
    }),


    // Multi-source BFS on the q122 link graph: hop distance from the
    // nearest of three seed docs (the crawl-frontier / TrustRank-depth
    // signal), 4 unrolled frontier expansions, min-dist union per hop.
    "q141_bfs_distance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did + 1L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did + 2L, lit(500L)).as("dst")))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst")))
      GraphOps.bfsDistances(edges, Seq(0L, 100L, 200L), maxHops = 4)
    }),

    // DEEP traversal: single-source BFS down a diameter-50 path
    // (0-1-...-50) — past the 8-hop unrolled-plan cap, so this drives
    // the RDD loop (one narrow co-partitioned join + one shuffle per
    // hop, frontier-empty convergence). Every node is reached at
    // dist = id, so a truncated traversal cannot pass vacuously.
    "q167_bfs_deep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.where(did < 50)
        .select(did.as("src"), (did + 1L).as("dst"))
      GraphOps.bfsDistancesDeep(edges, Seq(0L), maxHops = 64)
    }),

    // The RDD-loop PageRank pinned to 3 iterations (tolFp=0 so only
    // exact convergence can stop it earlier, which changes nothing) —
    // hash-checked against the SAME DuckDB oracle as the unrolled q105,
    // proving the deep path is bit-identical to the Catalyst one.
    "q168_pagerank_deep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 17L + 3L, lit(500L)).as("dst")))
      GraphOps.pageRankDeep(edges, tolFp = 0L, maxIter = 3)
    }),


    // Anchor-text aggregation — the web-graph signal a crawl pipeline
    // attaches to every target: links reuse q105's edge fixture, each
    // carrying an anchor term derived from its source; per target emit
    // in-degree, distinct linking sources, and the plurality anchor.
    // Top-anchor selection is min(struct(-cnt, term)) over per-
    // (dst, term) counts — two map-side-combinable aggregations, never
    // a window over raw links, so the plan carries (dst, term) partial
    // counts, not link rows, into the shuffle.
    "q194_anchor_text" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val links = docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst"),
          concat(lit("term"), pmod(did, lit(20L))).as("anchor"))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 17L + 3L, lit(500L)).as("dst"),
          concat(lit("term"), pmod(did * 3L + 1L, lit(20L))).as("anchor")))
      val perTerm = links.groupBy("dst", "anchor")
        .agg(count(lit(1)).as("cnt"))
      val top = perTerm.groupBy("dst").agg(
        min(struct((-col("cnt")).as("neg"), col("anchor").as("term"))).as("m"),
        sum("cnt").as("in_deg"))
      val nsrc = links.groupBy("dst").agg(countDistinct("src").as("n_src"))
      top.join(nsrc, "dst")
        .select(col("dst"), col("in_deg"), col("n_src"),
          col("m.term").as("top_anchor"), (-col("m.neg")).as("top_anchor_n"))
    }),


    // HITS hubs & authorities on q105's edge fixture, 2 synchronous
    // iterations, all-integer L1 normalization — the link-quality
    // counterpart to PageRank's single score (a page can be a great
    // directory and a poor destination; HITS separates the two).
    "q198_hits" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 17L + 3L, lit(500L)).as("dst")))
      GraphOps.hitsFixedPoint(edges, iters = 2)
    }),


    // Label propagation: every 10th embedding's label seeds its graph
    // node (ids align 0..499 by fixture construction); two clamped
    // synchronous rounds spread the labels over the undirected edge
    // fixture. The transductive "label 10%, spread the rest" step of a
    // taxonomy pipeline.
    "q200_label_prop" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 17L + 3L, lit(500L)).as("dst")))
      val seeds = Tables.embeddings(s, d)
        .where(pmod(col("vec_id"), lit(10)) === 0)
        .select(col("vec_id").as("id"), col("label"))
      GraphOps.labelPropagation(edges, seeds, iters = 2)
    }),


    // DeepWalk-style corpus generation: 4-step deterministic walks from
    // every 25th node over the edge fixture — the (start, step, node)
    // traces a graph-embedding trainer consumes, regenerable from the
    // seed instead of stored.
    "q201_random_walks" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          pmod(did * 31L + 7L, lit(500L)).as("dst"))
        .unionByName(docs.select(did.as("src"),
          pmod(did * 17L + 3L, lit(500L)).as("dst")))
      GraphOps.randomWalks(edges,
        docs.where(pmod(did, lit(25)) === 0).select(did.as("start")),
        steps = 4, seed = "walk")
    }),


    // Newman modularity of a known partition over a PLANTED community
    // graph: intra edges stay inside each node's 125-block by
    // construction ((id div 125)·125 + (31·id+7) mod 125), every 10th
    // node adds a +137-mod-500 bridge that mostly crosses blocks — so
    // Q is provably positive but below 1, and the bridge mass shows up
    // in the per-community e_in/deg_sum imbalance. Exact integer
    // numerators over 4m² (no FP), the quality gate for q200's
    // label-prop output.
    "q208_modularity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select(did.as("src"),
          expr("(doc_id div 125) * 125 + pmod(doc_id * 31 + 7, 125)").as("dst"))
        .unionByName(docs.where(pmod(did, lit(10)) === 0)
          .select(did.as("src"), pmod(did + 137L, lit(500L)).as("dst")))
      val nodes = edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id"))).distinct()
      val communities = nodes.select(col("id"), expr("id div 125").as("community"))
      GraphOps.modularity(edges, communities)
    }),


    // k-core decomposition (k = 2) over a planted peel-cascade graph:
    // per 16-id block, an 8-node circulant (offsets ±1, ±2 — degree 4,
    // survives), a 4-node pendant chain hung off the block head (peels
    // back one node per round — the cascade the one-shot degree filter
    // can't see), and an isolated pair (peels round 1). The engine runs
    // the RDD peeling loop to FIXPOINT; the oracle unrolls 8 peel
    // rounds — peeling is idempotent at fixpoint, so any unroll >= the
    // true peel depth (5 on full blocks) matches exactly.
    "q229_kcore" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val r = pmod(did, lit(16L))
      val base = expr("(doc_id div 16) * 16")
      val circ = docs.where(r < 8)
      val e1 = circ.select(did.as("src"),
        (base + pmod(r + 1L, lit(8L))).as("dst"))
      val e2 = circ.select(did.as("src"),
        (base + pmod(r + 2L, lit(8L))).as("dst"))
      val e3 = docs.where(r >= 8L && r <= 10L)
        .select(did.as("src"), (did + 1L).as("dst"))
      val e4 = docs.where(r === 0L)
        .select(did.as("src"), (did + 8L).as("dst"))
      val e5 = docs.where(r === 12L)
        .select(did.as("src"), (did + 1L).as("dst"))
      GraphOps.kCore(
        e1.unionByName(e2).unionByName(e3).unionByName(e4).unionByName(e5),
        k = 2)
    }),


    // HIERARCHY SUBTREE ROLLUP: the recursive-CTE aggregation of a
    // chart-of-accounts / category-taxonomy table — per node, the
    // descendant count, subtree balance, and depth. Customers form a
    // deterministic 4-ary tree (parent = custkey div 4, root 0);
    // balances roll up in binary-deterministic cents. The ENGINE runs
    // the generic parent-TABLE closure (GraphOps.subtreeRollup — 8
    // unrolled co-keyed joins, works on arbitrary parent pointers);
    // the ORACLE exploits the arithmetic parent in a WITH RECURSIVE —
    // two INDEPENDENT formulations, so the hash match checks the
    // closure construction itself, not a shared derivation.
    "q247_hierarchy_rollup" -> ((s, d) => {
      // maxDepth 12 (the unrolled ceiling) covers custkey < 4^12 ≈ 16.7M,
      // i.e. every SF this engine targets — 8 only reached custkey < 65536
      // and would silently truncate the closure past sf ≈ 0.44.
      val nodes = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("id"),
        when(col("c_custkey") > 0, expr("c_custkey div 4")).as("parent"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
      GraphOps.subtreeRollup(nodes, "id", "parent", "cents", maxDepth = 12)
        .withColumnRenamed("subtree_sum", "subtree_cents")
    }),


    // The SAME hierarchy through the RDD leaf-peeling loop
    // (subtreeRollupDeep) — the deep-tree path a 100-level
    // bill-of-materials would take. Shares q247's oracle text verbatim
    // (the q105/q168 pattern), so the unrolled closure and the O(n)-state
    // fixpoint are held to the identical bit-level answer, including the
    // phantom-root depth hop at custkey 1..3.
    "q248_hierarchy_rollup_deep" -> ((s, d) => {
      val nodes = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("id"),
        when(col("c_custkey") > 0, expr("c_custkey div 4")).as("parent"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
      GraphOps.subtreeRollupDeep(nodes, "id", "parent", "cents")
        .withColumnRenamed("subtree_sum", "subtree_cents")
    }),
  )

  /** q229's oracle: the same planted edge set, then `rounds` unrolled
    * Matula–Beck peel rounds (degree → survivors → both-endpoint edge
    * filter). Generated text so the unroll depth is one constant.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // MATERIALIZED: each e{i} is referenced three times by round i+1 —
    // inlined CTEs would expand the reference tree exponentially in the
    // unroll depth (observed as thousands of parquet re-opens).
    val peel = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg
         | FROM (SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         | GROUP BY id),
         |s$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         | JOIN s$i sa ON sa.id = e.a JOIN s$i sb ON sb.id = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH e_raw AS (
       |  SELECT doc_id AS src, (doc_id // 16) * 16 + (doc_id % 16 + 1) % 8 AS dst
       |  FROM documents WHERE doc_id % 16 < 8
       |  UNION ALL
       |  SELECT doc_id, (doc_id // 16) * 16 + (doc_id % 16 + 2) % 8
       |  FROM documents WHERE doc_id % 16 < 8
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 16 BETWEEN 8 AND 10
       |  UNION ALL
       |  SELECT doc_id, doc_id + 8 FROM documents WHERE doc_id % 16 = 0
       |  UNION ALL
       |  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 16 = 12),
       |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       | FROM e_raw WHERE src <> dst),
       |$peel
       |SELECT id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM (SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    // Three unrolled synchronous iterations, all-integer arithmetic
    // (// is floor division; operands are non-negative, matching
    // Spark's div). Dangling mass leaks identically in both engines.
    "q105_pagerank" -> GraphOracleShared.pagerank3Iter,

    // Ranks the edges directly (no HTML round-trip): extraction parity
    // is certified because a different edge multiset breaks the hash.
    "q184_link_rank" -> GraphOracleShared.pagerank3Iter,


    // Independent formulation: canonical a<b edges, triangles counted
    // by the ordered three-way self-join — no orientation trick, so a
    // wrong orientation on the Spark side cannot self-confirm.
    "q122_triangles" ->
      """WITH e0 AS (SELECT doc_id AS src, (doc_id + 1) % 500 AS dst FROM documents
        | UNION ALL
        | SELECT doc_id, (doc_id + 2) % 500 FROM documents
        | UNION ALL
        | SELECT doc_id, (doc_id * 31 + 7) % 500 FROM documents),
        |c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        | FROM e0 WHERE src <> dst),
        |nodes AS (SELECT a AS id FROM c UNION SELECT b FROM c),
        |tri AS (SELECT count(*) AS t FROM c e1
        |  JOIN c e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN c e3 ON e3.a = e1.b AND e3.b = e2.b)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
        | (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_edges,
        | (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles""".stripMargin,


    // Same 4 unrolled expansions: frontier = rows that first appeared
    // last hop; min-dist after each union.
    "q141_bfs_distance" ->
      """WITH e0 AS (SELECT doc_id AS src, (doc_id + 1) % 500 AS dst FROM documents
        | UNION ALL SELECT doc_id, (doc_id + 2) % 500 FROM documents
        | UNION ALL SELECT doc_id, (doc_id * 31 + 7) % 500 FROM documents),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst
        | UNION SELECT dst, src FROM e0 WHERE src <> dst),
        |d0 AS (SELECT unnest([0, 100, 200]) AS id, 0 AS dist),
        |f1 AS (SELECT e.dst AS id, 1 AS dist FROM d0 JOIN e ON e.src = d0.id
        | WHERE d0.dist = 0),
        |d1 AS (SELECT id, min(dist) AS dist FROM
        | (SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY 1),
        |f2 AS (SELECT e.dst AS id, 2 AS dist FROM d1 JOIN e ON e.src = d1.id
        | WHERE d1.dist = 1),
        |d2 AS (SELECT id, min(dist) AS dist FROM
        | (SELECT * FROM d1 UNION ALL SELECT * FROM f2) GROUP BY 1),
        |f3 AS (SELECT e.dst AS id, 3 AS dist FROM d2 JOIN e ON e.src = d2.id
        | WHERE d2.dist = 2),
        |d3 AS (SELECT id, min(dist) AS dist FROM
        | (SELECT * FROM d2 UNION ALL SELECT * FROM f3) GROUP BY 1),
        |f4 AS (SELECT e.dst AS id, 4 AS dist FROM d3 JOIN e ON e.src = d3.id
        | WHERE d3.dist = 3),
        |d4 AS (SELECT id, min(dist) AS dist FROM
        | (SELECT * FROM d3 UNION ALL SELECT * FROM f4) GROUP BY 1)
        |SELECT id, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin,


    // True recursion (DuckDB WITH RECURSIVE, UNION-deduped states): the
    // walk explores (id, dist) states down the path; min(dist) per id is
    // the BFS distance. On the 0..50 path the answer is dist = id.
    "q167_bfs_deep" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id < 50),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
        |walk(id, dist) AS (
        |  SELECT CAST(0 AS BIGINT) AS id, 0 AS dist
        |  UNION
        |  SELECT sym.dst AS id, walk.dist + 1 AS dist
        |  FROM walk JOIN sym ON sym.src = walk.id WHERE walk.dist < 60)
        |SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY id""".stripMargin,


    // Identical to the q105 oracle: the RDD-loop engine must reproduce
    // the unrolled Catalyst iteration bit for bit.
    "q168_pagerank_deep" -> GraphOracleShared.pagerank3Iter,


    // Plurality anchor chosen by (count DESC, term ASC) row_number —
    // an independent formulation of the engine's min(struct(-cnt,
    // term)) selection, so an ordering bug on either side breaks the
    // hash.
    "q194_anchor_text" ->
      """WITH l AS (
        | SELECT doc_id AS src, (doc_id * 31 + 7) % 500 AS dst,
        |  'term' || CAST(doc_id % 20 AS VARCHAR) AS anchor FROM documents
        | UNION ALL
        | SELECT doc_id, (doc_id * 17 + 3) % 500,
        |  'term' || CAST((doc_id * 3 + 1) % 20 AS VARCHAR) FROM documents),
        |pt AS (SELECT dst, anchor, CAST(count(*) AS BIGINT) AS cnt FROM l GROUP BY 1, 2),
        |agg AS (SELECT dst, CAST(sum(cnt) AS BIGINT) AS in_deg FROM pt GROUP BY 1),
        |r AS (SELECT dst, anchor, cnt,
        |  row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rk FROM pt),
        |ns AS (SELECT dst, CAST(count(DISTINCT src) AS BIGINT) AS n_src FROM l GROUP BY 1)
        |SELECT r.dst, agg.in_deg, ns.n_src, r.anchor AS top_anchor, r.cnt AS top_anchor_n
        |FROM r JOIN agg USING (dst) JOIN ns USING (dst) WHERE r.rk = 1""".stripMargin,


    // Two unrolled HITS iterations, integer arithmetic; every
    // normalization divides by the iteration's global mass, so both
    // engines truncate identically. coalesce(0) covers pure-source /
    // pure-sink nodes exactly like the engine's left joins.
    "q198_hits" ->
      """WITH e0 AS (
        |  SELECT doc_id AS src, (doc_id * 31 + 7) % 500 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 17 + 3) % 500 FROM documents),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),
        |ar1 AS (SELECT e.dst AS id, CAST(sum(h0.h) AS BIGINT) AS raw
        | FROM e JOIN h0 ON h0.id = e.src GROUP BY 1),
        |as1 AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM ar1),
        |a1 AS (SELECT nodes.id,
        |  coalesce((ar1.raw * 1000000) // (SELECT s FROM as1), 0) AS a
        | FROM nodes LEFT JOIN ar1 ON ar1.id = nodes.id),
        |hr1 AS (SELECT e.src AS id, CAST(sum(a1.a) AS BIGINT) AS raw
        | FROM e JOIN a1 ON a1.id = e.dst GROUP BY 1),
        |hs1 AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM hr1),
        |h1 AS (SELECT nodes.id,
        |  coalesce((hr1.raw * 1000000) // (SELECT s FROM hs1), 0) AS h
        | FROM nodes LEFT JOIN hr1 ON hr1.id = nodes.id),
        |ar2 AS (SELECT e.dst AS id, CAST(sum(h1.h) AS BIGINT) AS raw
        | FROM e JOIN h1 ON h1.id = e.src GROUP BY 1),
        |as2 AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM ar2),
        |a2 AS (SELECT nodes.id,
        |  coalesce((ar2.raw * 1000000) // (SELECT s FROM as2), 0) AS a
        | FROM nodes LEFT JOIN ar2 ON ar2.id = nodes.id),
        |hr2 AS (SELECT e.src AS id, CAST(sum(a2.a) AS BIGINT) AS raw
        | FROM e JOIN a2 ON a2.id = e.dst GROUP BY 1),
        |hs2 AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM hr2),
        |h2 AS (SELECT nodes.id,
        |  coalesce((hr2.raw * 1000000) // (SELECT s FROM hs2), 0) AS h
        | FROM nodes LEFT JOIN hr2 ON hr2.id = nodes.id)
        |SELECT h2.id, h2.h AS hub_e6, a2.a AS auth_e6
        |FROM h2 JOIN a2 ON a2.id = h2.id""".stripMargin,


    // Two unrolled clamped rounds; plurality via (count DESC, label
    // ASC) row_number — an independent formulation of the engine's
    // min(struct(-count, label)) fold.
    "q200_label_prop" ->
      """WITH e0 AS (
        |  SELECT doc_id AS src, (doc_id * 31 + 7) % 500 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 17 + 3) % 500 FROM documents),
        |ed AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |sym AS (SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |seeds AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label
        | FROM embeddings WHERE vec_id % 10 = 0),
        |v1 AS (SELECT s.dst AS id, l.label, count(*) AS c
        | FROM sym s JOIN seeds l ON l.id = s.src GROUP BY 1, 2),
        |a1 AS (SELECT id, label FROM (SELECT id, label,
        |   row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rk FROM v1)
        | WHERE rk = 1),
        |l1 AS (SELECT id, label FROM seeds
        | UNION ALL SELECT id, label FROM a1 WHERE id NOT IN (SELECT id FROM seeds)),
        |v2 AS (SELECT s.dst AS id, l.label, count(*) AS c
        | FROM sym s JOIN l1 l ON l.id = s.src GROUP BY 1, 2),
        |a2 AS (SELECT id, label FROM (SELECT id, label,
        |   row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rk FROM v2)
        | WHERE rk = 1),
        |l2 AS (SELECT id, label FROM seeds
        | UNION ALL SELECT id, label FROM a2 WHERE id NOT IN (SELECT id FROM seeds))
        |SELECT nodes.id, coalesce(l2.label, -1) AS label
        |FROM nodes LEFT JOIN l2 ON l2.id = nodes.id""".stripMargin,


    // The identical md5 choice arithmetic replayed per step over the
    // same distinct ranked adjacency — four unrolled hops.
    "q201_random_walks" ->
      """WITH e0 AS (
        |  SELECT doc_id AS src, (doc_id * 31 + 7) % 500 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 17 + 3) % 500 FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |adj AS (SELECT src, dst,
        |  CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS outdeg FROM e),
        |w0 AS (SELECT doc_id AS start, CAST(0 AS BIGINT) AS step, doc_id AS node
        | FROM documents WHERE doc_id % 25 = 0),
        |w1 AS (SELECT w.start, CAST(1 AS BIGINT) AS step, a.dst AS node
        | FROM w0 w JOIN adj a ON a.src = w.node
        |  AND a.rk = ('0x' || substr(md5('walk_' || CAST(w.start AS VARCHAR) || '_1_' || CAST(w.node AS VARCHAR)), 1, 15))::BIGINT % a.outdeg + 1),
        |w2 AS (SELECT w.start, CAST(2 AS BIGINT) AS step, a.dst AS node
        | FROM w1 w JOIN adj a ON a.src = w.node
        |  AND a.rk = ('0x' || substr(md5('walk_' || CAST(w.start AS VARCHAR) || '_2_' || CAST(w.node AS VARCHAR)), 1, 15))::BIGINT % a.outdeg + 1),
        |w3 AS (SELECT w.start, CAST(3 AS BIGINT) AS step, a.dst AS node
        | FROM w2 w JOIN adj a ON a.src = w.node
        |  AND a.rk = ('0x' || substr(md5('walk_' || CAST(w.start AS VARCHAR) || '_3_' || CAST(w.node AS VARCHAR)), 1, 15))::BIGINT % a.outdeg + 1),
        |w4 AS (SELECT w.start, CAST(4 AS BIGINT) AS step, a.dst AS node
        | FROM w3 w JOIN adj a ON a.src = w.node
        |  AND a.rk = ('0x' || substr(md5('walk_' || CAST(w.start AS VARCHAR) || '_4_' || CAST(w.node AS VARCHAR)), 1, 15))::BIGINT % a.outdeg + 1)
        |SELECT start, step, node FROM w0
        |UNION ALL SELECT start, step, node FROM w1
        |UNION ALL SELECT start, step, node FROM w2
        |UNION ALL SELECT start, step, node FROM w3
        |UNION ALL SELECT start, step, node FROM w4""".stripMargin,


    // The same planted graph canonicalized undirected; per-community
    // degree sums and intra-edge counts feed the exact integer
    // numerator 4·m·e_c − d_c² over the common 4m² denominator.
    "q208_modularity" ->
      """WITH e0 AS (
        |  SELECT doc_id AS src, (doc_id // 125) * 125 + (doc_id * 31 + 7) % 125 AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 137) % 500 FROM documents WHERE doc_id % 10 = 0),
        |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        | FROM e0 WHERE src <> dst),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM canon),
        |ends AS (SELECT a AS id FROM canon UNION ALL SELECT b FROM canon),
        |com AS (SELECT DISTINCT id, id // 125 AS community FROM ends),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM ends GROUP BY id),
        |percom AS (SELECT c.community, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(d.deg) AS BIGINT) AS deg_sum
        | FROM deg d JOIN com c USING (id) GROUP BY c.community),
        |ein AS (SELECT ca.community, CAST(count(*) AS BIGINT) AS e_in FROM canon
        | JOIN com ca ON ca.id = canon.a JOIN com cb ON cb.id = canon.b
        | WHERE ca.community = cb.community GROUP BY ca.community)
        |SELECT p.community, p.n_nodes, p.deg_sum,
        | CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, m.m,
        | 4 * m.m * CAST(coalesce(e.e_in, 0) AS BIGINT) - p.deg_sum * p.deg_sum AS q_num_4m2
        |FROM percom p LEFT JOIN ein e USING (community) CROSS JOIN m""".stripMargin,


    // Unrolled peel of the same planted graph; 8 rounds >= the true
    // peel depth, and peeling past fixpoint is a no-op.
    "q229_kcore" -> kcoreOracleSql(k = 2, rounds = 8),


    // INDEPENDENT formulation: where the engine materializes the
    // closure from the parent TABLE by unrolled joins, the oracle
    // recurses on the arithmetic parent (anc // 4 until root 0) — a
    // truncated or duplicated closure row on either side flips the
    // hash. floor(x*100 + 0.5) is the binary-deterministic cents rule
    // used across the contract (negative balances floor identically in
    // both engines).
    "q247_hierarchy_rollup" -> GraphOracleShared.hierarchyRollup,


    // ONE oracle text for both engines (the q105/q168 pattern): the
    // unrolled closure (q247) and the RDD leaf-peel loop (q248) must
    // produce the identical bit-level answer.
    "q248_hierarchy_rollup_deep" -> GraphOracleShared.hierarchyRollup,
  )
}

/** Oracle SQL shared between the unrolled (q105) and RDD-loop (q168)
  * PageRank queries — one text, so the two engines are held to the
  * IDENTICAL bit-level answer.
  */
private[queries] object GraphOracleShared {
  /** q247/q248's shared oracle. INDEPENDENT formulation: where the
    * engines build the closure from the parent TABLE (unrolled joins /
    * leaf-peeling fixpoint), the oracle recurses on the arithmetic
    * parent (anc // 4 until root 0) — a truncated or duplicated closure
    * row on either side flips the hash. floor(x*100 + 0.5) is the
    * binary-deterministic cents rule used across the contract.
    */
  val hierarchyRollup: String =
    """WITH RECURSIVE anc AS (
      | SELECT c_custkey AS node, c_custkey AS anc FROM customer
      | UNION ALL
      | SELECT node, anc // 4 FROM anc WHERE anc > 0
      |),
      |v AS (SELECT c_custkey AS node,
      |  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer),
      |g1 AS (SELECT anc.anc AS id, CAST(count(*) AS BIGINT) AS n_desc,
      |  CAST(sum(v.cents) AS BIGINT) AS subtree_cents
      | FROM anc JOIN v USING (node) GROUP BY anc.anc),
      |g2 AS (SELECT node AS id, CAST(count(*) - 1 AS BIGINT) AS depth
      | FROM anc GROUP BY node)
      |SELECT g1.id, g2.depth, g1.n_desc, g1.subtree_cents
      |FROM g1 JOIN g2 ON g1.id = g2.id""".stripMargin

  val pagerank3Iter: String =
    """WITH e0 AS (
        |  SELECT doc_id AS src, (doc_id * 31 + 7) % 500 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id * 17 + 3) % 500 FROM documents),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |n AS (SELECT count(*) AS n_nodes FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT id, 1000000000000 // n_nodes AS r FROM nodes CROSS JOIN n),
        |c1 AS (SELECT e.dst AS id, CAST(sum(((r0.r * 85) // 100) // od.outdeg) AS BIGINT) AS c
        | FROM e JOIN r0 ON r0.id = e.src JOIN od ON od.src = e.src GROUP BY 1),
        |r1 AS (SELECT nodes.id, (150000000000 // n_nodes) + coalesce(c1.c, 0) AS r
        | FROM nodes CROSS JOIN n LEFT JOIN c1 ON c1.id = nodes.id),
        |c2 AS (SELECT e.dst AS id, CAST(sum(((r1.r * 85) // 100) // od.outdeg) AS BIGINT) AS c
        | FROM e JOIN r1 ON r1.id = e.src JOIN od ON od.src = e.src GROUP BY 1),
        |r2 AS (SELECT nodes.id, (150000000000 // n_nodes) + coalesce(c2.c, 0) AS r
        | FROM nodes CROSS JOIN n LEFT JOIN c2 ON c2.id = nodes.id),
        |c3 AS (SELECT e.dst AS id, CAST(sum(((r2.r * 85) // 100) // od.outdeg) AS BIGINT) AS c
        | FROM e JOIN r2 ON r2.id = e.src JOIN od ON od.src = e.src GROUP BY 1),
        |r3 AS (SELECT nodes.id, (150000000000 // n_nodes) + coalesce(c3.c, 0) AS r
        | FROM nodes CROSS JOIN n LEFT JOIN c3 ON c3.id = nodes.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_fp FROM r3""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact.stableRound

/** Link-analysis centrality over the verified near-duplicate graph.
  *
  * Web-scale corpus curation ranks pages/documents by graph centrality
  * (PageRank over the link graph is the classic crawl-quality prior; the
  * same iteration over a SIMILARITY graph surfaces "template hubs" —
  * documents near-duplicated across many sources, which deserve either a
  * boost as canonical content or a cut as boilerplate). The testdata has
  * no hyperlink column, so the edge list is dd16's verified Jaccard
  * pair stream ([[CurationOps.jaccardPairs]], t = 0.5) made symmetric —
  * a real graph the engine already computes, and the op composes with
  * the dedup stack instead of inventing data.
  *
  * Spark-first shape: classic Pregel-style iteration as join + hash-agg.
  * Each round is `adj ⋈ ranks → groupBy(dst).sum` — ONE exchange on the
  * edge key per round, partial aggregation on the map side, no windows,
  * no driver-side data movement. `adj` (edges ⋈ out-degree) is
  * iteration-invariant and persisted once (see [[adjacency]]); each
  * round materializes via localCheckpoint (see the loop note — benched
  * faster than one deep lazy plan, and it is what unbounded iteration
  * counts require anyway). At 100 TB this is exactly GraphX/Pregel's
  * dataflow; ranks re-shuffle on the same key each round so AQE reuses
  * the exchange layout.
  *
  * Cross-engine exactness: doubles summed in engine-dependent order can't
  * hash-gate an ITERATIVE fixpoint (error compounds per round), so ranks
  * are scaled integers (1e12 = rank 1.0) and the recurrence
  *   r'(v) = tele + Σ_{u→v} (85 · (r(u) div deg(u))) div 100,
  *   tele  = (15 · (1e12 div N)) div 100
  * uses only integer multiply/floor-divide — associative, commutative,
  * order-independent, bit-identical in Spark (`div`) and DuckDB (`//`).
  * The floor losses make total mass drift down a few units per round —
  * deterministic, and asserted conserved-within-bound in GraphOpsSpec.
  *
  * Reference scope: the reference pipeline has no graph operator — this is
  * part of the beyond-reference training-data pack (builder brief), sited
  * with dd7/dd12 (iterative min-label CC) as the weighted-centrality twin.
  */
object GraphOps extends graft.QueryFamily {
  /** 1e12 — fixed-point scale for ranks (rank 1.0 = 1e12). */
  private val SCALE = 1000000000000L
  private[graft] val ITERS = 5

  private val adjCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, DataFrame)]()

  /** The iteration-invariant graph stage, memoized per (session, dataset)
    * like DedupOps' pair graph: the prefix-join candidate generation
    * inside [[CurationOps.jaccardPairs]] is the expensive part, and
    * WITHOUT materialization it would re-execute for every consumer of
    * the graph — degree init, N, the adjacency build, and the final
    * degree re-join (benched 8.2 s without the cache vs 3.0 s with it,
    * sf0.1). Returns (adj = edges ⋈ out-degree, deg), both persisted. */
  private[graft] def adjacency(s: SparkSession, d: String): (DataFrame, DataFrame) =
    adjCache.computeIfAbsent((s, d), { _ =>
      // localCheckpoint severs the lineage to the (persisted) pair stage:
      // planning every per-round/per-wedge job against the nested
      // InMemoryRelation tree benched g3 at 6.7 s warm vs 2.5 s over a
      // plain checkpointed table (same rationale as pagerank's rounds).
      val pairs = CurationOps.jaccardPairs(s, d).select("doc_a", "doc_b")
        .localCheckpoint()
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).persist()
      (edges.join(deg, "src").persist(), deg)
    })

  /** Shared by the query and GraphOpsSpec's in-memory replay. */
  private[graft] def pagerank(s: SparkSession, d: String): DataFrame = {
    val (adj, deg) = adjacency(s, d)
    // Only the node-count SCALAR reaches the driver (dd7's convergence-
    // scalar contract): r0/tele become literals, so no per-round
    // broadcast or consts re-aggregation rides the checkpointed rounds.
    // Scala's Long / is truncation = floor on these positive operands,
    // matching the engines' div / //.
    val n = deg.count()
    val r0 = SCALE / n
    val tele = (15L * (SCALE / n)) / 100L
    // Each round is materialized via localCheckpoint. The lineage here
    // grows only linearly (ranks is referenced once per round), so a
    // single 5-deep lazy plan is CORRECT — but it benched SLOWER (6.2 s
    // vs 3.3 s at sf0.1): AQE re-plans every one of its ~12 stages
    // against the full remaining lineage, while checkpointing pins each
    // round to a tiny materialized RDD and keeps every per-round plan
    // constant-size. Same conclusion as dd7's CC (which additionally
    // NEEDS the cut for its doubling self-reference).
    var ranks = deg
      .select(col("src").as("node"), lit(r0).as("r"))
      .localCheckpoint()
    for (_ <- 1 to ITERS) {
      ranks = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("(85L * (r div deg)) div 100L").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("contrib"))
        .select(col("dst").as("node"), (lit(tele) + col("contrib")).as("r"))
        .localCheckpoint()
    }
    ranks.select(col("node").as("doc_id"), col("r").as("rank_scaled"))
      .join(deg.select(col("src").as("doc_id"), col("deg")), "doc_id")
      .orderBy(col("rank_scaled").desc, col("doc_id"))
  }

  /** G3: triangle census + global clustering coefficient over the same
    * near-dup graph — the cohesion audit next to g2's modularity (a
    * near-dup graph whose clusters are cliques is template duplication;
    * one with many open wedges is chained drift). Degree-ordered
    * orientation (each edge points low→high (deg, id)) is the standard
    * scale trick: every triangle is counted exactly once and the wedge
    * join's fan-out per node is bounded by its ORIENTED out-degree
    * (≤ O(√m) for any graph), so the join never explodes on hub nodes —
    * this is why a 100 TB triangle count is feasible at all. Pure
    * integer compares/counts end to end: nothing to round, bit-exact. */
  private val orientedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def triangles(s: SparkSession, d: String): DataFrame = {
    val (adj, deg) = adjacency(s, d)
    // adj holds every edge in BOTH directions with the source's degree
    // attached; the strict (deg, id) orientation compare keeps exactly one
    // direction of each undirected edge — no separate pairs recompute.
    // oriented is consumed three times (two wedge sides + the closing
    // probe) and its upstream is the expensive prefix-join pair stream,
    // so it is persisted once per (session, dataset) like adjacency —
    // without it the candidate generation re-executes per consumer
    // (benched 16.8 s vs ~1 s at sf0.1).
    val oriented = orientedCache.computeIfAbsent((s, d), { _ =>
      adj.select(col("src"), col("dst"), col("deg").as("dega"))
        .join(deg.select(col("src").as("dst"), col("deg").as("degd")), "dst")
        .filter(col("dega") < col("degd") ||
          (col("dega") === col("degd") && col("src") < col("dst")))
        .select(col("src"), col("dst"), col("degd"))
        .persist()
    })
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"), col("degd").as("dv"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"), col("degd").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v"), col("w"))
    val tri = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val wcount = deg.agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val ne = oriented.agg(count(lit(1)).as("n_edges"))
    nn.crossJoin(broadcast(ne)).crossJoin(broadcast(wcount)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        stableRound(lit(3.0) * col("n_triangles") /
          when(col("n_wedges") =!= 0, col("n_wedges")), 6).as("closed_share"))
  }

  /** G4: degree assortativity — the Pearson correlation of endpoint
    * degrees over the directed edge list (Newman's mixing coefficient).
    * Positive: hubs link hubs (a template family duplicated as a block);
    * negative: hub-and-spoke (one canonical doc with many variants) — the
    * audit that says WHICH dedup manifest strategy (keep-best vs min-id)
    * fits the cluster shape. Degrees are integers, so the five moment sums
    * are exact (products in DECIMAL(38,0), f20's shape) and the closing
    * Pearson chain runs on identical doubles in both engines. One
    * mergeable global agg over adj ⋈ deg — no windows, no iteration. */
  private[graft] def assortativity(s: SparkSession, d: String): DataFrame = {
    val (adj, deg) = adjacency(s, d)
    adj.select(col("src"), col("dst"), col("deg").as("dx"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"))
      .select(
        col("n_edges"),
        stableRound(
          (col("n_edges") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n_edges") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
           sqrt(col("n_edges") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("assortativity"))
  }

  /** Rounds of k-core peeling — FIXED, not to-fixpoint, so the oracle can
    * unroll the identical recurrence as chained CTEs and the result is
    * bit-deterministic at ANY scale (a fixpoint loop's round count is
    * data-dependent; 6 rounds reach the fixpoint on every corpus drop we
    * test, asserted in GraphOpsSpec — at larger scale the semantics are
    * "6 peel rounds", a documented approximation from below). */
  private[graft] val KCORE_K = 2
  private[graft] val KCORE_ROUNDS = 6

  /** G5: k-core decomposition (peel rounds) — repeatedly drop nodes with
    * degree < k; what survives is the cohesive core (the "dense template
    * cluster" detector next to g3's triangle census — a node can have high
    * degree yet no core membership). Each round is deg-count + two
    * semi-joins — one exchange each, Pregel's dataflow like g1, each round
    * pinned by localCheckpoint. Pure integer compares: bit-exact. */
  private[graft] def kcore(s: SparkSession, d: String): DataFrame = {
    val (adj, _) = adjacency(s, d)
    var edges = adj.select("src", "dst").localCheckpoint()
    for (_ <- 1 to KCORE_ROUNDS) {
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KCORE_K).select("src")
      edges = edges
        .join(keep, "src")
        .join(keep.withColumnRenamed("src", "dst"), "dst")
        .select("src", "dst")
        .localCheckpoint()
    }
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    deg.agg(
      count(lit(1)).as("n_core_nodes"),
      coalesce((sum(col("deg")) / 2).cast("long"), lit(0L)).as("n_core_edges"),
      coalesce(max(col("deg")), lit(0L)).as("max_core_degree"))
  }

  val queries: Map[String, Q] = Map(
    "g1_pagerank" -> { (s, d) => pagerank(s, d) },
    "g3_triangles" -> { (s, d) => triangles(s, d) },
    "g4_assortativity" -> { (s, d) => assortativity(s, d) },
    "g5_kcore" -> { (s, d) => kcore(s, d) })

  /** The oracle unrolls the same integer recurrence as chained CTEs
    * (r1..r5) over the naive all-pairs edge list (dd20's pair CTEs) —
    * DuckDB's `//` is the same positive-operand floor division as
    * Spark's `div`, so every iterate is bit-equal. */
  private val iterCtes = (1 to ITERS).map { k =>
    s"""r$k AS (
         SELECT e.dst AS node,
                (SELECT tele FROM con) + SUM((85 * (r.r // d.deg)) // 100) AS r
         FROM edges e
         JOIN r${k - 1} r ON r.node = e.src
         JOIN deg d ON d.src = e.src
         GROUP BY e.dst)"""
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "g1_pagerank" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION ALL SELECT doc_b, doc_a FROM pairs),
          deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
          con AS (SELECT 1000000000000 // COUNT(*) AS r0,
                         (15 * (1000000000000 // COUNT(*))) // 100 AS tele
                  FROM deg),
          r0 AS (SELECT src AS node, (SELECT r0 FROM con) AS r FROM deg),
          $iterCtes
          SELECT r.node AS doc_id, CAST(r.r AS BIGINT) AS rank_scaled, d.deg
          FROM r$ITERS r JOIN deg d ON d.src = r.node
          ORDER BY rank_scaled DESC, doc_id""",

    "g3_triangles" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION ALL SELECT doc_b, doc_a FROM pairs),
          deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
          ori AS (
            SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND p.doc_a < p.doc_b)
                        THEN p.doc_a ELSE p.doc_b END AS src,
                   CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND p.doc_a < p.doc_b)
                        THEN p.doc_b ELSE p.doc_a END AS dst,
                   CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND p.doc_a < p.doc_b)
                        THEN db.deg ELSE da.deg END AS degd
            FROM pairs p
            JOIN deg da ON da.src = p.doc_a
            JOIN deg db ON db.src = p.doc_b),
          wedges AS (
            SELECT e1.dst AS v, e2.dst AS w
            FROM ori e1 JOIN ori e2 ON e1.src = e2.src
            WHERE (e1.degd < e2.degd) OR (e1.degd = e2.degd AND e1.dst < e2.dst)),
          tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM wedges wd JOIN ori o ON o.src = wd.v AND o.dst = wd.w),
          wcount AS (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
          nn AS (SELECT COUNT(*) AS n_nodes FROM deg),
          ne AS (SELECT COUNT(*) AS n_edges FROM pairs)
          SELECT n_nodes, n_edges, n_wedges, n_triangles,
                 ROUND(1e-9 + 3.0 * n_triangles / NULLIF(n_wedges, 0), 6) AS closed_share
          FROM nn, ne, wcount, tri""",

    "g4_assortativity" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION ALL SELECT doc_b, doc_a FROM pairs),
          deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
          ed AS (
            SELECT dx.deg AS dx, dy.deg AS dy
            FROM edges e
            JOIN deg dx ON dx.src = e.src
            JOIN deg dy ON dy.src = e.dst),
          m AS (
            SELECT COUNT(*) AS n_edges,
                   SUM(dx) AS sx, SUM(dy) AS sy,
                   SUM(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
                   SUM(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
                   SUM(CAST(dy * dy AS DECIMAL(38,0))) AS syy
            FROM ed)
          SELECT n_edges,
                 ROUND(1e-9 +
                   (n_edges * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                   (SQRT(n_edges * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                    SQRT(n_edges * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                   AS assortativity
          FROM m""",

    "g5_kcore" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
          e0 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
          ${(1 to KCORE_ROUNDS).map { r =>
            // MATERIALIZED is load-bearing: each round references the
            // previous one three times, and DuckDB's default CTE inlining
            // would re-evaluate the whole chain ~3^rounds times.
            s"""k$r AS MATERIALIZED (SELECT src FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= $KCORE_K),
                e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
                        JOIN k$r a ON e.src = a.src
                        JOIN k$r b ON e.dst = b.src)"""
          }.mkString(",\n")},
          deg AS (SELECT src, COUNT(*) AS deg FROM e$KCORE_ROUNDS GROUP BY 1)
          SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
                 CAST(COALESCE(SUM(deg) // 2, 0) AS BIGINT) AS n_core_edges,
                 CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_core_degree
          FROM deg""")
}

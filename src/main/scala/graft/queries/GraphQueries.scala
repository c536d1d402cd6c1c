package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.Shared._

/** Graph analytics (ops Graph): traversal, centrality, cores, trusses,
  * communities and link prediction, mostly over the MinHash similarity
  * graph. */
object GraphQueries {
  val all: Seq[Q] = Seq(
    // graph: weighted PageRank over the bipartite user↔event-type graph
    // (3 decimal-deterministic power iterations)
    Q("q_pagerank", (s, d) => {
      val ue = Tables.events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).alias("w"))
      val edges = ue.select(concat(lit("u:"), col("user_id")).alias("src"),
          concat(lit("t:"), col("event_type")).alias("dst"), col("w"))
        .unionAll(ue.select(concat(lit("t:"), col("event_type")).alias("src"),
          concat(lit("u:"), col("user_id")).alias("dst"), col("w")))
      Graph.pagerank(edges, iters = 3)
        .select(col("node"), round(col("rank"), 6).alias("rank"))
        .orderBy("node")
    },
      pagerankOracle),

    // HITS over the DIRECTED user→event_type bipartite graph (no reverse
    // edges — hub/authority is what splits the two sides): users score as
    // hubs, event types as authorities. 3 mutual-reinforcement rounds.
    Q("q_hits", (s, d) => {
      val edges = Tables.events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).alias("w"))
        .select(concat(lit("u:"), col("user_id")).alias("src"),
          concat(lit("t:"), col("event_type")).alias("dst"), col("w"))
      Graph.hits(edges, iters = 3).orderBy("node")
    },
      hitsOracle),

    // graph AUDIT: per-node triangle participation in the near-dup graph
    // (node-iterator: two equi-joins over the id-oriented edge list;
    // triangle density separates template families from chance collisions)
    Q("q_triangle_counts", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.triangleCounts(edges).orderBy("node")
    },
      s"WITH $mhPairsCtes, " +
        "e AS (SELECT id1 AS a, id2 AS b FROM pairs), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
        "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "u AS (SELECT unnest([x, y, z]) AS node FROM tri) " +
        "SELECT node, count(*) AS n_triangles FROM u GROUP BY node ORDER BY node"),

    // the hub-skew-proof variant: identical answer through the
    // degree-oriented joins (out-degree bounded by arboricity, so a
    // template-family mega-hub cannot anchor a quadratic wedge set)
    Q("q_triangle_counts_degree", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.triangleCountsDegreeOriented(edges).orderBy("node")
    },
      // same oracle as q_triangle_counts — the orientation is an execution
      // strategy, not a semantic change
      s"WITH $mhPairsCtes, " +
        "e AS (SELECT id1 AS a, id2 AS b FROM pairs), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
        "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "u AS (SELECT unnest([x, y, z]) AS node FROM tri) " +
        "SELECT node, count(*) AS n_triangles FROM u GROUP BY node ORDER BY node"),

    // graph AUDIT: degree histogram of the near-dup graph (mass at degree
    // 1 = pairwise accidents; a fat tail = template families)
    Q("q_degree_histogram", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.degreeHistogram(edges).orderBy("degree")
    },
      s"WITH $mhPairsCtes, " +
        "d AS (SELECT node, count(*) AS degree FROM " +
        "(SELECT id1 AS node FROM pairs UNION ALL SELECT id2 FROM pairs) GROUP BY node) " +
        "SELECT degree, count(*) AS n_nodes FROM d GROUP BY degree ORDER BY degree"),

    // BFS 3-hop distances (Graph.bfsDistances) over the bipartite
    // user↔event-type graph (same edge construction as q_pagerank), from
    // the lexicographically-first event-type node. Hop 1 = its users,
    // hop 2 = everything those users also did, hop 3 = that cohort.
    Q("q_graph_bfs", (s, d) => {
      val ue = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val ed = ue.select(concat(lit("u:"), col("user_id")).alias("src"),
          concat(lit("t:"), col("event_type")).alias("dst"))
        .unionByName(ue.select(concat(lit("t:"), col("event_type")).alias("src"),
          concat(lit("u:"), col("user_id")).alias("dst")))
      val src = Tables.events(s, d)
        .agg(concat(lit("t:"), min(col("event_type"))).alias("node"))
      graft.ops.Graph.bfsDistances(ed, src, hops = 3).orderBy("node")
    },
      bfsOracle),

    // Weighted shortest distances (Graph.shortestPaths): Bellman-Ford
    // 3-round relaxation over the weighted bipartite user↔event-type
    // graph (edge cost = interaction count), from the
    // lexicographically-first event-type node. LONG min/plus end-to-end.
    Q("q_graph_sssp", (s, d) => {
      val ue = Tables.events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).alias("w"))
      val ed = ue.select(concat(lit("u:"), col("user_id")).alias("src"),
          concat(lit("t:"), col("event_type")).alias("dst"), col("w"))
        .unionByName(ue.select(
          concat(lit("t:"), col("event_type")).alias("src"),
          concat(lit("u:"), col("user_id")).alias("dst"), col("w")))
      val src = Tables.events(s, d)
        .agg(concat(lit("t:"), min(col("event_type"))).alias("node"))
      graft.ops.Graph.shortestPaths(ed, src, rounds = 3).orderBy("node")
    },
      ssspOracle),

    // Hierarchy explosion (Graph.explodeHierarchy): BOM rollup over a
    // binary part hierarchy (parent k → children 2k, 2k+1, qty = child
    // mod 3 + 1) — per root, every descendant with its multiplied-out
    // total quantity; the recursive-CTE shape as unrolled frontier joins.
    Q("q_bom_rollup", (s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"))
      val edges = p.select(col("p_partkey").alias("parent"),
          explode(array(col("p_partkey") * 2, col("p_partkey") * 2 + 1))
            .alias("child"))
        .join(p.select(col("p_partkey").alias("child")), "child")
        .select(col("parent"), col("child"),
          (pmod(col("child"), lit(3)) + 1).alias("qty"))
      val roots = s.range(2, 6).select(col("id").alias("node"))
      graft.ops.Graph.explodeHierarchy(edges, roots, maxDepth = 16)
        .orderBy("root", "node")
    },
      "WITH RECURSIVE e AS (SELECT p1.p_partkey AS parent, " +
        "p2.p_partkey AS child, p2.p_partkey % 3 + 1 AS qty FROM part p1 " +
        "JOIN part p2 ON p2.p_partkey = p1.p_partkey * 2 " +
        "OR p2.p_partkey = p1.p_partkey * 2 + 1), " +
        "bom AS (SELECT CAST(node AS BIGINT) AS root, CAST(node AS BIGINT) AS node, " +
        "CAST(1 AS BIGINT) AS qty, 0 AS depth " +
        "FROM (SELECT unnest([2, 3, 4, 5]) AS node) " +
        "UNION ALL SELECT b.root, e.child, b.qty * e.qty, b.depth + 1 " +
        "FROM bom b JOIN e ON b.node = e.parent WHERE b.depth < 16) " +
        "SELECT root, node, CAST(sum(qty) AS BIGINT) AS total_qty " +
        "FROM bom GROUP BY 1, 2 ORDER BY 1, 2"),

    // Local clustering coefficient (Graph.clusteringCoefficient) of the
    // near-dup candidate graph: dense template cores vs hub-and-spoke
    // LSH accidents at equal degree.
    Q("q_clustering_coeff", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.clusteringCoefficient(edges).orderBy("node")
    },
      // Same canonical edge set, same degree-oriented triangle count, same
      // deg < 2 zero pin.
      s"WITH $mhPairsCtes, " +
        "e AS (SELECT id1 AS a, id2 AS b FROM pairs), " +
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 " +
        "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "u AS (SELECT unnest([x, y, z]) AS node FROM tri), " +
        "tc AS (SELECT node, CAST(count(*) AS BIGINT) AS nt FROM u GROUP BY 1), " +
        "d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1) " +
        "SELECT d.node, degree, coalesce(tc.nt, 0) AS n_triangles, " +
        "CASE WHEN degree < 2 THEN 0.0 ELSE " +
        "round(2.0 * CAST(coalesce(tc.nt, 0) AS DOUBLE) / " +
        "(CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0)), 6) END AS clustering_coeff " +
        "FROM d LEFT JOIN tc ON d.node = tc.node ORDER BY d.node"),

    // Rich-club ladder (Graph.richClub): do the near-dup graph's hubs
    // wire to each other — the hub-club readout assortativity blurs.
    Q("q_rich_club", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.richClub(edges, maxK = 10)
    },
      // Same degree/min-degree histograms, same bounded k-ladder and the
      // N_k < 2 NULL pin.
      s"WITH $mhPairsCtes, " +
        "e AS (SELECT id1 AS a, id2 AS b FROM pairs), " +
        "d AS (SELECT node, count(*) AS deg FROM " +
        "(SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1), " +
        "dh AS (SELECT deg, count(*) AS dn FROM d GROUP BY 1), " +
        "em AS (SELECT least(da.deg, db.deg) AS m, count(*) AS en " +
        "FROM e JOIN d da ON da.node = e.a JOIN d db ON db.node = e.b GROUP BY 1), " +
        "kk AS (SELECT unnest(generate_series(1, 10)) AS k), " +
        "nk AS (SELECT k, sum(CASE WHEN deg > k THEN dn ELSE 0 END) AS n_nodes " +
        "FROM kk CROSS JOIN dh GROUP BY 1), " +
        "ek AS (SELECT k, sum(CASE WHEN m > k THEN en ELSE 0 END) AS n_edges " +
        "FROM kk CROSS JOIN em GROUP BY 1) " +
        "SELECT CAST(nk.k AS INTEGER) AS k, CAST(n_nodes AS BIGINT) AS n_nodes, " +
        "CAST(n_edges AS BIGINT) AS n_edges, " +
        "CASE WHEN n_nodes < 2 THEN NULL ELSE " +
        "round(2.0 * CAST(n_edges AS DOUBLE) / " +
        "(CAST(n_nodes AS DOUBLE) * (CAST(n_nodes AS DOUBLE) - 1.0)), 6) END AS phi " +
        "FROM nk JOIN ek ON nk.k = ek.k ORDER BY nk.k"),

    // Bounded-round k-core peeling (Graph.kCore) of the near-dup
    // candidate graph: 8 sweeps at k=2 — chains and pairwise accidents
    // peel away, template families survive as cores.
    Q("q_kcore", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.kCore(edges, k = 2, rounds = 8).orderBy("node")
    },
      kcoreOracle(2, 8)),

    // Label-propagation communities (Graph.labelPropagation) over the
    // near-dup candidate graph: 4 deterministic synchronous sweeps —
    // finer than connected components (weak bridges don't merge
    // template families).
    Q("q_communities", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.labelPropagation(edges, rounds = 4).orderBy("node")
    },
      labelPropagationOracle(4)),

    // Per-edge triangle support (Graph.edgeTriangleSupport) of the
    // near-dup graph: support-0 edges are uncorroborated bridges — the
    // edge-granular audit under q_triangle_counts.
    Q("q_edge_support", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.edgeTriangleSupport(edges).orderBy("a", "b")
    },
      s"WITH $mhPairsCtes, $edgeSupportCtes " +
        "SELECT e.a, e.b, CAST(coalesce(ts.s, 0) AS BIGINT) AS support " +
        "FROM e LEFT JOIN ts ON e.a = ts.a AND e.b = ts.b ORDER BY 1, 2"),

    // Bounded k-truss peeling (Graph.kTruss): 4 sweeps at k=3 — every
    // surviving edge sits in a triangle of survivors; chains and stars
    // peel even where k-core keeps them.
    Q("q_ktruss", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.kTruss(edges, k = 3, rounds = 4).orderBy("a", "b")
    },
      ktrussOracle(3, 4)),

    // Personalized PageRank (Graph.personalizedPagerank) on the
    // user↔event-type graph seeded at the purchase node: proximity-to-
    // purchase trust scores instead of global authority (TrustRank).
    Q("q_ppr_trust", (s, d) => {
      import s.implicits._
      val ue = Tables.events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).alias("w"))
      val edges = ue.select(concat(lit("u:"), col("user_id")).alias("src"),
          concat(lit("t:"), col("event_type")).alias("dst"), col("w"))
        .unionAll(ue.select(concat(lit("t:"), col("event_type")).alias("src"),
          concat(lit("u:"), col("user_id")).alias("dst"), col("w")))
      val seeds = Seq("t:purchase").toDF("node")
      Graph.personalizedPagerank(edges, seeds, iters = 3)
        .select(col("node"), round(col("rank"), 6).alias("rank"))
        .orderBy("node")
    },
      pprOracle(Seq("t:purchase"), 3)),

    // Harmonic centrality (Graph.harmonicCentrality) on the bipartite
    // user↔event-type graph from all five type nodes, 3 hops: which
    // users sit closest to the whole behavioral alphabet.
    Q("q_harmonic", (s, d) => {
      val ue = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val edges = ue.select(concat(lit("u:"), col("user_id")).alias("src"),
          concat(lit("t:"), col("event_type")).alias("dst"))
        .unionAll(ue.select(concat(lit("t:"), col("event_type")).alias("src"),
          concat(lit("u:"), col("user_id")).alias("dst")))
      val seeds = Tables.events(s, d)
        .select(concat(lit("t:"), col("event_type")).alias("node")).distinct()
      Graph.harmonicCentrality(edges, seeds, hops = 3)
    },
      harmonicOracle),

    // Adamic-Adar link prediction (Graph.adamicAdar) over the near-dup
    // candidate graph: which unlinked doc pairs share the most
    // (rarest) neighbors.
    Q("q_link_predict", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.adamicAdar(edges, topN = 50)
    },
      adamicAdarOracle),

    // Newman modularity (Graph.modularity) of the LPA communities over
    // the near-dup graph — the quality gate on q_communities' output.
    Q("q_modularity", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.modularity(edges, Graph.labelPropagation(edges, rounds = 4))
    },
      modularityOracle(4)),

    // Degree assortativity (Graph.degreeAssortativity) of the near-dup
    // graph: template families link hubs-to-hubs, collision stars don't.
    Q("q_assortativity", (s, d) => {
      val edges = ScaleDedup.minhashCandidatePairs(Tables.documents(s, d),
          "doc_id", "text", numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.degreeAssortativity(edges)
    },
      assortativityOracle),

    // Graph health summary (Graph.graphSummary) of the near-dup
    // candidate graph: components, largest share, isolation.
    Q("q_graph_summary", (s, d) => {
      val docs = Tables.documents(s, d)
      val edges = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
          numHashes = 4, bands = 2)
        .select(col("id1").alias("src"), col("id2").alias("dst"))
      Graph.graphSummary(docs.select(col("doc_id").alias("id")), edges)
    },
      graphSummaryOracle),
  )

  /** Shared triangle-support CTE block over an edge relation `e` (a, b
    * with a < b): `tri` (each triangle once as its sorted triple) and
    * `ts` (per-edge triangle count). Callers define `e`; MATERIALIZED
    * because `e` anchors three self-join arms and `tri` three unions. */
  private def edgeSupportCtes: String =
    "e AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs), " +
      "tri AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z " +
      "FROM e e1 JOIN e e2 ON e1.b = e2.a " +
      "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b), " +
      "ts AS (SELECT a, b, count(*) AS s FROM " +
      "(SELECT x AS a, y AS b FROM tri UNION ALL SELECT x, z FROM tri " +
      "UNION ALL SELECT y, z FROM tri) GROUP BY 1, 2)"

  /** Unrolled k-truss sweeps (Graph.kTruss): per round, recompute each
    * surviving edge's triangle support and keep support >= k-2; the
    * final round's support is the reported value. MATERIALIZED per
    * round (triple-referenced self-join arms, [[kcoreOracle]]'s reason). */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH $mhPairsCtes, " +
        "e0 AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs)")
    def triSup(i: Int, src: String): Unit = {
      sb.append(s", tri$i AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, " +
        s"e2.b AS z FROM $src e1 JOIN $src e2 ON e1.b = e2.a " +
        s"JOIN $src e3 ON e3.a = e1.a AND e3.b = e2.b)")
      sb.append(s", ts$i AS MATERIALIZED (SELECT a, b, count(*) AS s FROM " +
        s"(SELECT x AS a, y AS b FROM tri$i UNION ALL SELECT x, z FROM tri$i " +
        s"UNION ALL SELECT y, z FROM tri$i) GROUP BY 1, 2)")
    }
    for (i <- 1 to rounds) {
      triSup(i, s"e${i - 1}")
      sb.append(s", e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e " +
        s"JOIN ts$i t ON e.a = t.a AND e.b = t.b WHERE t.s >= ${k - 2})")
    }
    triSup(rounds + 1, s"e$rounds")
    sb.append(s" SELECT e.a, e.b, CAST(coalesce(t.s, 0) AS BIGINT) " +
      s"AS support FROM e$rounds e LEFT JOIN ts${rounds + 1} t " +
      "ON e.a = t.a AND e.b = t.b ORDER BY 1, 2")
    sb.toString
  }

  /** Unrolled personalized-PageRank iterations: [[pagerankOracle]]'s
    * DECIMAL/round(9) arithmetic with the teleport term replaced by the
    * seed indicator mass (1−d)·[v ∈ S]/|S|. */
  private def pprOracle(seeds: Seq[String], iters: Int): String = {
    val oneMinusD = (1.0 - 0.85).toString
    val seedRows = seeds.map(s => s"('$s')").mkString(", ")
    val sb = new StringBuilder
    sb ++= "WITH ue AS (SELECT user_id, event_type, count(*) AS w FROM events GROUP BY 1, 2), "
    sb ++= "ed AS (SELECT 'u:' || user_id AS src, 't:' || event_type AS dst, w FROM ue " +
      "UNION ALL SELECT 't:' || event_type AS src, 'u:' || user_id AS dst, w FROM ue), "
    sb ++= "nd AS (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed), "
    sb ++= s"sd(node) AS (VALUES $seedRows), "
    sb ++= "ns AS (SELECT count(DISTINCT node) AS n FROM sd), "
    sb ++= "base AS (SELECT nd.node, CASE WHEN nd.node IN (SELECT node FROM sd) " +
      "THEN CAST(1 AS DOUBLE) / ns.n ELSE CAST(0 AS DOUBLE) END AS b " +
      "FROM nd CROSS JOIN ns), "
    sb ++= "ow AS (SELECT src, sum(w) AS outw FROM ed GROUP BY 1), "
    sb ++= "r0 AS (SELECT node, b AS rank FROM base), "
    for (t <- 1 to iters) {
      sb ++= s"c$t AS (SELECT ed.dst AS node, CAST(r.rank * ed.w / ow.outw AS DECIMAL(28,14)) AS c " +
        s"FROM ed JOIN ow ON ed.src = ow.src JOIN r${t - 1} r ON r.node = ed.src), "
      sb ++= s"s$t AS (SELECT node, sum(c) AS cs FROM c$t GROUP BY 1), "
      sb ++= s"r$t AS (SELECT base.node, round($oneMinusD * base.b + " +
        s"0.85 * coalesce(CAST(s$t.cs AS DOUBLE), 0), 9) AS rank " +
        s"FROM base LEFT JOIN s$t ON base.node = s$t.node), "
    }
    sb.setLength(sb.length - 2)
    sb ++= s" SELECT node, round(rank, 6) AS rank FROM r$iters ORDER BY node"
    sb.toString
  }

  /** Unrolled peel rounds over the minhash candidate edges — the fixed
    * round count is the operator definition (Graph.kCore). Every CTE is
    * MATERIALIZED: each e(i) is referenced three times by round i+1, so
    * DuckDB's default inlining would expand e0 ~3^rounds times and open
    * that many parquet handles ("Too many open files"). */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH $mhPairsCtes, " +
        "e0 AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs)")
    for (i <- 1 to rounds) {
      sb.append(s", d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM " +
        s"(SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) " +
        "GROUP BY 1)")
      sb.append(s", k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k)")
      sb.append(s", e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1} " +
        s"WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))")
    }
    sb.append(s" SELECT node, count(*) AS core_degree FROM " +
      s"(SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds) " +
      "GROUP BY 1 ORDER BY node")
    sb.toString
  }

  /** Unrolled synchronous label-propagation sweeps
    * (Graph.labelPropagation): per sweep, neighbor-label counts then the
    * (count DESC, label ASC) argmax via QUALIFY — the same strict total
    * order as the engine's min-of-struct tie-break. MATERIALIZED per
    * round (each labeling feeds the next sweep's join). */
  private def labelPropagationOracle(rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH $mhPairsCtes, " +
        "n0 AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM pairs " +
        "UNION ALL SELECT id2, id1 FROM pairs), " +
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM n0)")
    for (i <- 1 to rounds) {
      sb.append(s", c$i AS MATERIALIZED (SELECT n.u AS u, l.label AS label, " +
        s"count(*) AS c FROM n0 n JOIN l${i - 1} l ON n.v = l.node " +
        "GROUP BY 1, 2)")
      sb.append(s", l$i AS MATERIALIZED (SELECT u AS node, label FROM c$i " +
        "QUALIFY row_number() OVER " +
        "(PARTITION BY u ORDER BY c DESC, label ASC) = 1)")
    }
    sb.append(s" SELECT node, label AS community FROM l$rounds ORDER BY node")
    sb.toString
  }

  /** Mirror of q_graph_summary: [[dedupClustersOracle]]'s recursive CC
    * over ALL documents (singletons included), then the one-row health
    * readout. */
  private def graphSummaryOracle: String =
    s"WITH RECURSIVE $mhPairsCtes, " +
      "e AS MATERIALIZED (SELECT DISTINCT least(id1, id2) AS id1, " +
      "greatest(id1, id2) AS id2 FROM pairs WHERE id1 <> id2), " +
      "edges AS (SELECT id1 AS src, id2 AS dst FROM e " +
      "UNION ALL SELECT id2, id1 FROM e), " +
      "cc AS (SELECT doc_id AS id, doc_id AS label FROM documents " +
      "UNION SELECT ed.dst, cc.label FROM cc JOIN edges ed ON cc.id = ed.src), " +
      "lab AS (SELECT id, min(label) AS label FROM cc GROUP BY 1), " +
      "comp AS (SELECT count(*) AS n_components, " +
      "CAST(max(sz) AS BIGINT) AS largest_component, " +
      "CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated " +
      "FROM (SELECT label, count(*) AS sz FROM lab GROUP BY 1)), " +
      "nn AS (SELECT count(*) AS n_nodes FROM documents), " +
      "ne AS (SELECT count(*) AS n_edges FROM e) " +
      "SELECT nn.n_nodes, ne.n_edges, comp.n_components, " +
      "comp.largest_component, comp.n_isolated, " +
      "round(CAST(comp.largest_component AS DOUBLE) / " +
      "CAST(nn.n_nodes AS DOUBLE), 6) AS largest_share " +
      "FROM nn CROSS JOIN ne CROSS JOIN comp"

  /** Mirror of q_modularity: [[labelPropagationOracle]]'s unrolled LPA
    * rounds, then the per-community m_c/m − (d_c/2m)² readout with the
    * engine's fixed double parenthesization. */
  private def modularityOracle(rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH $mhPairsCtes, " +
        "n0 AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM pairs " +
        "UNION ALL SELECT id2, id1 FROM pairs), " +
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM n0)")
    for (i <- 1 to rounds) {
      sb.append(s", c$i AS MATERIALIZED (SELECT n.u AS u, l.label AS label, " +
        s"count(*) AS c FROM n0 n JOIN l${i - 1} l ON n.v = l.node " +
        "GROUP BY 1, 2)")
      sb.append(s", l$i AS MATERIALIZED (SELECT u AS node, label FROM c$i " +
        "QUALIFY row_number() OVER " +
        "(PARTITION BY u ORDER BY c DESC, label ASC) = 1)")
    }
    sb.append(s", lab AS MATERIALIZED (SELECT node, label AS community FROM l$rounds)")
    sb.append(", e AS MATERIALIZED (SELECT DISTINCT least(id1, id2) AS a, " +
      "greatest(id1, id2) AS b FROM pairs WHERE id1 <> id2)")
    sb.append(", m AS (SELECT count(*) AS m FROM e)")
    sb.append(", und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e)")
    sb.append(", dc AS (SELECT lab.community, count(*) AS dc FROM und " +
      "JOIN lab ON lab.node = und.u GROUP BY 1)")
    sb.append(", mc AS (SELECT la.community AS community, count(*) AS mc " +
      "FROM e JOIN lab la ON la.node = e.a JOIN lab lb ON lb.node = e.b " +
      "WHERE la.community = lb.community GROUP BY 1)")
    sb.append(", nn AS (SELECT community, count(*) AS n_nodes FROM lab GROUP BY 1)")
    sb.append(" SELECT nn.community, nn.n_nodes, " +
      "CAST(COALESCE(mc.mc, 0) AS BIGINT) AS intra_edges, " +
      "CAST(COALESCE(dc.dc, 0) AS BIGINT) AS degree_sum, " +
      "round(CAST(COALESCE(mc.mc, 0) AS DOUBLE) / CAST(m.m AS DOUBLE) - " +
      "(CAST(COALESCE(dc.dc, 0) AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))) * " +
      "(CAST(COALESCE(dc.dc, 0) AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))), 6) + 0.0 " +
      "AS contribution FROM nn LEFT JOIN dc USING (community) " +
      "LEFT JOIN mc USING (community) CROSS JOIN m ORDER BY nn.community")
    sb.toString
  }

  /** Mirror of q_assortativity: normalized edges, both-direction ends
    * joined to degrees, DECIMAL moments, the Pearson assembly in the
    * identical double order. */
  private def assortativityOracle: String =
    s"WITH $mhPairsCtes, " +
      "e AS MATERIALIZED (SELECT DISTINCT least(id1, id2) AS a, " +
      "greatest(id1, id2) AS b FROM pairs WHERE id1 <> id2), " +
      "und AS MATERIALIZED (SELECT a AS u, b AS v FROM e " +
      "UNION ALL SELECT b, a FROM e), " +
      "deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY 1), " +
      "ends AS (SELECT CAST(dx.deg AS DOUBLE) AS x, " +
      "CAST(dy.deg AS DOUBLE) AS y FROM und " +
      "JOIN deg dx ON dx.node = und.u JOIN deg dy ON dy.node = und.v), " +
      "mo AS (SELECT count(*) AS n, " +
      "SUM(CAST(x AS DECIMAL(28,10))) AS sx, " +
      "SUM(CAST(y AS DECIMAL(28,10))) AS sy, " +
      "SUM(CAST(x * y AS DECIMAL(28,10))) AS sxy, " +
      "SUM(CAST(x * x AS DECIMAL(28,10))) AS sxx, " +
      "SUM(CAST(y * y AS DECIMAL(28,10))) AS syy FROM ends) " +
      "SELECT n AS n_edge_ends, " +
      "round((CAST(sxy AS DOUBLE) / n - " +
      "(CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) / " +
      "(sqrt(CAST(sxx AS DOUBLE) / n - " +
      "(CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) * " +
      "sqrt(CAST(syy AS DOUBLE) / n - " +
      "(CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))), 6) " +
      "AS assortativity FROM mo"

  /** Mirror of q_graph_bfs: 3 unrolled min-distance relaxation rounds
    * over the same bipartite user↔event-type edge list, from the
    * lexicographically-first event-type node. */
  private def bfsOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH ue AS (SELECT DISTINCT user_id, event_type FROM events), "
    sb ++= "ed AS (SELECT 'u:' || user_id AS src, 't:' || event_type AS dst FROM ue " +
      "UNION ALL SELECT 't:' || event_type AS src, 'u:' || user_id AS dst FROM ue), "
    sb ++= "d0 AS (SELECT 't:' || min(event_type) AS node, CAST(0 AS BIGINT) AS dist FROM events), "
    for (t <- 1 to 3) {
      sb ++= s"d$t AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (" +
        s"SELECT node, dist FROM d${t - 1} " +
        s"UNION ALL SELECT ed.dst AS node, p.dist + 1 AS dist " +
        s"FROM d${t - 1} p JOIN ed ON p.node = ed.src) GROUP BY 1), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT node, dist FROM d3 ORDER BY node"
    sb.toString
  }

  /** Mirror of q_graph_sssp: 3 unrolled weighted min-distance relaxation
    * rounds (Bellman-Ford) over the weighted bipartite user↔event-type
    * edge list, from the lexicographically-first event-type node. */
  private def ssspOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH ue AS (SELECT user_id, event_type, count(*) AS w FROM events GROUP BY 1, 2), "
    sb ++= "ed AS (SELECT 'u:' || user_id AS src, 't:' || event_type AS dst, w FROM ue " +
      "UNION ALL SELECT 't:' || event_type AS src, 'u:' || user_id AS dst, w FROM ue), "
    sb ++= "d0 AS (SELECT 't:' || min(event_type) AS node, CAST(0 AS BIGINT) AS dist FROM events), "
    for (t <- 1 to 3) {
      sb ++= s"d$t AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (" +
        s"SELECT node, dist FROM d${t - 1} " +
        s"UNION ALL SELECT ed.dst AS node, p.dist + ed.w AS dist " +
        s"FROM d${t - 1} p JOIN ed ON p.node = ed.src) GROUP BY 1), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT node, dist FROM d3 ORDER BY node"
    sb.toString
  }

  /** Mirror of q_harmonic: [[bfsOracle]]'s unrolled rounds with a seed
    * column carried through (multi-source labeled BFS), then Σ 1/d in
    * DECIMAL. `ed` is MATERIALIZED — every unrolled round joins it. */
  private def harmonicOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH ue AS (SELECT DISTINCT user_id, event_type FROM events), "
    sb ++= "ed AS MATERIALIZED (SELECT 'u:' || user_id AS src, " +
      "'t:' || event_type AS dst FROM ue " +
      "UNION ALL SELECT 't:' || event_type AS src, 'u:' || user_id AS dst FROM ue), "
    sb ++= "d0 AS (SELECT DISTINCT 't:' || event_type AS node, " +
      "'t:' || event_type AS seed, CAST(0 AS BIGINT) AS dist FROM events), "
    for (t <- 1 to 3) {
      sb ++= s"d$t AS MATERIALIZED (SELECT node, seed, " +
        s"CAST(min(dist) AS BIGINT) AS dist FROM (" +
        s"SELECT node, seed, dist FROM d${t - 1} " +
        s"UNION ALL SELECT ed.dst AS node, p.seed, p.dist + 1 AS dist " +
        s"FROM d${t - 1} p JOIN ed ON p.node = ed.src) GROUP BY 1, 2), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT node, count(*) AS n_reached, " +
      "round(CAST(SUM(CAST(1.0 / dist AS DECIMAL(28,10))) AS DOUBLE), 6) " +
      "AS harmonic FROM d3 WHERE dist > 0 GROUP BY 1 ORDER BY 1"
    sb.toString
  }

  /** Mirror of q_link_predict: the shared minhash candidate-pair CTEs,
    * wedge enumeration (x.u < y.v), NOT EXISTS edge exclusion, and the
    * per-value-rounded DECIMAL Σ 1/ln(deg) — [[kcoreOracle]]'s edge
    * normalization stance. */
  private def adamicAdarOracle: String =
    s"WITH $mhPairsCtes, " +
      "e AS MATERIALIZED (SELECT DISTINCT least(id1, id2) AS a, " +
      "greatest(id1, id2) AS b FROM pairs WHERE id1 <> id2), " +
      "und AS MATERIALIZED (SELECT a AS u, b AS v FROM e " +
      "UNION ALL SELECT b, a FROM e), " +
      "deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY 1), " +
      "wd AS (SELECT x.u AS a, y.v AS b, x.v AS c FROM und x " +
      "JOIN und y ON x.v = y.u AND x.u < y.v), " +
      "cand AS (SELECT wd.a, wd.b, wd.c FROM wd WHERE NOT EXISTS " +
      "(SELECT 1 FROM e WHERE e.a = wd.a AND e.b = wd.b)), " +
      "sc AS (SELECT a, b, count(*) AS common, " +
      "round(CAST(SUM(CAST(round(1.0 / ln(CAST(deg.deg AS DOUBLE)), 9) " +
      "AS DECIMAL(28,14))) AS DOUBLE), 6) AS aa_score " +
      "FROM cand JOIN deg ON deg.node = cand.c GROUP BY 1, 2) " +
      "SELECT a, b, common, aa_score FROM sc " +
      "ORDER BY aa_score DESC, a, b LIMIT 50"

  /** Unrolled HITS: mirrors [[graft.ops.Graph.hits]]'s determinism recipe
    * exactly — per-edge contributions cast to DECIMAL(28,14) before the
    * grouped sum, per-node raw scores rounded to 9 dp, the L1 total
    * re-summed in DECIMAL(18,9) over the rounded values. Base CTEs are
    * MATERIALIZED so the 3×2 unrolled half-steps scan events once, not
    * 6^depth times ([[kcoreOracle]]'s fd lesson). */
  private def hitsOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH ed AS MATERIALIZED (SELECT 'u:' || user_id AS src, " +
      "'t:' || event_type AS dst, count(*) AS w FROM events GROUP BY 1, 2), "
    sb ++= "nd AS MATERIALIZED (SELECT src AS node FROM ed " +
      "UNION SELECT dst AS node FROM ed), "
    sb ++= "h0r AS (SELECT node, CAST(1.0 AS DOUBLE) AS s FROM nd), "
    def l1(from: String, out: String): Unit = {
      sb ++= s"${out}t AS (SELECT CAST(sum(CAST(s AS DECIMAL(18,9))) " +
        s"AS DOUBLE) AS tt FROM $from), "
      sb ++= s"$out AS (SELECT node, round(CASE WHEN tt > 0 THEN s / tt " +
        s"ELSE CAST(0 AS DOUBLE) END, 9) AS s FROM $from CROSS JOIN ${out}t), "
    }
    l1("h0r", "h0")
    for (t <- 1 to 3) {
      sb ++= s"a${t}r AS (SELECT nd.node, coalesce(x.r, CAST(0 AS DOUBLE)) AS s " +
        s"FROM nd LEFT JOIN (SELECT ed.dst AS node, " +
        s"round(CAST(sum(CAST(ed.w * h.s AS DECIMAL(28,14))) AS DOUBLE), 9) AS r " +
        s"FROM ed JOIN h${t - 1} h ON h.node = ed.src GROUP BY 1) x " +
        s"ON nd.node = x.node), "
      l1(s"a${t}r", s"a$t")
      sb ++= s"h${t}r AS (SELECT nd.node, coalesce(x.r, CAST(0 AS DOUBLE)) AS s " +
        s"FROM nd LEFT JOIN (SELECT ed.src AS node, " +
        s"round(CAST(sum(CAST(ed.w * a.s AS DECIMAL(28,14))) AS DOUBLE), 9) AS r " +
        s"FROM ed JOIN a$t a ON a.node = ed.dst GROUP BY 1) x " +
        s"ON nd.node = x.node), "
      l1(s"h${t}r", s"h$t")
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT nd.node, round(h3.s, 6) AS hub, round(a3.s, 6) AS authority " +
      "FROM nd JOIN h3 ON nd.node = h3.node JOIN a3 ON nd.node = a3.node " +
      "ORDER BY nd.node"
    sb.toString
  }

  private def pagerankOracle: String = {
    val oneMinusD = (1.0 - 0.85).toString
    val sb = new StringBuilder
    sb ++= "WITH ue AS (SELECT user_id, event_type, count(*) AS w FROM events GROUP BY 1, 2), "
    sb ++= "ed AS (SELECT 'u:' || user_id AS src, 't:' || event_type AS dst, w FROM ue " +
      "UNION ALL SELECT 't:' || event_type AS src, 'u:' || user_id AS dst, w FROM ue), "
    sb ++= "nd AS (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed), "
    sb ++= "nn AS (SELECT count(*) AS n FROM nd), "
    sb ++= "ow AS (SELECT src, sum(w) AS outw FROM ed GROUP BY 1), "
    sb ++= "r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nd CROSS JOIN nn), "
    for (t <- 1 to 3) {
      sb ++= s"c$t AS (SELECT ed.dst AS node, CAST(r.rank * ed.w / ow.outw AS DECIMAL(28,14)) AS c " +
        s"FROM ed JOIN ow ON ed.src = ow.src JOIN r${t - 1} r ON r.node = ed.src), "
      sb ++= s"s$t AS (SELECT node, sum(c) AS cs FROM c$t GROUP BY 1), "
      sb ++= s"r$t AS (SELECT nd.node, round($oneMinusD / CAST(nn.n AS DOUBLE) + " +
        s"0.85 * coalesce(CAST(s$t.cs AS DOUBLE), 0), 9) AS rank " +
        s"FROM nd CROSS JOIN nn LEFT JOIN s$t ON nd.node = s$t.node), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node"
    sb.toString
  }
}

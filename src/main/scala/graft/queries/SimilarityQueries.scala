package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** Vector similarity (ops Similarity): exact and approximate nearest
  * neighbours (IVF, LSH, PQ, k-means cells), their recall, clustering
  * and embedding profiles. */
object SimilarityQueries {
  val all: Seq[Q] = Seq(
    // similarity: brute-force cosine top-k
    Q("q_ann_cosine", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20)
    },
      annCosineOracle),

    // embedding corpus diagnostics (Similarity.embeddingProfile): per
    // label — count, mean L2 norm, centroid norm, mean cosine to the
    // centroid. The anisotropy/drift dashboard row for each source.
    Q("q_embedding_profile", (s, d) =>
      Similarity.embeddingProfile(Tables.embeddings(s, d), "embedding",
        "label"),
      // Mirrors embeddingProfile's determinism recipe: centroid dims are
      // 9-dp-rounded exact-DECIMAL means; per-row norm (9 dp) and cosine
      // (6 dp) pre-round before their DECIMAL means; list_dot_product
      // folds in element order exactly like the Spark aggregate().
      "WITH v AS MATERIALIZED (SELECT label AS grp, " +
        "embedding::DOUBLE[] AS v FROM embeddings), " +
        "pe AS (SELECT grp, i AS p, v[i] AS x FROM v, " +
        "unnest(generate_series(1, len(v))) AS u(i)), " +
        "cent AS (SELECT grp, p, " +
        "round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 9) AS c " +
        "FROM pe GROUP BY 1, 2), " +
        "carr AS MATERIALIZED (SELECT grp, list(c ORDER BY p) AS cv FROM cent GROUP BY 1), " +
        "rw AS (SELECT v.grp, " +
        "round(sqrt(list_dot_product(v.v, v.v)), 9) AS nrm, " +
        "CASE WHEN list_dot_product(v.v, v.v) = 0 " +
        "OR list_dot_product(carr.cv, carr.cv) = 0 THEN CAST(0 AS DOUBLE) " +
        "ELSE round(list_dot_product(v.v, carr.cv) / " +
        "(sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(carr.cv, carr.cv))), 6) END AS cosc, " +
        "round(sqrt(list_dot_product(carr.cv, carr.cv)), 6) AS cnrm " +
        "FROM v JOIN carr ON v.grp = carr.grp) " +
        "SELECT grp, count(*) AS n_vecs, " +
        "round(CAST(sum(CAST(nrm AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS mean_norm, " +
        "min(cnrm) AS centroid_norm, " +
        "round(CAST(sum(CAST(cosc AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_cos_centroid " +
        "FROM rw GROUP BY grp ORDER BY grp"),

    // MMR diversified retrieval (Similarity.mmrSelect): greedy
    // λ·rel − (1−λ)·max-sim-to-selected over the top-20 relevance pool,
    // k=5, λ=0.75 (0.25 penalty weight is binary-exact, so both engines
    // walk the identical selection path).
    Q("q_mmr_select", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.mmrSelect(emb, "vec_id", "embedding", q, k = 5,
        poolSize = 20, lambda = 0.75).orderBy("rank")
    },
      // Unrolled greedy MMR: the same top-20 pool and 6-dp pair cosines,
      // then five argmax steps as CTE hops (score desc, id asc at every
      // step); 0.75/0.25 stay binary-exact doubles in both engines.
      mmrOracle),

    // Hard-negative mining (Similarity.hardNegatives): per probe, the 5
    // most-similar DIFFERENT-label vectors — contrastive-training pair
    // generation on the knnPredict scan shape.
    Q("q_hard_negatives", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.orderBy("vec_id").limit(5)
        .select(col("vec_id").alias("qid"), col("label").alias("qlabel"),
          Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        probes, 5).orderBy("key")
    },
      // q_ann_batch's scan with the label-mismatch filter ahead of the
      // per-probe rank window.
      "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e " +
        "ORDER BY vec_id LIMIT 5), " +
        "sc AS (SELECT q.qid, q.qlabel, e.vec_id, e.label AS neg_label, " +
        "round(list_dot_product(e.v, q.qv) / " +
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid AND e.label <> q.qlabel), " +
        "r AS (SELECT qid, qlabel, vec_id, neg_label, sim, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM sc) " +
        "SELECT CAST(qid AS VARCHAR) || '_' || CAST(vec_id AS VARCHAR) AS key, " +
        "qid, qlabel, vec_id, neg_label, sim FROM r WHERE rn <= 5 ORDER BY key"),

    // similarity: LSH-bucketed ANN
    Q("q_ann_lsh", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.lshTopK(emb, "vec_id", "embedding", q, dim = 64, k = 20, nPlanes = 8)
    },
      lshOracle),

    // similarity: multi-probe LSH ANN (query bucket + Hamming-1 neighbors —
    // recall superset of q_ann_lsh, same single corpus scan + equi-join)
    Q("q_ann_lsh_multiprobe", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", q,
        dim = 64, k = 20, nPlanes = 8)
    },
      lshMultiProbeOracle),

    // similarity: multi-TABLE LSH ANN — 4 independent 4-plane tables,
    // candidates unioned (the recall fix for the starved single-table
    // variant; corpus scanned once, bounded ×4 fan-out)
    Q("q_ann_lsh_multitable", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.lshTopKMultiTable(emb, "vec_id", "embedding", q,
        dim = 64, k = 20, nPlanes = 4, nTables = 4)
    },
      lshMultiTableOracle),

    // similarity: IVF ANN (deterministic centroids → cell equi-join)
    Q("q_ann_ivf", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, k = 20, nCells = 8)
    },
      ivfOracle),

    // similarity: PERSISTED IVF index — the corpus assignment is written
    // once as a cell-bucketed parquet table (the index layout a vector
    // store keeps across queries), then probed shuffle-free: the probe
    // broadcasts and the index scan flows straight into the join. Same
    // deterministic first-8 centroids as q_ann_ivf, so results (and the
    // recall row) must match it exactly.
    Q("q_ann_ivf_indexed", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val base = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).alias("v"))
      val centroids = base.orderBy("vec_id").limit(8)
        .select(col("vec_id").alias("cid"), col("v").alias("cv"))
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", centroids,
        "graft_ivf_index")
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.ivfTopKIndexed(s, "graft_ivf_index", "vec_id", q, k = 20,
        centroids)
    },
      ivfOracle),

    // similarity: IVF multi-probe ANN (query probes its 2 nearest cells —
    // recall superset of q_ann_ivf, same single corpus assignment pass)
    Q("q_ann_ivf_multiprobe", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.ivfTopKMultiProbe(emb, "vec_id", "embedding", q,
        k = 20, nCells = 8, nProbe = 2)
    },
      ivfMultiProbeOracle),

    // similarity: IVF ANN with Lloyd-trained centroids — 3 deterministic
    // k-means rounds (decimal-exact means, 9-dp rounding) then the same
    // cell equi-join as q_ann_ivf. The index-quality upgrade over first-n
    // centroids; dataflow cost = one corpus scan + one (cell, sums)
    // shuffle per training round.
    Q("q_ann_ivf_kmeans", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.ivfTopKKMeans(emb, "vec_id", "embedding", q,
        k = 20, nCells = 8, iters = 3, dim = 64)
    },
      kmeansIvfOracle),

    // similarity: dimension-truncation recall ladder — price the
    // "score on the first d dims" bandwidth cut in measured recall@20
    Q("q_ann_dim_tradeoff", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.dimTradeoffRecall(emb, "vec_id", "embedding", q,
        k = 20, dims = Seq(8, 16, 32, 64), fullDim = 64)
    },
      // Same truncated-cosine cuts per prefix, zero-hit prefixes report 0.
      dimTradeoffOracle),

    // similarity: product-quantization ANN — 8 subspace codebooks (Lloyd,
    // 3 rounds), corpus encoded to 8-code words, ADC scoring over the
    // codes table only, exact-cosine rerank of the top-50 candidates.
    // The compressed-domain variant of the IVF family: the per-query scan
    // touches ~64x less data than raw vectors.
    Q("q_ann_pq", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.pqTopK(emb, "vec_id", "embedding", q, k = 20,
        m = 8, kPerSub = 8, iters = 3, dim = 64, rerank = 50)
    },
      // Same unrolled per-subspace Lloyd, same ADC decimal sums, same cuts.
      pqOracle),

    // similarity: measured recall@20 of every ANN variant against the
    // brute-force ground truth — turns the "recall superset" design claims
    // into numbers. Each variant's top-20 semi-joins the exact top-20 ids;
    // recall = hit count / 20. (The variant plans each scan the corpus
    // once; the union is of 5 × ≤20-row results, so the combine is free.)
    Q("q_ann_recall", (s, d) => {
      val gt = queries("q_ann_cosine")(s, d).select("vec_id")
      // The two k-means variants share ONE Lloyd training: centroids are
      // 8 tiny rows, so materializing them once (localCheckpoint) drops
      // the second training from the ladder (measured 8.2 -> 7.8 s at
      // sf0.1 — the ladder's cost is dominated by the 8 per-variant
      // corpus scans, incl. the indexed variant's table rebuild, which
      // is the measurement's point); every variant still assigns the
      // corpus itself.
      val emb = Tables.embeddings(s, d)
      val q1 = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      val base = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).alias("v"))
      val kmCents = Similarity.kmeansCentroids(base, "vec_id", "v",
        nCells = 8, iters = 3, dim = 64).localCheckpoint()
      val shared = Map(
        "q_ann_ivf_kmeans" -> Similarity.ivfTopKWithCentroids(
          emb, "vec_id", "embedding", q1, 20, kmCents),
        "q_ann_ivf_kmeans_multiprobe" -> Similarity.ivfTopKMultiProbeWithCentroids(
          emb, "vec_id", "embedding", q1, 20, kmCents, nProbe = 2))
      Seq("q_ann_ivf", "q_ann_ivf_indexed", "q_ann_ivf_kmeans",
        "q_ann_ivf_kmeans_multiprobe", "q_ann_ivf_multiprobe", "q_ann_lsh",
        "q_ann_lsh_multiprobe", "q_ann_lsh_multitable", "q_ann_pq")
        .map(v => shared.getOrElse(v, queries(v)(s, d))
          .select(lit(v.stripPrefix("q_")).alias("variant"), col("vec_id")))
        .reduce(_ unionAll _)
        .join(gt, Seq("vec_id"), "left_semi")
        .groupBy("variant")
        .agg(round(count(lit(1)).cast("double") / 20.0, 6).alias("recall"))
        .orderBy("variant")
    },
      annRecallOracle),

    // similarity: BATCH ANN — the realistic retrieval shape (many queries
    // at once): 5 query vectors broadcast as one probe set, the corpus is
    // scanned ONCE and every (query, candidate) cosine scored in a single
    // narrow pass; per-query top-5 via row_number, which Spark plans with
    // WindowGroupLimit — each map task keeps only its local top-5 per
    // query BEFORE the shuffle, so the exchange carries O(tasks × Q × k)
    // rows, not the full scored cross product.
    Q("q_ann_batch", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(5)
        .select(col("vec_id").alias("qid"),
          Similarity.asDouble(col("embedding")).alias("qv"))
      val scored = emb
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).alias("v"))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          Similarity.cosine(col("v"), col("qv")).alias("sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(desc("sim"), col("vec_id"))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5)
        .select(concat(col("qid").cast("string"), lit("_"),
          col("vec_id").cast("string")).alias("key"),
          col("qid"), col("vec_id"), col("sim"))
        .orderBy("key")
    },
      "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, v AS qv FROM e ORDER BY vec_id LIMIT 5), " +
        "sc AS (SELECT q.qid, e.vec_id, round(list_dot_product(e.v, q.qv) / " +
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim " +
        "FROM e CROSS JOIN q), " +
        "r AS (SELECT qid, vec_id, sim, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM sc) " +
        "SELECT CAST(qid AS VARCHAR) || '_' || CAST(vec_id AS VARCHAR) AS key, " +
        "qid, vec_id, sim FROM r WHERE rn <= 5 ORDER BY key"),

    // similarity: the trained-index + recall-lever pairing — k-means
    // centroids AND 2-cell multi-probe (the two levers compose; measured
    // the best recall of all ANN variants on the fixture)
    Q("q_ann_ivf_kmeans_multiprobe", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.orderBy("vec_id").limit(1)
        .select(Similarity.asDouble(col("embedding")).alias("qv"))
      val base = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).alias("v"))
      val cents = Similarity.kmeansCentroids(base, "vec_id", "v",
        nCells = 8, iters = 3, dim = 64)
      Similarity.ivfTopKMultiProbeWithCentroids(emb, "vec_id", "embedding",
        q, k = 20, cents, nProbe = 2)
    },
      kmeansIvfMultiProbeOracle),

    // similarity: embedding-cosine near-dup pairs (LSH-pruned self-join).
    // Norms are computed ONCE PER ROW before the join — inside the pair
    // expression they would be recomputed per candidate pair, tripling the
    // per-pair flops (dot+2 norms vs 1 dot). sqrt(dot(v,v)) here is the
    // exact same fold the oracle evaluates, so values are bit-identical.
    Q("q_neardup_embedding", (s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).alias("v"))
        .withColumn("bucket", Similarity.lshBucket(col("v"), 64, 4))
        .withColumn("nrm", Similarity.norm(col("v")))
      val a = base.select(col("vec_id").alias("id1"), col("v").alias("v1"),
        col("nrm").alias("n1"), col("bucket"))
      val b = base.select(col("vec_id").alias("id2"), col("v").alias("v2"),
        col("nrm").alias("n2"), col("bucket"))
      a.join(b, Seq("bucket")).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)
            .alias("cos"))
        .filter(col("cos") >= 0.3)
        .orderBy("id1", "id2")
    },
      neardupOracle),

    // retrieval: reciprocal-rank fusion of two ANN retrievers (IVF +
    // multi-table LSH) — the standard way hybrid search combines ranked
    // lists without comparable scores: rrf = Σ 1/(60 + rank), missing
    // list membership contributes 0. Rank windows run over ≤20-row
    // retriever outputs, so the fusion itself is driver-trivial at any
    // corpus size — the cost lives in the retrievers.
    Q("q_rrf_fusion", (s, d) => {
      def ranked(df: DataFrame, rn: String) = df.select(col("vec_id"),
        row_number().over(Window.orderBy(desc("cos"), col("vec_id")))
          .alias(rn))
      val a = ranked(queries("q_ann_ivf")(s, d), "ra")
      val b = ranked(queries("q_ann_lsh_multitable")(s, d), "rb")
      a.join(b, Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          round(coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)), 9)
            .alias("rrf"))
        .orderBy(desc("rrf"), col("vec_id")).limit(10)
    },
      // Mirrors q_rrf_fusion: same retriever mirrors as subqueries (DuckDB
      // accepts WITH inside a derived table), same 1/(60+rank) arithmetic.
      s"WITH a AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS ra " +
        s"FROM ($ivfOracle)), " +
        s"b AS (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rb " +
        s"FROM ($lshMultiTableOracle)) " +
        "SELECT vec_id, round(coalesce(1.0 / (60 + ra), 0) + coalesce(1.0 / (60 + rb), 0), 9) AS rrf " +
        "FROM a FULL JOIN b USING (vec_id) ORDER BY rrf DESC, vec_id LIMIT 10"),

    // similarity: kNN label prediction — the first 10 vectors take the
    // majority label of their 5 nearest neighbors (self excluded); the
    // embedding-space weak-labeling/eval loop over one corpus scan
    Q("q_knn_classify", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.orderBy("vec_id").limit(10)
        .select(col("vec_id").alias("qid"), col("label").alias("qlabel"),
          Similarity.asDouble(col("embedding")).alias("qv"))
      Similarity.knnPredict(emb, "vec_id", "embedding", "label", probes, k = 5)
        .orderBy("qid")
    },
      "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e ORDER BY vec_id LIMIT 10), " +
        "sc AS (SELECT q.qid, q.qlabel, e.vec_id, e.label, " +
        "round(list_dot_product(e.v, q.qv) / " +
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim " +
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
        "top AS (SELECT qid, qlabel, label FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn FROM sc) " +
        "WHERE rn <= 5), " +
        "votes AS (SELECT qid, qlabel, label, count(*) AS n_votes FROM top GROUP BY 1, 2, 3) " +
        "SELECT qid, qlabel AS true_label, label AS pred_label, n_votes FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS r " +
        "FROM votes) WHERE r = 1 ORDER BY qid"),

    // similarity: SemDeDup — k-means cells, within-cell cosine pairs,
    // drop every vector with a lower-id neighbor at cos >= 0.3
    Q("q_semdedup", (s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).alias("v"))
      val cents = Similarity.kmeansCentroids(base, "vec_id", "v",
        nCells = 8, iters = 3, dim = 64).localCheckpoint()
      Similarity.semDedup(base, "vec_id", "v", cents, tau = 0.3)
        .orderBy("vec_id")
    },
      // Mirrors Similarity.semDedup over the shared 3-round Lloyd chain:
      // within-cell pairs at 6-dp cosine >= 0.3, anti-join the id2 set.
      kmeansCtes + ", pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2 " +
        "FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        "WHERE round(list_dot_product(a.v, b.v) / " +
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3), " +
        "dr AS (SELECT DISTINCT id2 FROM pr) " +
        "SELECT af.vec_id, af.cell FROM af LEFT JOIN dr ON af.vec_id = dr.id2 " +
        "WHERE dr.id2 IS NULL ORDER BY af.vec_id"),

    // similarity: Local Outlier Factor over the shared Lloyd cells —
    // within-cell exact kNN (k=5, rounded-distance + id tie-break),
    // reachability density, LOF readout. Surfaces OOD embeddings.
    Q("q_lof", (s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).alias("v"))
      val cents = Similarity.kmeansCentroids(base, "vec_id", "v",
        nCells = 8, iters = 3, dim = 64).localCheckpoint()
      Similarity.lof(base, "vec_id", "v", cents, k = 5)
        .orderBy("vec_id")
    },
      // Mirrors Similarity.lof over the shared 3-round Lloyd chain:
      // within-cell pairs at 6-dp Euclidean distance, row_number kNN with
      // (d, j) order, DECIMAL reach/lrd sums, 6-dp LOF readout.
      lofOracle),

    // similarity: grid-bucketed DBSCAN on the (dim0, dim1) projection —
    // eps-grid candidate join (never all-pairs), cores at minPts=5,
    // clusters = CC over core-core edges, borders adopt their min core
    // neighbor, the rest is noise. The oracle brute-forces the eps graph.
    Q("q_dbscan", (s, d) =>
      Similarity.dbscan2d(Tables.embeddings(s, d), "vec_id", "embedding",
          eps = 0.02, minPts = 5)
        .orderBy("vec_id"),
      // Mirrors Similarity.dbscan2d: brute-force eps graph (the oracle may
      // do all-pairs; the engine's grid join must produce the same graph),
      // degree>=minPts-1 cores, recursive-CTE CC over core-core edges,
      // borders adopt min core-neighbor label. eps^2 is interpolated from
      // the SAME Scala double product the engine compares against.
      dbscanOracle),

    // similarity: cluster-mix report — docs per k-means cell and each
    // cell's corpus share (the topic-balance dataset-card table; the
    // embedding-space analog of q_domain_mix's source shares). Training
    // reuses the Lloyd trainer; the report is one tiny aggregation on
    // cell ids.
    Q("q_cluster_mix", (s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).alias("v"))
      val cents = Similarity.kmeansCentroids(base, "vec_id", "v",
        nCells = 8, iters = 3, dim = 64).localCheckpoint()
      val cells = Similarity.ivfAssign(base, "vec_id", "v", cents)
        .groupBy("cell").agg(count(lit(1)).alias("n_vecs"))
      val total = cells.agg(sum(col("n_vecs")).alias("__total"))
      cells.crossJoin(broadcast(total))
        .select(col("cell"), col("n_vecs"),
          round(col("n_vecs").cast("double") / col("__total"), 6).alias("share"))
        .orderBy("cell")
    },
      kmeansCtes +
        " SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM af), 6) AS share " +
        "FROM af GROUP BY cell ORDER BY cell"),

    // Principal component of the embedding space
    // (Similarity.pcaPowerIteration): one-pass DECIMAL covariance →
    // 8 deterministic power-iteration rounds over the metadata-sized
    // matrix table — the embedding-drift/structure audit (which
    // direction dominates the corpus) without any vector leaving its
    // partition twice.
    Q("q_pca_top", (s, d) =>
      Similarity.pcaPowerIteration(Tables.embeddings(s, d), "embedding",
          dim = 64, iters = 8)
        .orderBy("dim_idx"),
      pcaOracle),

    // Embedding dispersion per label (Similarity.dispersionReport): the
    // exact mean pairwise cosine via the resultant-vector identity —
    // O(n·d) where the naive readout is O(n²·d).
    Q("q_embedding_dispersion", (s, d) =>
      graft.ops.Similarity.dispersionReport(Tables.embeddings(s, d),
        "embedding", "label"),
      // Same element-order normalization fold, DECIMAL resultant sums,
      // same (||S||^2 - n) / (n(n-1)) readout with the singleton NULL pin.
      "WITH v AS MATERIALIZED (SELECT label AS grp, embedding::DOUBLE[] AS v " +
        "FROM embeddings WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0), " +
        "vh AS MATERIALIZED (SELECT grp, round(sqrt(list_dot_product(v, v)), 9) AS nrm, " +
        "list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vh FROM v), " +
        "pe AS (SELECT grp, i AS p, vh[i] AS xh FROM vh, " +
        "unnest(generate_series(1, len(vh))) AS u(i)), " +
        "s AS (SELECT grp, p, CAST(sum(CAST(xh AS DECIMAL(28,14))) AS DOUBLE) AS s " +
        "FROM pe GROUP BY 1, 2), " +
        "sq AS (SELECT grp, CAST(sum(CAST(s * s AS DECIMAL(28,14))) AS DOUBLE) AS ssq " +
        "FROM s GROUP BY 1), " +
        "cnt AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(CAST(sum(CAST(nrm AS DECIMAL(28,9))) AS DOUBLE) / count(*), 6) AS mean_norm " +
        "FROM vh GROUP BY 1) " +
        "SELECT cnt.grp, n_vecs, mean_norm, " +
        "CASE WHEN n_vecs < 2 THEN NULL ELSE " +
        "round((ssq - CAST(n_vecs AS DOUBLE)) / " +
        "(CAST(n_vecs AS DOUBLE) * (CAST(n_vecs AS DOUBLE) - 1.0)), 6) END AS mean_pairwise_cos, " +
        "round(sqrt(ssq) / CAST(n_vecs AS DOUBLE), 6) AS mean_resultant_norm " +
        "FROM cnt JOIN sq ON cnt.grp = sq.grp ORDER BY cnt.grp"),

    // Cluster quality (Similarity.clusterQualityReport): simplified
    // silhouette, dispersion, and Davies-Bouldin component per k-means
    // cell — the partition-quality gate in front of the IVF build.
    Q("q_cluster_quality", (s, d) =>
      graft.ops.Similarity.clusterQualityReport(Tables.embeddings(s, d),
        "vec_id", "embedding", nCells = 8, iters = 3, dim = 64),
      // Shared deterministic-kmeans CTEs; same row-local a/b distances,
      // rounded-then-DECIMAL-mean readouts, k-squared DB cross join.
      clusterQualityOracle),

    // Int8 quantization distortion (Similarity.quantizationReport):
    // absmax per-dim scales, quantize-dequantize, cosine + abs-error
    // readout per label — the 4x-compression go/no-go.
    Q("q_embedding_quantize", (s, d) =>
      graft.ops.Similarity.quantizationReport(Tables.embeddings(s, d),
        "embedding", "label"),
      // Same absmax scales, same clamp(round(x/s)) dequantize, DECIMAL
      // cosine/error means with the zero pins.
      "WITH v AS MATERIALIZED (SELECT label AS grp, embedding::DOUBLE[] AS v " +
        "FROM embeddings WHERE len(embedding) = 64 AND " +
        "list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0), " +
        "pe AS (SELECT i AS p, max(abs(v[i])) / 127.0 AS s FROM v, " +
        "unnest(generate_series(1, 64)) AS u(i) GROUP BY 1), " +
        "sc AS (SELECT list(s ORDER BY p) AS sv FROM pe), " +
        "dq AS MATERIALIZED (SELECT grp, v, " +
        "list_transform(generate_series(1, 64), i -> " +
        "CASE WHEN sv[i] = 0.0 THEN 0.0 ELSE " +
        "greatest(least(round(v[i] / sv[i], 0), 127.0), -127.0) * sv[i] END) AS q " +
        "FROM v CROSS JOIN sc), " +
        "cg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "round(CAST(sum(CAST(CASE WHEN list_dot_product(q, q) = 0 THEN 0.0 ELSE " +
        "round(list_dot_product(v, q) / " +
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q, q))), 6) END " +
        "AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_cos_quant " +
        "FROM dq GROUP BY 1), " +
        "er AS (SELECT grp, round(CAST(sum(CAST(abs(v[i] - q[i]) " +
        "AS DECIMAL(28,14))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_abs_err " +
        "FROM dq, unnest(generate_series(1, 64)) AS u(i) GROUP BY 1) " +
        "SELECT cg.grp AS grp, n_vecs, mean_cos_quant, mean_abs_err " +
        "FROM cg JOIN er ON cg.grp = er.grp ORDER BY cg.grp"),

    // Nearest-centroid (Rocchio) classifier confusion matrix
    // (Similarity.centroidClassify) over the labeled embeddings.
    Q("q_centroid_classify", (s, d) =>
      Similarity.centroidClassify(
        Tables.embeddings(s, d).filter(size(col("embedding")) === 64),
        "vec_id", "embedding", "label"),
      "WITH e AS MATERIALIZED (SELECT vec_id, label, " +
        "embedding::DOUBLE[] AS v FROM embeddings WHERE len(embedding) = 64), " +
        "cd AS (SELECT label, i AS pos, " +
        "CAST(sum(CAST(v[i + 1] AS DECIMAL(28,14))) AS DOUBLE) / count(*) AS cx " +
        "FROM e, unnest(generate_series(0, 63)) AS u(i) GROUP BY 1, 2), " +
        "cent AS MATERIALIZED (SELECT label AS clab, " +
        "list(round(cx, 9) ORDER BY pos) AS c FROM cd GROUP BY 1), " +
        "sc AS (SELECT e.vec_id, e.label, cent.clab, " +
        "round(list_dot_product(e.v, cent.c) / " +
        "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c))), 6) " +
        "AS cos FROM e CROSS JOIN cent), " +
        "best AS (SELECT vec_id, label, clab, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clab) AS rn " +
        "FROM sc) " +
        "SELECT label, clab AS predicted, count(*) AS n FROM best " +
        "WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"),
  )

  /** Sibling lookup for the queries that compose other ANN variants. */
  private def queries(name: String): (SparkSession, String) => DataFrame =
    all.find(_.name == name).get.build

  /** Mirror of q_cluster_quality: the kmeansCtes assignment (af) and
    * final centroids (c3), then simplified silhouette / dispersion /
    * Davies-Bouldin arithmetic with the engine's rounding points. */
  private def clusterQualityOracle: String = {
    def dist(v: String, cv: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"
    kmeansCtes + ", " +
      s"ow AS (SELECT af.vec_id, af.cell, sqrt(${dist("af.v", "c.cv")}) AS a " +
      "FROM af JOIN c3 c ON c.cid = af.cell), " +
      s"ot AS (SELECT af.vec_id, sqrt(min(${dist("af.v", "c.cv")})) AS b " +
      "FROM af JOIN c3 c ON c.cid <> af.cell GROUP BY 1), " +
      "sl AS (SELECT ow.cell, CASE WHEN greatest(a, b) = 0.0 THEN 0.0 " +
      "ELSE round((b - a) / greatest(a, b), 6) END AS s, round(a, 9) AS a9 " +
      "FROM ow JOIN ot ON ow.vec_id = ot.vec_id), " +
      "per AS MATERIALIZED (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs, " +
      "round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_silhouette, " +
      "round(CAST(sum(CAST(a9 AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9) AS si " +
      "FROM sl GROUP BY 1), " +
      "cj AS (SELECT per.cell, per.si, c.cv FROM per JOIN c3 c ON c.cid = per.cell), " +
      s"db AS (SELECT p1.cell, round(max((p1.si + p2.si) / sqrt(${dist("p1.cv", "p2.cv")})), 6) " +
      "AS db_component FROM cj p1 JOIN cj p2 ON p1.cell <> p2.cell GROUP BY 1) " +
      "SELECT per.cell AS cell, n_vecs, mean_silhouette, round(si, 6) AS dispersion, " +
      "db_component FROM per LEFT JOIN db ON per.cell = db.cell ORDER BY per.cell"
  }

  /** DuckDB mirror of Similarity.lshBucket's plane literals. */
  private def planeLiteral(p: Int, dim: Int): String =
    (0 until dim).map(dd => Similarity.planeSign(p, dd))
      .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  private def lshOracle: String = {
    val bucketOf = (v: String) => (0 until 8).map { p =>
      s"(CASE WHEN list_dot_product($v, ${planeLiteral(p, 64)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1), " +
      s"cb AS (SELECT vec_id, v, ${bucketOf("v")} AS bucket FROM e), " +
      s"qb AS (SELECT qv, ${bucketOf("qv")} AS qbucket FROM q) " +
      "SELECT cb.vec_id, round(list_dot_product(cb.v, qb.qv) / " +
      "(sqrt(list_dot_product(cb.v, cb.v)) * sqrt(list_dot_product(qb.qv, qb.qv))), 6) AS cos " +
      "FROM cb, qb WHERE cb.bucket = qb.qbucket ORDER BY cos DESC, vec_id LIMIT 20"
  }

  /** DuckDB mirror of q_ann_lsh_multiprobe: probe list = query bucket plus
    * each single-bit flip (xor with 1<<p). */
  private def lshMultiProbeOracle: String = {
    val bucketOf = (v: String) => (0 until 8).map { p =>
      s"(CASE WHEN list_dot_product($v, ${planeLiteral(p, 64)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1), " +
      s"cb AS (SELECT vec_id, v, ${bucketOf("v")} AS bucket FROM e), " +
      s"qb AS (SELECT qv, ${bucketOf("qv")} AS qbucket FROM q), " +
      "pr AS (SELECT qv, qbucket AS probe FROM qb " +
      (0 until 8).map(p => s"UNION ALL SELECT qv, xor(qbucket, ${1L << p}) FROM qb")
        .mkString(" ") + ") " +
      "SELECT cb.vec_id, round(list_dot_product(cb.v, pr.qv) / " +
      "(sqrt(list_dot_product(cb.v, cb.v)) * sqrt(list_dot_product(pr.qv, pr.qv))), 6) AS cos " +
      "FROM cb JOIN pr ON cb.bucket = pr.probe ORDER BY cos DESC, vec_id LIMIT 20"
  }

  private lazy val annCosineOracle: String =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1) " +
      "SELECT e.vec_id, round(list_dot_product(e.v, q.qv) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos " +
      "FROM e, q ORDER BY cos DESC, vec_id LIMIT 20"

  private lazy val ivfOracle: String =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8), " +
      "d AS (SELECT e.vec_id, e.v, c.cid, " +
      "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv) + list_dot_product(c.cv, c.cv) AS dist " +
      "FROM e CROSS JOIN c), " +
      "a AS (SELECT vec_id, v, cid AS cell FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1), " +
      "q AS (SELECT cell, v AS qv FROM a ORDER BY vec_id LIMIT 1) " +
      "SELECT a.vec_id, round(list_dot_product(a.v, q.qv) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos " +
      "FROM a JOIN q ON a.cell = q.cell ORDER BY cos DESC, vec_id LIMIT 20"

  /** Multi-probe IVF: same assignment CTEs as q_ann_ivf, but the query
    * keeps its 2 nearest centroids (ORDER BY dist, cid LIMIT 2) as probes. */
  private lazy val ivfMultiProbeOracle: String =
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8), " +
      "d AS (SELECT e.vec_id, e.v, c.cid, " +
      "list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv) + list_dot_product(c.cv, c.cv) AS dist " +
      "FROM e CROSS JOIN c), " +
      "a AS (SELECT vec_id, v, cid AS cell FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1), " +
      "q AS (SELECT vec_id, v AS qv FROM e ORDER BY vec_id LIMIT 1), " +
      "qp AS (SELECT d.cid AS cell, q.qv FROM q JOIN d ON d.vec_id = q.vec_id " +
      "ORDER BY d.dist, d.cid LIMIT 2) " +
      "SELECT a.vec_id, round(list_dot_product(a.v, qp.qv) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qp.qv, qp.qv))), 6) AS cos " +
      "FROM a JOIN qp ON a.cell = qp.cell ORDER BY cos DESC, vec_id LIMIT 20"

  /** DuckDB mirror of q_ann_lsh_multitable: 4 tables × 4 planes (table t
    * uses plane family offset 4t), candidate union deduplicated before
    * the top-k. */
  private def lshMultiTableOracle: String = {
    val bucketOf = (v: String, t: Int) => (0 until 4).map { i =>
      s"(CASE WHEN list_dot_product($v, ${planeLiteral(t * 4 + i, 64)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val cbs = (0 until 4).map(t =>
      s"SELECT vec_id, v, $t AS tbl, ${bucketOf("v", t)} AS bkt FROM e").mkString(" UNION ALL ")
    val qbs = (0 until 4).map(t =>
      s"SELECT qv, $t AS tbl, ${bucketOf("qv", t)} AS bkt FROM q").mkString(" UNION ALL ")
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1), " +
      s"cb AS ($cbs), qb AS ($qbs) " +
      "SELECT vec_id, cos FROM (SELECT DISTINCT cb.vec_id, " +
      "round(list_dot_product(cb.v, qb.qv) / " +
      "(sqrt(list_dot_product(cb.v, cb.v)) * sqrt(list_dot_product(qb.qv, qb.qv))), 6) AS cos " +
      "FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bkt = qb.bkt) " +
      "ORDER BY cos DESC, vec_id LIMIT 20"
  }

  /** DuckDB mirror of q_ann_recall: each variant's oracle SELECT nests as
    * a subquery; recall = |variant top-20 ∩ brute-force top-20| / 20. */
  private def annRecallOracle: String = {
    val variants = Seq(
      "ann_ivf" -> ivfOracle,
      "ann_ivf_indexed" -> ivfOracle, // persisted index, same assignment
      "ann_ivf_kmeans" -> kmeansIvfOracle,
      "ann_ivf_kmeans_multiprobe" -> kmeansIvfMultiProbeOracle,
      "ann_ivf_multiprobe" -> ivfMultiProbeOracle,
      "ann_lsh" -> lshOracle,
      "ann_lsh_multiprobe" -> lshMultiProbeOracle,
      "ann_lsh_multitable" -> lshMultiTableOracle,
      "ann_pq" -> pqOracle)
    val rows = variants.map { case (name, sql) =>
      s"SELECT '$name' AS variant, (SELECT round(CAST(count(*) AS DOUBLE) / 20.0, 6) " +
        s"FROM ($sql) vv WHERE vv.vec_id IN (SELECT vec_id FROM ($annCosineOracle) gg)) AS recall"
    }.mkString(" UNION ALL ")
    s"SELECT variant, recall FROM ($rows) ORDER BY variant"
  }

  /** DuckDB mirror of q_ann_ivf_kmeans: 3 unrolled Lloyd rounds. The
    * distance is the SAME algebraic form as Similarity.sqDist's sequential
    * (x−y)² fold (not the dot-product expansion) so float values track the
    * Spark side bit-for-bit through the iteration chain; means mirror the
    * DECIMAL(28,14) exact sums + 9-dp rounding of kmeansCentroids. */
  /** Shared CTE chain for the k-means oracles: 3 unrolled Lloyd rounds
    * ending in `df` (distances to the final centroids) and `af` (final
    * assignments). */
  private def kmeansCtes: String = {
    def dist(v: String, cv: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    sb ++= "c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8), "
    for (t <- 1 to 3) {
      sb ++= s"d$t AS (SELECT e.vec_id, e.v, c.cid, ${dist("e.v", "c.cv")} AS dist " +
        s"FROM e CROSS JOIN c${t - 1} c), "
      sb ++= s"a$t AS (SELECT vec_id, v, cid AS cell FROM (SELECT *, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$t) WHERE rn = 1), "
      sb ++= s"m$t AS (SELECT cell, i, round(CAST(sum(CAST(v[i] AS DECIMAL(28,14))) AS DOUBLE) " +
        s"/ count(*), 9) AS mv FROM a$t, range(1, 65) AS r(i) GROUP BY cell, i), "
      sb ++= s"c$t AS (SELECT cell AS cid, list(mv ORDER BY i) AS cv FROM m$t GROUP BY cell), "
    }
    sb ++= s"df AS (SELECT e.vec_id, e.v, c.cid, ${dist("e.v", "c.cv")} AS dist " +
      "FROM e CROSS JOIN c3 c), "
    sb ++= "af AS (SELECT vec_id, v, cid AS cell FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM df) WHERE rn = 1)"
    sb.toString
  }

  private def kmeansIvfOracle: String =
    kmeansCtes + ", q AS (SELECT cell, v AS qv FROM af ORDER BY vec_id LIMIT 1) " +
      "SELECT af.vec_id, round(list_dot_product(af.v, q.qv) / " +
      "(sqrt(list_dot_product(af.v, af.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos " +
      "FROM af JOIN q ON af.cell = q.cell ORDER BY cos DESC, vec_id LIMIT 20"

  /** k-means + multi-probe: the query probes its 2 nearest FINAL centroids
    * (ORDER BY dist, cid LIMIT 2 over `df`, mirroring the Spark side's
    * sorted (d, cid) struct slice). */
  private def kmeansIvfMultiProbeOracle: String =
    kmeansCtes + ", q AS (SELECT vec_id, v AS qv FROM e ORDER BY vec_id LIMIT 1), " +
      "qp AS (SELECT df.cid AS cell, q.qv FROM q JOIN df ON df.vec_id = q.vec_id " +
      "ORDER BY df.dist, df.cid LIMIT 2) " +
      "SELECT af.vec_id, round(list_dot_product(af.v, qp.qv) / " +
      "(sqrt(list_dot_product(af.v, af.v)) * sqrt(list_dot_product(qp.qv, qp.qv))), 6) AS cos " +
      "FROM af JOIN qp ON af.cell = qp.cell ORDER BY cos DESC, vec_id LIMIT 20"

  /** Mirror of Similarity.dimTradeoffRecall (k=20, prefixes 8/16/32/64):
    * per prefix length, the same truncated-cosine top-20 with (cos DESC,
    * vec_id) cut order; recall = overlap with the full-64 cut / 20, with
    * a zero-hit prefix still reporting 0.0. */
  private def dimTradeoffOracle: String = {
    def cosD(d: Int) = {
      val sl = (v: String) => s"list_transform(range(1, ${d + 1}), i -> $v[i])"
      s"round(list_dot_product(${sl("e.v")}, ${sl("q.qv")}) / " +
        s"(sqrt(list_dot_product(${sl("e.v")}, ${sl("e.v")})) * " +
        s"sqrt(list_dot_product(${sl("q.qv")}, ${sl("q.qv")}))), 6)"
    }
    def topk(d: Int) =
      s"SELECT vec_id FROM (SELECT e.vec_id, ${cosD(d)} AS cos " +
        "FROM e CROSS JOIN q ORDER BY cos DESC, e.vec_id LIMIT 20)"
    val rows = Seq(8, 16, 32, 64).map { d =>
      s"SELECT CAST($d AS BIGINT) AS dims, (SELECT round(CAST(count(*) AS DOUBLE) / 20.0, 6) " +
        s"FROM (${topk(d)}) t WHERE t.vec_id IN (SELECT vec_id FROM gt)) AS recall"
    }.mkString(" UNION ALL ")
    "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      "q AS MATERIALIZED (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1), " +
      s"gt AS MATERIALIZED (${topk(64)}) " +
      s"SELECT dims, recall FROM ($rows) ORDER BY dims"
  }

  /** Mirror of Similarity.pqTopK (m=8, kPerSub=8, 3 Lloyd rounds,
    * rerank=50, k=20): per-subspace unrolled k-means with the same
    * DECIMAL(28,14)/round-9 means and (dist, cid) tie order, codes from
    * the final codebooks, ADC = per-(vec, subspace) LUT contributions
    * summed through DECIMAL(28,14) (exact — fold order irrelevant, so
    * Spark's expression fold and this relational sum agree), candidate
    * cut (adc, vec_id) LIMIT 50, exact-cosine rerank. Scan-derived and
    * multiply-referenced CTEs are MATERIALIZED ([[kcoreOracle]]'s
    * fd-exhaustion lesson). */
  private def pqOracle: String = {
    def dist(v: String, cv: String) =
      s"list_sum(list_transform(range(1, 9), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    sb ++= "sub AS MATERIALIZED (SELECT vec_id, j, " +
      "list_transform(range(1, 9), i -> v[j * 8 + i]) AS sv " +
      "FROM e, range(0, 8) AS r(j)), "
    sb ++= "c0 AS MATERIALIZED (SELECT j, vec_id AS cid, sv AS cv FROM sub " +
      "WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 8)), "
    for (t <- 1 to 3) {
      sb ++= s"d$t AS (SELECT s.vec_id, s.j, s.sv, c.cid, " +
        s"${dist("s.sv", "c.cv")} AS dist FROM sub s JOIN c${t - 1} c ON c.j = s.j), "
      sb ++= s"a$t AS MATERIALIZED (SELECT vec_id, j, sv, cid AS cell FROM " +
        s"(SELECT *, row_number() OVER (PARTITION BY vec_id, j " +
        s"ORDER BY dist, cid) AS rn FROM d$t) WHERE rn = 1), "
      sb ++= s"m$t AS (SELECT j, cell, i, " +
        s"round(CAST(sum(CAST(sv[i] AS DECIMAL(28,14))) AS DOUBLE) " +
        s"/ count(*), 9) AS mv FROM a$t, range(1, 9) AS r(i) GROUP BY j, cell, i), "
      sb ++= s"c$t AS MATERIALIZED (SELECT j, cell AS cid, " +
        s"list(mv ORDER BY i) AS cv FROM m$t GROUP BY j, cell), "
    }
    sb ++= s"fd AS (SELECT s.vec_id, s.j, c.cid, ${dist("s.sv", "c.cv")} AS dist " +
      "FROM sub s JOIN c3 c ON c.j = s.j), "
    sb ++= "codes AS MATERIALIZED (SELECT vec_id, j, cid AS code FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY vec_id, j " +
      "ORDER BY dist, cid) AS rn FROM fd) WHERE rn = 1), "
    sb ++= "q AS MATERIALIZED (SELECT v AS qv FROM e ORDER BY vec_id LIMIT 1), "
    sb ++= "qsub AS (SELECT j, list_transform(range(1, 9), i -> qv[j * 8 + i]) AS qs " +
      "FROM q, range(0, 8) AS r(j)), "
    sb ++= s"lut AS MATERIALIZED (SELECT c.j, c.cid, ${dist("qs.qs", "c.cv")} AS d " +
      "FROM c3 c JOIN qsub qs ON qs.j = c.j), "
    sb ++= "adc AS (SELECT codes.vec_id, " +
      "CAST(sum(CAST(lut.d AS DECIMAL(28,14))) AS DOUBLE) AS adc " +
      "FROM codes JOIN lut ON lut.j = codes.j AND lut.cid = codes.code " +
      "GROUP BY 1), "
    sb ++= "cand AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 50) "
    sb ++= "SELECT e.vec_id, round(list_dot_product(e.v, q.qv) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos " +
      "FROM e JOIN cand USING (vec_id) CROSS JOIN q " +
      "ORDER BY cos DESC, vec_id LIMIT 20"
    sb.toString
  }

  /** DuckDB mirror of q_neardup_embedding: 4-plane LSH bucket self-join,
    * cosine ≥ 0.3 on the 6-dp-rounded value. */
  private def neardupOracle: String = {
    val bucketOf = (v: String) => (0 until 4).map { p =>
      s"(CASE WHEN list_dot_product($v, ${planeLiteral(p, 64)}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
      s"cb AS (SELECT vec_id, v, ${bucketOf("v")} AS bucket FROM e) " +
      "SELECT * FROM (SELECT a.vec_id AS id1, b.vec_id AS id2, " +
      "round(list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos " +
      "FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
      "WHERE cos >= 0.3 ORDER BY id1, id2"
  }

  /** DuckDB mirror of Similarity.lof (k=5 over the kmeansCtes cells):
    * within-cell pair distances at 6 dp, kNN via row_number (d, j), k-dist
    * per neighbor, DECIMAL(28,14) reach and lrd sums cast back to double,
    * LOF = mean neighbor lrd / own lrd at 6 dp. Singleton cells surface
    * nk=0 with NULL kdist/lrd/lof on both engines. */
  private def lofOracle: String =
    kmeansCtes + ", pr AS (SELECT a.vec_id AS i, b.vec_id AS j, " +
      "round(sqrt(list_sum(list_transform(range(1, 65), " +
      "ix -> (a.v[ix] - b.v[ix]) * (a.v[ix] - b.v[ix])))), 6) AS d " +
      "FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id <> b.vec_id), " +
      "knn AS (SELECT i, j, d FROM (SELECT pr.*, " +
      "row_number() OVER (PARTITION BY i ORDER BY d, j) AS rn FROM pr) " +
      "WHERE rn <= 5), " +
      "kd AS (SELECT i AS ki, max(d) AS kd FROM knn GROUP BY i), " +
      "lrd AS (SELECT knn.i, count(*) AS nk, round(CAST(count(*) AS DOUBLE) / " +
      "CAST(sum(CAST(greatest(kd.kd, knn.d) AS DECIMAL(28,14))) AS DOUBLE), 9) AS lrd " +
      "FROM knn JOIN kd ON knn.j = kd.ki GROUP BY knn.i), " +
      "lo AS (SELECT knn.i, round(CAST(sum(CAST(l2.lrd AS DECIMAL(28,14))) AS DOUBLE) / " +
      "(lrd.nk * lrd.lrd), 6) AS lof FROM knn JOIN lrd l2 ON knn.j = l2.i " +
      "JOIN lrd ON knn.i = lrd.i GROUP BY knn.i, lrd.nk, lrd.lrd) " +
      "SELECT af.vec_id, af.cell, coalesce(lrd.nk, 0) AS nk, kd.kd AS kdist, " +
      "lrd.lrd, lo.lof FROM af LEFT JOIN lrd ON af.vec_id = lrd.i " +
      "LEFT JOIN kd ON af.vec_id = kd.ki " +
      "LEFT JOIN lo ON af.vec_id = lo.i ORDER BY af.vec_id"

  /** DuckDB mirror of Similarity.dbscan2d (eps=0.02, minPts=5 on dims
    * 0/1): the eps graph is brute-forced — the engine's grid-bucketed
    * candidate join must reproduce it exactly — then cores, CC clusters
    * (recursive CTE, min-id labels) and border adoption follow the same
    * deterministic id-min rules. The eps² literal is the engine's own
    * Scala double product, so the boundary predicate is bit-identical. */
  private def dbscanOracle: String = {
    val epsSq = 0.02 * 0.02
    "WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, " +
      "CAST(embedding[2] AS DOUBLE) AS y FROM embeddings), " +
      "nb AS (SELECT a.vec_id AS i, b.vec_id AS j FROM e a JOIN e b " +
      "ON a.vec_id <> b.vec_id AND " +
      s"(a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= $epsSq), " +
      "deg AS (SELECT i, count(*) AS d FROM nb GROUP BY i), " +
      "core AS (SELECT i AS id FROM deg WHERE d >= 4), " +
      "ce AS (SELECT i AS id1, j AS id2 FROM nb WHERE i < j " +
      "AND i IN (SELECT id FROM core) AND j IN (SELECT id FROM core)), " +
      "edges AS (SELECT id1 AS src, id2 AS dst FROM ce " +
      "UNION ALL SELECT id2, id1 FROM ce), " +
      "cc AS (SELECT id, id AS label FROM core " +
      "UNION SELECT e2.dst AS id, cc.label FROM cc JOIN edges e2 ON cc.id = e2.src), " +
      "lab AS (SELECT id, min(label) AS cluster FROM cc GROUP BY id), " +
      "bord AS (SELECT nb.i AS id, min(lab.cluster) AS cluster FROM nb " +
      "JOIN lab ON nb.j = lab.id WHERE nb.i NOT IN (SELECT id FROM core) " +
      "GROUP BY nb.i) " +
      "SELECT e.vec_id, CASE WHEN lab.id IS NOT NULL THEN 'core' " +
      "WHEN bord.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role, " +
      "CASE WHEN lab.id IS NOT NULL THEN lab.cluster ELSE bord.cluster END AS cluster " +
      "FROM e LEFT JOIN lab ON e.vec_id = lab.id " +
      "LEFT JOIN bord ON e.vec_id = bord.id ORDER BY e.vec_id"
  }

  /** Mirror of q_pca_top (dim 64, 8 rounds): the same one-pass
    * DECIMAL(28,14) covariance sums, the same uniform start (the literal
    * is interpolated from the SAME Scala double the Spark side rounds
    * to), and 8 unrolled matrix-vector rounds with per-round 9-dp
    * normalization — the pagerank determinism pattern on a matrix.
    * `e` and `cov` are MATERIALIZED: `cov` is referenced by all 8
    * unrolled rounds, so default inlining would replicate the embeddings
    * scan per round and exhaust the process fd limit (as
    * [[kcoreOracle]] would). */
  private def pcaOracle: String = {
    val v0 = BigDecimal(1.0 / math.sqrt(64.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v " +
      "FROM embeddings WHERE len(embedding) = 64), "
    sb ++= "nn AS (SELECT count(*) AS n FROM e), "
    sb ++= "xx AS (SELECT i, j, " +
      "sum(CAST(v[i + 1] * v[j + 1] AS DECIMAL(28,14))) AS sxx " +
      "FROM e, unnest(generate_series(0, 63)) AS ui(i), " +
      "unnest(generate_series(0, 63)) AS uj(j) GROUP BY 1, 2), "
    sb ++= "mu AS (SELECT i, CAST(sum(CAST(v[i + 1] AS DECIMAL(28,14))) AS DOUBLE) AS si " +
      "FROM e, unnest(generate_series(0, 63)) AS u(i) GROUP BY 1), "
    sb ++= "cov AS MATERIALIZED (SELECT s.i, s.j, CAST(s.sxx AS DOUBLE) / nn.n - " +
      "(a.si / nn.n) * (b.si / nn.n) AS c " +
      "FROM xx s JOIN mu a ON a.i = s.i JOIN mu b ON b.i = s.j CROSS JOIN nn), "
    sb ++= s"v0 AS (SELECT i AS j, CAST($v0 AS DOUBLE) AS vj " +
      "FROM (SELECT unnest(generate_series(0, 63)) AS i)), "
    for (t <- 1 to 8) {
      sb ++= s"w$t AS (SELECT cov.i, " +
        s"CAST(sum(CAST(cov.c * v.vj AS DECIMAL(28,14))) AS DOUBLE) AS wi " +
        s"FROM cov JOIN v${t - 1} v ON v.j = cov.j GROUP BY 1), "
      sb ++= s"n$t AS (SELECT sqrt(CAST(sum(CAST(wi * wi AS DECIMAL(28,14))) AS DOUBLE)) AS nrm FROM w$t), "
      sb ++= s"v$t AS MATERIALIZED (SELECT i AS j, round(wi / nrm, 9) AS vj " +
        s"FROM w$t CROSS JOIN n$t), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " SELECT j AS dim_idx, round(vj, 6) AS loading FROM v8 ORDER BY dim_idx"
    sb.toString
  }

  /** Mirror of Graph.pagerank (3 rounds, d=0.85) over the bipartite
    * user↔event-type graph: 3 unrolled power-iteration rounds with the
    * same DECIMAL(28,14) contribution sums and 9-dp per-round rank
    * rounding. Double constants are interpolated from the SAME Scala
    * doubles the Spark side uses (shortest-roundtrip repr → identical
    * IEEE values; `1 - 0.85` evaluated as SQL DECIMAL would differ from
    * Scala's `1.0 - 0.85` by an ulp). */
  /** Unrolled greedy MMR ([[graft.ops.Similarity.mmrSelect]]): top-20
    * relevance pool and poolSize² 6-dp pair cosines MATERIALIZED once,
    * then k=5 selection steps, each a (score desc, id asc) LIMIT 1 over
    * the not-yet-selected pool with the max-sim penalty against the
    * accumulated selection. */
  private def mmrOracle: String = {
    val sb = new StringBuilder
    sb ++= "WITH e AS MATERIALIZED (SELECT vec_id AS id, " +
      "embedding::DOUBLE[] AS v FROM embeddings), "
    sb ++= "q AS (SELECT v AS qv FROM e ORDER BY id LIMIT 1), "
    sb ++= "sc AS (SELECT e.id, e.v, round(list_dot_product(e.v, q.qv) / " +
      "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS rel " +
      "FROM e CROSS JOIN q), "
    sb ++= "pool AS MATERIALIZED (SELECT id, v, rel FROM sc " +
      "ORDER BY rel DESC, id LIMIT 20), "
    sb ++= "pairs AS MATERIALIZED (SELECT a.id AS id1, b.id AS id2, " +
      "round(list_dot_product(a.v, b.v) / " +
      "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim " +
      "FROM pool a JOIN pool b ON a.id <> b.id), "
    sb ++= "w1 AS (SELECT id, rel, round(0.75 * rel, 6) AS score FROM pool " +
      "ORDER BY score DESC, id LIMIT 1), "
    sb ++= "sel1 AS (SELECT id FROM w1), "
    for (t <- 2 to 5) {
      sb ++= s"sc$t AS (SELECT p.id, p.rel, " +
        s"round(0.75 * p.rel - 0.25 * mx.m, 6) AS score FROM pool p " +
        s"JOIN (SELECT id1 AS id, max(sim) AS m FROM pairs " +
        s"WHERE id2 IN (SELECT id FROM sel${t - 1}) GROUP BY 1) mx USING (id) " +
        s"WHERE p.id NOT IN (SELECT id FROM sel${t - 1})), "
      sb ++= s"w$t AS (SELECT id, rel, score FROM sc$t " +
        s"ORDER BY score DESC, id LIMIT 1), "
      sb ++= s"sel$t AS (SELECT id FROM sel${t - 1} UNION ALL SELECT id FROM w$t), "
    }
    sb.setLength(sb.length - 2)
    sb ++= " " + (1 to 5).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, id, rel, score AS mmr_score FROM w$t")
      .mkString(" UNION ALL ")
    sb ++= " ORDER BY rank"
    sb.toString
  }
}

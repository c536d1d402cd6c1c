package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.Shared._

/** Near-duplicate detection at scale (ops ScaleDedup): MinHash/LSH
  * signatures and pairs, simhash, dedup clusters and the LLM-prep
  * dedup ladder. */
object ScaleDedupQueries {
  val all: Seq[Q] = Seq(
    // dedup: exact groups by content hash
    Q("q_dedup_exact", (s, d) =>
      ScaleDedup.exactDedupGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("keep_id"),
      "SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, " +
        "min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents GROUP BY 1 ORDER BY keep_id"),

    // dedup: incremental (append-only) — the src0 batch arrives against
    // the already-ingested rest of the corpus: within-batch min-id
    // canonical, then an anti-join against the existing fingerprint set.
    // Batch cost is independent of corpus size once the fingerprint set
    // is maintained as a table.
    Q("q_dedup_incremental", (s, d) => {
      val docs = Tables.documents(s, d)
      ScaleDedup.dedupAgainst(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), "doc_id", "text")
        .orderBy("doc_id")
    },
      "WITH b AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents WHERE source = 'src0'), " +
        "k AS (SELECT min(doc_id) AS doc_id, fp FROM b GROUP BY fp), " +
        "e AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents WHERE source <> 'src0') " +
        "SELECT doc_id, fp FROM k WHERE fp NOT IN (SELECT fp FROM e) ORDER BY doc_id"),

    // near-dup: asymmetric CONTAINMENT over the LSH candidate pairs —
    // catches a short doc quoted inside a longer one (Jaccard dilutes
    // these toward 0); kept when either direction's containment ≥ 0.8
    Q("q_containment_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
      val cands = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val toks = docs.select(col("doc_id"),
        ScaleDedup.tokenSet(col("text")).alias("toks"))
      cands
        .join(toks.select(col("doc_id").alias("id1"), col("toks").alias("t1")), "id1")
        .join(toks.select(col("doc_id").alias("id2"), col("toks").alias("t2")), "id2")
        .select(col("id1"), col("id2"),
          ScaleDedup.containment(col("t1"), col("t2")).alias("cont1"),
          ScaleDedup.containment(col("t2"), col("t1")).alias("cont2"))
        .filter(col("cont1") >= 0.8 || col("cont2") >= 0.8)
        .orderBy("id1", "id2")
    },
      s"WITH $mhPairsCtes " +
        "SELECT id1, id2, cont1, cont2 FROM (SELECT p.id1, p.id2, " +
        "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks), 6) AS cont1, " +
        "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(b.toks), 6) AS cont2 " +
        "FROM pairs p JOIN t a ON a.doc_id = p.id1 JOIN t b ON b.doc_id = p.id2) " +
        "WHERE cont1 >= 0.8 OR cont2 >= 0.8 ORDER BY id1, id2"),

    // dedup: SPAN level — duplicated 8-token spans removed corpus-wide,
    // first occurrence kept (the substring-granularity pass that catches
    // boilerplate paragraphs document-level dedup can't). Only gram
    // hashes + int positions shuffle; the rebuild is a narrow per-row
    // array filter.
    Q("q_span_dedup", (s, d) =>
      ScaleDedup.removeRepeatedSpans(Tables.documents(s, d), "doc_id", "text",
        k = 8)
        .orderBy("doc_id"),
      // Span dedup mirror: same gram hash (md5 of the space-joined k-gram),
      // same first-occurrence order ((doc_id, pos) lexicographic), same
      // covered-position union; the rebuild string_aggs surviving tokens in
      // position order.
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 8 + 1)) AS pos FROM t), " +
        "h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gh FROM g), " +
        "m AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM h), " +
        "cov AS (SELECT DISTINCT doc_id, p FROM (" +
        "SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM m WHERE rn > 1)), " +
        "u AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS p FROM t), " +
        "kept AS (SELECT u.doc_id, string_agg(u.tok, ' ' ORDER BY u.p) AS text_clean " +
        "FROM u LEFT JOIN cov ON u.doc_id = cov.doc_id AND u.p = cov.p " +
        "WHERE cov.p IS NULL GROUP BY u.doc_id), " +
        "nr AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id) " +
        "SELECT t.doc_id, coalesce(kept.text_clean, '') AS text_clean, " +
        "CAST(coalesce(nr.n_removed, 0) AS BIGINT) AS n_removed " +
        "FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id " +
        "LEFT JOIN nr ON t.doc_id = nr.doc_id ORDER BY t.doc_id"),

    // text: per-document NOVELTY — fraction of a doc's 8-gram occurrences
    // making their corpus-wide first appearance in this doc (1.0 = all
    // new, 0.0 = verbatim copy of earlier text). Same gram fan-out and
    // single windowed shuffle as q_span_dedup, aggregated instead of
    // rewritten.
    Q("q_doc_novelty", (s, d) =>
      ScaleDedup.docNovelty(Tables.documents(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id"),
      // Novelty mirror: same gram hash / first-occurrence order as the span
      // dedup mirror, aggregated per doc.
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 8 + 1)) AS pos FROM t), " +
        "h AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gh FROM g), " +
        "m AS (SELECT doc_id, row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM h), " +
        "a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
        "FROM m GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams, " +
        "coalesce(a.n_novel, 0) AS n_novel, " +
        "round(CAST(a.n_novel AS DOUBLE) / a.n_grams, 6) AS novelty " +
        "FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id ORDER BY d.doc_id"),

    // split AUDIT: near-duplicate pairs straddling the train/val split —
    // the leakage report a split ships with (a val doc whose near-dup
    // lives in train inflates eval). Reuses the LSH candidate pairs; the
    // split labels join on ids only.
    Q("q_split_leakage", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val split = Pack.trainValSplit(docs.select("doc_id"), "doc_id",
        valFraction = 0.1).select(col("doc_id"), col("split"))
      pairs
        .join(split.select(col("doc_id").alias("id1"),
          col("split").alias("split1")), Seq("id1"))
        .join(split.select(col("doc_id").alias("id2"),
          col("split").alias("split2")), Seq("id2"))
        .filter(col("split1") =!= col("split2"))
        .select("id1", "id2", "split1", "split2")
        .orderBy("id1", "id2")
    },
      s"WITH $mhPairsCtes, " +
        "sp AS (SELECT doc_id, CASE WHEN " +
        "('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT " +
        "< 0.1 * 4294967296.0 THEN 'val' ELSE 'train' END AS split FROM documents) " +
        "SELECT p.id1, p.id2, s1.split AS split1, s2.split AS split2 " +
        "FROM pairs p JOIN sp s1 ON p.id1 = s1.doc_id JOIN sp s2 ON p.id2 = s2.doc_id " +
        "WHERE s1.split <> s2.split ORDER BY p.id1, p.id2"),

    // mix: deterministic per-group sample — 3 docs per source, chosen by
    // md5 draw order (stable under corpus growth AND partitioning, unlike
    // any rand()-based pick; the inspection-sample shape for eyeballing
    // each domain). row_number ≤ k plans WindowGroupLimit: each map task
    // forwards only its local top-3 per source into the exchange.
    Q("q_group_sample", (s, d) => {
      val draw = ScaleDedup.hash32(
        concat_ws("|", lit("gs"), col("doc_id").cast("string")), 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(draw, col("doc_id"))
      Tables.documents(s, d)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 3)
        .select("doc_id", "source").orderBy("doc_id")
    },
      "SELECT doc_id, source FROM (SELECT doc_id, source, " +
        "row_number() OVER (PARTITION BY source ORDER BY " +
        "('0x' || substr(md5('gs|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT, doc_id) AS rn " +
        "FROM documents) WHERE rn <= 3 ORDER BY doc_id"),

    // dedup: decontamination REPORT — for each contaminated corpus doc,
    // how many distinct 13-gram hashes it shares with the eval set (the
    // audit table a decontamination run ships: verbatim leaks score high,
    // boilerplate collisions score 1–2). Same broadcast shape as
    // q_decontaminate; only matching (doc, hash) rows reach the count.
    Q("q_decon_report", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalHashes = docs.filter(col("doc_id") % 37 === 0)
        .select(explode(graft.functions.MinHashSig.shingle_hashes(
          split(col("text"), " "), 13)).alias("__h"))
        .distinct()
      docs.select(col("doc_id"),
        explode(graft.functions.MinHashSig.shingle_hashes(
          split(col("text"), " "), 13)).alias("__h"))
        .join(broadcast(evalHashes), Seq("__h"))
        .groupBy("doc_id").agg(count(lit(1)).alias("n_shared"))
        .orderBy("doc_id")
    },
      "WITH sh AS (SELECT doc_id, list_transform(list_distinct(list_transform(" +
        "range(0, greatest(len(string_split(text, ' ')) - 13, 0) + 1), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+13], ' '))), " +
        "s -> ('0x' || substr(md5(s || '#0'), 1, 8))::BIGINT) AS hs FROM documents), " +
        "ev AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 37 = 0), " +
        "u AS (SELECT doc_id, unnest(hs) AS h FROM sh) " +
        "SELECT u.doc_id, count(*) AS n_shared FROM u WHERE h IN (SELECT h FROM ev) " +
        "GROUP BY u.doc_id ORDER BY doc_id"),

    // dedup: benchmark decontamination — every 37th document plays the
    // "eval set"; corpus docs sharing any 13-gram with it are dropped
    // (including the eval docs themselves, which trivially self-collide).
    // Zero corpus shuffle: eval shingle hashes broadcast as one array row,
    // contamination is a narrow arrays_overlap per document.
    Q("q_decontaminate", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
      ScaleDedup.decontaminate(docs, "doc_id", "text", evalSet, "text", n = 13)
        .select("doc_id", "source").orderBy("doc_id")
    },
      "WITH sh AS (SELECT doc_id, list_transform(list_distinct(list_transform(" +
        "range(0, greatest(len(string_split(text, ' ')) - 13, 0) + 1), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+13], ' '))), " +
        "s -> ('0x' || substr(md5(s || '#0'), 1, 8))::BIGINT) AS hs FROM documents), " +
        "ev AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 37 = 0), " +
        "bad AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(hs) AS h FROM sh) x " +
        "WHERE h IN (SELECT h FROM ev)) " +
        "SELECT d.doc_id, d.source FROM documents d " +
        "WHERE d.doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),

    // FLAGSHIP v4 (span variant) — the v2 kept chain with SPAN-level
    // dedup composed in: quality + repetition gate → language filter →
    // 13-gram decontamination → exact dedup canonical → remove duplicated
    // 8-token spans corpus-wide (first occurrence kept) → per-doc clean
    // token count + removed count. Document-level dedup passes a page
    // that pastes a boilerplate paragraph into fresh prose; this stage
    // cuts exactly the paragraph. Text still never shuffles: the kept
    // chain ships fingerprints/shingle hashes, the span stage ships gram
    // md5s + int positions, the rebuild is a narrow array filter.
    Q("q_llm_prep_spans", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
      val kept = docs
        .filter(TextAnalysis.qualityKeep(col("text"), minTokens = 8,
          maxTokens = 100000, minStopRatio = 0.01,
          maxDupLineRatio = 0.2, maxTopNgramCharRatio = 0.2))
        .filter(TextAnalysis.langId(col("text")) === "en")
      val clean = ScaleDedup.decontaminate(kept, "doc_id", "text",
        evalSet, "text", n = 13)
      val canon = ScaleDedup.exactDedupGroups(clean, "doc_id", "text")
        .select(col("keep_id").alias("doc_id"))
      val uniq = clean.join(canon, Seq("doc_id"), "left_semi")
      ScaleDedup.removeRepeatedSpans(uniq, "doc_id", "text", k = 8)
        .select(col("doc_id"),
          when(col("text_clean") === "", lit(0L))
            .otherwise(size(split(col("text_clean"), " ")).cast("long"))
            .alias("n_tokens_clean"),
          col("n_removed"))
        .orderBy("doc_id")
    },
      llmPrepSpansOracle),

    // FLAGSHIP v3 — the v2 stack with FUZZY dedup composed in: quality +
    // repetition gate → language filter → 13-gram decontamination → exact
    // dedup (collapses identical mega-clusters cheaply, and keeps the LSH
    // input free of degenerate same-text buckets) → MinHash-LSH candidate
    // pairs → EXACT Jaccard verification (≥ 0.5 on the token sets — LSH
    // candidates are probabilistic; production always verifies before
    // merging clusters) → connected components → keep each near-dup
    // cluster's min-id canonical — THE production pretraining dedup,
    // end-to-end. Text never shuffles: fingerprints, band keys, token
    // SETS of candidate rows only, and id edges are all that cross the
    // wire; the one iterative job (clustering) checkpoints reliably and
    // fails loudly on non-convergence.
    Q("q_llm_prep_fuzzy", (s, d) => {
      val docs = Tables.documents(s, d)
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
      // Quality + langId kernels run ONCE: the gate-survivor ids are
      // materialized first, and every later stage re-derives text by an
      // id semi-join against the scan — a parquet re-read, not a kernel
      // re-run. With the filter kernels inline, `kept` would be evaluated
      // ~3× inside the survivor-id job alone (decontamination references
      // its corpus twice — shingle side + output side — and the
      // exact-dedup group adds a third).
      val keptIds = docs
        .filter(TextAnalysis.qualityKeep(col("text"), minTokens = 8,
          maxTokens = 100000, minStopRatio = 0.01,
          maxDupLineRatio = 0.2, maxTopNgramCharRatio = 0.2))
        .filter(TextAnalysis.langId(col("text")) === "en")
        .select("doc_id").localCheckpoint()
      val kept = docs.join(keptIds, Seq("doc_id"), "left_semi")
      val clean = ScaleDedup.decontaminate(kept, "doc_id", "text",
        evalSet, "text", n = 13)
      val exact = ScaleDedup.exactDedupGroups(clean, "doc_id", "text")
        .select(col("keep_id").alias("doc_id"))
      // The quality/decon chain feeds three consumers (LSH input, CC
      // vertices, final output). Materialize the SURVIVOR IDS once — a
      // narrow id column, ~8 bytes/doc cluster-wide — and re-derive the
      // text by a cheap semi-join against the scan, instead of paying the
      // quality kernels + decontamination join once per consumer
      // (measured 9.5 s -> ~5 s at sf0.1). localCheckpoint truncates
      // lineage and stores blocks on executors, so an executor loss FAILS
      // the job (no recompute — Iterate.scala documents this trade); the
      // job then reruns from its reliable parquet inputs. The id
      // semi-joins assume doc_id is unique (it is the documents PK): a
      // duplicate doc_id whose sibling row passed the gate would be kept
      // even if its own row failed.
      val uniqIds = clean.join(exact, Seq("doc_id"), "left_semi")
        .select("doc_id").localCheckpoint()
      val uniq = docs.join(uniqIds, Seq("doc_id"), "left_semi")
      // Tokenize the survivors ONCE: the same (id, token set) frame
      // feeds the LSH signature stage AND the exact-Jaccard verify
      // below, so neither branch re-reads and re-splits the text.
      // localCheckpoint trades fault tolerance for speed: it truncates
      // lineage, so blocks
      // lost with an executor FAIL the job rather than recompute — the
      // job is then rerun from its reliable inputs. The materialized
      // per-doc token arrays are also this stage's main memory/disk
      // pressure at scale, which is why only the SURVIVORS (post
      // exact-dedup) are tokenized, and a deployment preferring
      // recompute-on-loss would persist(DISK_ONLY) here instead.
      // n_tokens rides the same checkpoint, so the final readout needs no
      // further corpus scan to count tokens; size(split(..)) shares the
      // tokenizing split with
      // tokenSet via codegen subexpression elimination, so carrying the
      // 8-byte count here makes the last stage a scan-free projection of
      // this frame.
      val toks = uniq.select(col("doc_id"),
        ScaleDedup.tokenSet(col("text")).alias("toks"),
        TextAnalysis.tokenCount(col("text")).cast("long").alias("n_tokens"))
        .localCheckpoint()
      val pairs = ScaleDedup.minhashCandidatePairsFromToks(toks, "doc_id",
        "toks", numHashes = 4, bands = 2)
      val verified = pairs
        .join(toks.select(col("doc_id").alias("id1"), col("toks").alias("t1")), "id1")
        .join(toks.select(col("doc_id").alias("id2"), col("toks").alias("t2")), "id2")
        .filter(ScaleDedup.jaccard(col("t1"), col("t2")) >= 0.5)
        .select("id1", "id2")
      val labels = ScaleDedup.connectedComponents(
        uniqIds.select(col("doc_id").alias("id")), verified)
      val canon = labels.filter(col("label") === col("id"))
        .select(col("id").alias("doc_id"))
      // Token counts are computed BEFORE the canonical semi-join so the
      // join shuffles (doc_id, n_tokens) — 16 bytes/row — rather than
      // the surviving text (canon grows with the corpus, so it can't be
      // assumed broadcastable; PlanAuditSpec pins text out of every
      // hash exchange here). The counts come from the checkpointed toks
      // frame — no extra corpus scan for the readout.
      toks.select(col("doc_id"), col("n_tokens"))
        .join(canon, Seq("doc_id"), "left_semi")
        .orderBy("doc_id")
    },
      llmPrepFuzzyOracle),

    // dedup: minhash signatures
    Q("q_minhash_sig", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id") +:
          ScaleDedup.minhashSignature(ScaleDedup.tokenSet(col("text")), 4): _*)
        .orderBy("doc_id"),
      "WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents) " +
        s"SELECT doc_id, ${mhExpr(0)} AS mh_0, ${mhExpr(1)} AS mh_1, " +
        s"${mhExpr(2)} AS mh_2, ${mhExpr(3)} AS mh_3 FROM t ORDER BY doc_id"),

    // dedup: minhash-LSH candidate pairs
    Q("q_minhash_pairs", (s, d) =>
      ScaleDedup.minhashCandidatePairs(Tables.documents(s, d), "doc_id", "text",
        numHashes = 4, bands = 2)
        .orderBy("id1", "id2"),
      s"WITH $mhPairsCtes SELECT id1, id2 FROM pairs ORDER BY id1, id2"),

    // dedup: bottom-k (KMV) sketch per group via a custom
    // TypedImperativeAggregate — fixed-size state per group
    Q("q_bottomk_sketch", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          ScaleDedup.hash32(col("l_partkey").cast("string"), 0).alias("h"))
        .groupBy("l_returnflag")
        .agg(graft.functions.BottomKSketch.bottom_k_sketch(col("h"), 8).alias("sk"))
        .select(col("l_returnflag"),
          concat_ws(",", transform(col("sk"), x => x.cast("string"))).alias("sketch"))
        .orderBy("l_returnflag"),
      "WITH h AS (SELECT l_returnflag, " +
        "('0x' || substr(md5(l_partkey::VARCHAR || '#0'), 1, 8))::BIGINT AS h FROM lineitem) " +
        "SELECT l_returnflag, array_to_string(list_sort(list_distinct(list(h)))[1:8], ',') AS sketch " +
        "FROM h GROUP BY 1 ORDER BY 1"),

    // dedup: word-3-shingle minhash (n-gram signatures) — native one-pass
    // kernel (shingles built in a StringBuilder, distinct-only hashing)
    Q("q_shingle_minhash", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id") +: ScaleDedup.shingleSignature(col("text"), 3, 2): _*)
        .orderBy("doc_id"),
      "WITH t AS (SELECT doc_id, list_distinct(list_transform(" +
        "range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS toks " +
        "FROM documents) " +
        s"SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_shingles, " +
        s"${mhExpr(0)} AS mh_0, ${mhExpr(1)} AS mh_1 FROM t ORDER BY doc_id"),

    // dedup: minhash-LSH pairs → connected components (duplicate clusters)
    // over the FULL corpus. The oversized-bucket guard inside
    // minhashCandidatePairs keeps the pair graph non-degenerate (the
    // synthetic corpus's tiny vocabulary otherwise makes LSH buckets cover
    // most of the table), so clustering needs no sampling.
    Q("q_dedup_clusters", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      ScaleDedup.connectedComponents(
        docs.select(col("doc_id").alias("id")), pairs)
        .select(col("id").alias("doc_id"), col("label").alias("cluster"))
        .orderBy("doc_id")
    },
      dedupClustersOracle),

    // dedup MEASUREMENT: precision/recall of the LSH candidate generator
    // against exact-Jaccard (≥ 0.5) ground truth on a FIXED-SIZE
    // (~500-doc) id sample — "measured, not claimed", the dedup twin of
    // q_ann_recall. The all-pairs ground truth is confined to the
    // sample (a measurement query runs on a slice; the operator itself
    // never does all-pairs), and the sample modulus scales with the
    // corpus (max(1, ceil(n/500))) so the measurement stays O(1) at ANY
    // corpus size — a proportional 1-in-10 sample made the truth join
    // grow quadratically (61x wall on the 10x salted stress fixture;
    // BASELINE.md stress table). At sf0.01 (5000 docs) the modulus is
    // exactly 10.
    Q("q_dedup_recall", (s, d) => {
      val docs = Tables.documents(s, d)
      val m = math.max(1L, math.ceil(docs.count() / 500.0).toLong)
      val samp = docs.filter(col("doc_id") % m === 0)
      val cands = ScaleDedup.minhashCandidatePairs(samp, "doc_id", "text",
        numHashes = 4, bands = 2)
      val toks = samp.select(col("doc_id"),
        ScaleDedup.tokenSet(col("text")).alias("toks"))
      val withJ = cands
        .join(toks.select(col("doc_id").alias("id1"), col("toks").alias("t1")), "id1")
        .join(toks.select(col("doc_id").alias("id2"), col("toks").alias("t2")), "id2")
        .select(ScaleDedup.jaccard(col("t1"), col("t2")).alias("jac"))
      val truth = toks.select(col("doc_id").alias("id1"), col("toks").alias("t1"))
        .crossJoin(toks.select(col("doc_id").alias("id2"), col("toks").alias("t2")))
        .filter(col("id1") < col("id2"))
        .filter(ScaleDedup.jaccard(col("t1"), col("t2")) >= 0.5)
      val cAgg = withJ.agg(count(lit(1)).alias("n_cand"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).alias("n_hit"))
      cAgg.crossJoin(truth.agg(count(lit(1)).alias("n_truth")))
        .select(col("n_cand"), col("n_truth"),
          round(col("n_hit").cast("double") / col("n_cand"), 6).alias("prec"),
          round(col("n_hit").cast("double") / col("n_truth"), 6).alias("rec"))
    },
      "WITH samp AS (SELECT * FROM documents WHERE doc_id % " +
        "(SELECT greatest(1, CAST(ceil(count(*) / 500.0) AS BIGINT)) " +
        "FROM documents) = 0), " +
        mhPairsCtesOver("samp") + ", " +
        "wj AS (SELECT round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jac " +
        "FROM pairs p JOIN t a ON a.doc_id = p.id1 JOIN t b ON b.doc_id = p.id2), " +
        "tr AS (SELECT 1 FROM t a JOIN t b ON a.doc_id < b.doc_id " +
        "WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5), " +
        "agg AS (SELECT (SELECT count(*) FROM wj) AS n_cand, " +
        "(SELECT count(*) FROM wj WHERE jac >= 0.5) AS n_hit, " +
        "(SELECT count(*) FROM tr) AS n_truth) " +
        "SELECT n_cand, n_truth, " +
        "round(CAST(n_hit AS DOUBLE) / n_cand, 6) AS prec, " +
        "round(CAST(n_hit AS DOUBLE) / n_truth, 6) AS rec FROM agg"),

    // dedup AUDIT: near-dup cluster size distribution — the dataset-card
    // figure a dedup run publishes (how much of the corpus sits in
    // duplicate families, and how big the worst family is). Reuses the
    // clustering pipeline; the histogram is two tiny aggregations on its
    // id-sized output.
    Q("q_dup_cluster_sizes", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      ScaleDedup.connectedComponents(
          docs.select(col("doc_id").alias("id")), pairs)
        .groupBy(col("label")).agg(count(lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).alias("n_clusters"))
        .withColumn("n_docs", (col("cluster_size") * col("n_clusters")).cast("long"))
        .orderBy("cluster_size")
    },
      dupClusterSizesOracle),

    // dedup: simhash
    Q("q_simhash", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          ScaleDedup.simhash(ScaleDedup.tokenSet(col("text")), 16).alias("sh"))
        .orderBy("doc_id"),
      simhashOracle),

    // dedup: SimHash near-dup PAIRS — 16-bit signatures paired via the
    // generic banded Hamming join (pigeonhole on maxDist+1 bands, never
    // all-pairs), the text-side twin of the image dHash pairing
    Q("q_simhash_pairs", (s, d) => {
      val sigs = Tables.documents(s, d).select(col("doc_id"),
        ScaleDedup.simhash(ScaleDedup.tokenSet(col("text")), 32).alias("sh"))
      ScaleDedup.hammingNearDupPairs(sigs, "doc_id", "sh",
        bits = 32, maxDist = 3)
        .orderBy("id1", "id2")
    },
      simhashPairsOracle),

    // dedup: n-gram Jaccard VERIFICATION of the LSH candidate pairs — the
    // full minhash→LSH→exact-verify pipeline. The candidate set comes from
    // the banded equi-join (bounded by the bucket guard), never from a
    // low-cardinality-key cartesian.
    Q("q_jaccard_pairs", (s, d) => {
      val docs = Tables.documents(s, d)
      val cands = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val toks = docs.select(col("doc_id"),
        ScaleDedup.tokenSet(col("text")).alias("toks"))
      cands
        .join(toks.select(col("doc_id").alias("id1"), col("toks").alias("t1")), "id1")
        .join(toks.select(col("doc_id").alias("id2"), col("toks").alias("t2")), "id2")
        .select(col("id1"), col("id2"),
          ScaleDedup.jaccard(col("t1"), col("t2")).alias("jac"))
        .orderBy("id1", "id2")
    },
      s"WITH $mhPairsCtes " +
        "SELECT p.id1, p.id2, " +
        "round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jac " +
        "FROM pairs p JOIN t a ON a.doc_id = p.id1 JOIN t b ON b.doc_id = p.id2 " +
        "ORDER BY id1, id2"),

    // sketch: APPROXIMATE quantiles from a deterministic KMV sample — the
    // 256 rows with the smallest md5 draw (TakeOrderedAndProject: local
    // top-k per task + driver k-merge, no global sort) estimate p50/p90.
    // The 100 TB quantile path with none of rand()'s irreproducibility:
    // the sketch is a pure function of the ids, so the DuckDB mirror
    // replays it exactly — approximate vs the full data, deterministic
    // vs the oracle.
    Q("q_approx_quantile_kmv", (s, d) =>
      Tables.events(s, d).select(col("event_id"), col("value"))
        .orderBy(ScaleDedup.hash32(col("event_id").cast("string"), 0),
          col("event_id"))
        .limit(256)
        .agg(count(lit(1)).alias("k"),
          round(expr("percentile(value, 0.5D)"), 6).alias("p50_est"),
          round(expr("percentile(value, 0.9D)"), 6).alias("p90_est")),
      "WITH s AS (SELECT event_id, value FROM events " +
        "ORDER BY ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#0'), 1, 8))::BIGINT, event_id " +
        "LIMIT 256) " +
        "SELECT count(*) AS k, round(quantile_cont(value, 0.5), 6) AS p50_est, " +
        "round(quantile_cont(value, 0.9), 6) AS p90_est FROM s"),

    // KMV set-overlap estimation (join-planning statistics): bottom-64
    // md5-draw sketches per side, (k-1)/r_k distinct estimates,
    // inclusion-exclusion overlap — deterministic, so the oracle replays
    // it exactly; the exact overlap rides along for honesty.
    Q("q_join_overlap_kmv", (s, d) => {
      val k = 64
      val cut = to_timestamp(lit("1998-01-01"))
      // one scan → per-hash side flags (one shuffle on the small distinct
      // hash set) → one tiny aggregation carrying all three sketches AND
      // the exact overlap; the sketch inputs are the same sets a
      // four-scan formulation would see, so values are identical
      val perHash = Tables.lineitem(s, d)
        .select(graft.ops.ScaleDedup.hash32(col("l_suppkey").cast("string"), 0).alias("h"),
          (col("l_shipdate") < cut).alias("ina"))
        .groupBy("h")
        .agg(max(when(col("ina"), 1L).otherwise(0L)).alias("a"),
          max(when(!col("ina"), 1L).otherwise(0L)).alias("b"))
      import graft.functions.BottomKSketch.bottom_k_sketch
      def est(sk: Column): Column =
        when(size(sk) < k, size(sk).cast("double"))
          .otherwise(round(lit((k - 1).toDouble) /
            (element_at(sk, k).cast("double") / lit(4294967296.0)), 6))
      perHash.agg(
          bottom_k_sketch(when(col("a") === 1L, col("h")), k).alias("ska"),
          bottom_k_sketch(when(col("b") === 1L, col("h")), k).alias("skb"),
          bottom_k_sketch(col("h"), k).alias("sku"),
          sum(col("a") * col("b")).alias("exact_intersect"))
        .select(
          est(col("ska")).alias("est_a"), est(col("skb")).alias("est_b"),
          est(col("sku")).alias("est_union"),
          round(est(col("ska")) + est(col("skb")) - est(col("sku")), 6)
            .alias("est_intersect"),
          col("exact_intersect"))
    },
      "WITH a AS (SELECT DISTINCT ('0x' || substr(md5(l_suppkey::VARCHAR || '#0'), 1, 8))::BIGINT AS h " +
        "FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'), " +
        "b AS (SELECT DISTINCT ('0x' || substr(md5(l_suppkey::VARCHAR || '#0'), 1, 8))::BIGINT AS h " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'), " +
        "u AS (SELECT h FROM a UNION SELECT h FROM b), " +
        "ska AS (SELECT list_sort(list(h))[1:64] AS sk FROM a), " +
        "skb AS (SELECT list_sort(list(h))[1:64] AS sk FROM b), " +
        "sku AS (SELECT list_sort(list(h))[1:64] AS sk FROM u), " +
        "ex AS (SELECT count(*) AS exact_intersect FROM a JOIN b USING (h)), " +
        "est AS (SELECT " +
        "CASE WHEN len(ska.sk) < 64 THEN CAST(len(ska.sk) AS DOUBLE) " +
        "ELSE round(63.0 / (CAST(ska.sk[64] AS DOUBLE) / 4294967296.0), 6) END AS est_a, " +
        "CASE WHEN len(skb.sk) < 64 THEN CAST(len(skb.sk) AS DOUBLE) " +
        "ELSE round(63.0 / (CAST(skb.sk[64] AS DOUBLE) / 4294967296.0), 6) END AS est_b, " +
        "CASE WHEN len(sku.sk) < 64 THEN CAST(len(sku.sk) AS DOUBLE) " +
        "ELSE round(63.0 / (CAST(sku.sk[64] AS DOUBLE) / 4294967296.0), 6) END AS est_union " +
        "FROM ska, skb, sku) " +
        "SELECT est_a, est_b, est_union, round(est_a + est_b - est_union, 6) AS est_intersect, " +
        "exact_intersect FROM est, ex"),

    // Per-group KMV distinct estimate beside the exact count — the
    // cardinality-statistics table with its own error audit.
    Q("q_approx_distinct_kmv", (s, d) => {
      val k = 64
      val h = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          graft.ops.ScaleDedup.hash32(col("l_partkey").cast("string"), 0).alias("h"))
      h.groupBy("l_returnflag")
        .agg(graft.functions.BottomKSketch.bottom_k_sketch(col("h"), k).alias("sk"),
          countDistinct(col("h")).alias("exact_nd"))
        .select(col("l_returnflag"),
          when(size(col("sk")) < k, size(col("sk")).cast("double"))
            .otherwise(round(lit((k - 1).toDouble) /
              (element_at(col("sk"), k).cast("double") / lit(4294967296.0)), 6))
            .alias("est_nd"),
          col("exact_nd"))
        .orderBy("l_returnflag")
    },
      "WITH h AS (SELECT DISTINCT l_returnflag, " +
        "('0x' || substr(md5(l_partkey::VARCHAR || '#0'), 1, 8))::BIGINT AS h " +
        "FROM lineitem), " +
        "g AS (SELECT l_returnflag, list_sort(list(h))[1:64] AS sk, " +
        "count(*) AS exact_nd FROM h GROUP BY 1) " +
        "SELECT l_returnflag, " +
        "CASE WHEN len(sk) < 64 THEN CAST(len(sk) AS DOUBLE) " +
        "ELSE round(63.0 / (CAST(sk[64] AS DOUBLE) / 4294967296.0), 6) END AS est_nd, " +
        "exact_nd FROM g ORDER BY 1"),

    // Entity-resolution composite (catalog consolidation): plant typo
    // twins of every 20th part name → sorted-neighborhood blocking →
    // levenshtein ≤ 2 gate → connected components → one golden record
    // per entity cluster (canonical = min id, its name, member count).
    // The fixture catalog repeats names heavily, so identical rows chain
    // through sorted adjacency and typo twins merge into their name's
    // cluster — the catalog collapses to its distinct golden entities.
    // Scale shape: blocking emits n·w candidates (never all-pairs), the
    // gate is a narrow filter, clustering is the same pointer-jumping
    // engine as text dedup.
    Q("q_er_golden", (s, d) => {
      val base = Tables.part(s, d)
        .select(col("p_partkey").cast("long").alias("id"),
          col("p_name").alias("name"))
      val twins = base.filter(col("id") % 20 === 0)
        .select((col("id") + 10000000L).alias("id"),
          concat(expr("substring(name, 1, length(name) - 1)"), lit("x"))
            .alias("name"))
      val ent = base.unionByName(twins)
      val pairs = ScaleDedup.sortedNeighborPairs(ent, "id",
        lower(col("name")), window = 3)
      val gated = pairs
        .join(ent.select(col("id").alias("id1"), col("name").alias("n1")), "id1")
        .join(ent.select(col("id").alias("id2"), col("name").alias("n2")), "id2")
        .filter(levenshtein(col("n1"), col("n2")) <= 2)
        .select("id1", "id2")
      ScaleDedup.connectedComponents(ent.select("id"), gated)
        .groupBy(col("label").alias("cluster"))
        .agg(count(lit(1)).alias("n_members"))
        .join(ent.select(col("id").alias("cluster"),
          col("name").alias("canonical_name")), "cluster")
        .orderBy("cluster")
    },
      "WITH RECURSIVE ent AS (SELECT CAST(p_partkey AS BIGINT) AS id, " +
        "p_name AS name FROM part " +
        "UNION ALL SELECT p_partkey + 10000000 AS id, " +
        "substr(p_name, 1, length(p_name) - 1) || 'x' AS name " +
        "FROM part WHERE p_partkey % 20 = 0), " +
        "r AS (SELECT id, name, row_number() OVER (ORDER BY lower(name), id) AS rk " +
        "FROM ent), " +
        "pairs AS (SELECT a.id AS id1, b.id AS id2 FROM r a " +
        "JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3 " +
        "WHERE levenshtein(a.name, b.name) <= 2), " +
        "edges AS (SELECT id1 AS src, id2 AS dst FROM pairs " +
        "UNION ALL SELECT id2, id1 FROM pairs), " +
        "cc AS (SELECT id, id AS label FROM ent " +
        "UNION SELECT e.dst, cc.label FROM cc JOIN edges e ON cc.id = e.src), " +
        "lab AS (SELECT id, min(label) AS cluster FROM cc GROUP BY id), " +
        "g AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members " +
        "FROM lab GROUP BY 1) " +
        "SELECT g.cluster, g.n_members, e.name AS canonical_name " +
        "FROM g JOIN ent e ON e.id = g.cluster ORDER BY g.cluster"),

    // EXACT similarity self-join (ScaleDedup.jaccardJoinExact): prefix
    // filtering gives every pair with Jaccard >= 0.5, no misses — the
    // deterministic complement to the LSH candidate path. Deterministic
    // 1-in-10 doc slice bounds the (inherently dense: the fixture corpus
    // is heavily near-duplicate) answer and the oracle's all-pairs verify.
    Q("q_ssjoin_exact", (s, d) =>
      graft.ops.ScaleDedup.jaccardJoinExact(
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", threshold = 0.5)
        .orderBy("id1", "id2"),
      "WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "len(list_intersect(a.ts, b.ts)) AS i, " +
        "len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS u " +
        "FROM t a JOIN t b ON a.doc_id < b.doc_id) " +
        "SELECT id1, id2, round(CAST(i AS DOUBLE) / CAST(u AS DOUBLE), 6) AS jaccard " +
        "FROM p WHERE CAST(i AS DOUBLE) >= 0.5 * CAST(u AS DOUBLE) " +
        "ORDER BY id1, id2"),

    // Sorted-neighborhood entity resolution (ScaleDedup.sortedNeighborPairs):
    // candidates from a window-3 pass over the name sort order, verified
    // with levenshtein <= 3 — n·window candidates, never n².
    Q("q_sorted_neighbors", (s, d) => {
      val p = Tables.part(s, d).select("p_partkey", "p_name")
      val pairs = graft.ops.ScaleDedup.sortedNeighborPairs(
        p, "p_partkey", lower(col("p_name")), window = 3)
      pairs
        .join(p.select(col("p_partkey").alias("id1"), col("p_name").alias("n1")), "id1")
        .join(p.select(col("p_partkey").alias("id2"), col("p_name").alias("n2")), "id2")
        .withColumn("dist", levenshtein(col("n1"), col("n2")))
        .filter(col("dist") <= 3)
        .select("id1", "id2", "dist")
        .orderBy("id1", "id2")
    },
      "WITH r AS (SELECT p_partkey, p_name, " +
        "row_number() OVER (ORDER BY lower(p_name), p_partkey) AS rk FROM part) " +
        "SELECT a.p_partkey AS id1, b.p_partkey AS id2, " +
        "CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist " +
        "FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3 " +
        "WHERE levenshtein(a.p_name, b.p_name) <= 3 ORDER BY id1, id2"),

    // Incremental clustering (ScaleDedup.ccIncremental): cluster the first
    // 60% of the corpus, then fold the rest in via star edges + the edges
    // touching the new batch — the oracle is the FULL recompute, so the
    // oracle compare verifies incremental == from-scratch row-for-row.
    // The prior clustering MUST come from the same edge universe
    // restricted to old vertices: capped-LSH candidate generation is
    // non-monotonic under corpus growth (a bucket under the cap in the
    // old subset can blow past it in the full corpus and be dropped), so
    // re-banding the old subset in isolation yields edges the full
    // recompute never sees — observed at sf0.1 as 902 subset-only pairs.
    // A production incremental pipeline gets this premise for free: its
    // maintained pair set (q_dedup_incremental's fingerprint table) IS
    // the single evolving universe.
    Q("q_dedup_clusters_incr", (s, d) => {
      val docs = Tables.documents(s, d)
      val cut = lit(0.6) * Tables.documents(s, d).agg(max("doc_id")).head().getLong(0)
      val oldDocs = docs.filter(col("doc_id") <= cut)
      val newDocs = docs.filter(col("doc_id") > cut)
      val allPairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val prev = ScaleDedup.connectedComponents(
        oldDocs.select(col("doc_id").alias("id")),
        allPairs.filter(col("id1") <= cut && col("id2") <= cut))
      val touchingNew = allPairs.filter(col("id1") > cut || col("id2") > cut)
      ScaleDedup.ccIncremental(prev,
          newDocs.select(col("doc_id").alias("id")), touchingNew)
        .select(col("id").alias("doc_id"), col("label").alias("cluster"))
        .orderBy("doc_id")
    },
      // incremental == full recompute is the law under test, so the oracle
      // IS the from-scratch clustering
      dedupClustersOracle),

    // Heaps'-law fit (TextAnalysis.heapsLaw): vocabulary growth V = K*N^b
    // over 10 id-order prefixes via the first-seen table — the zipf
    // curve's growth companion.
    // Bound to word BIGRAMS, not unigrams: the sf0.01 fixture's unigram
    // vocabulary saturates at the first checkpoint (vt constant → β = ±0,
    // verifying only the rounding path); the bigram type inventory keeps
    // growing at the gate SF, so the OLS fits a real Heaps curve (β > 0).
    Q("q_heaps_law", (s, d) => {
      val t = split(col("text"), " ")
      val big = Tables.documents(s, d).filter(size(t) >= 2)
        .select(col("doc_id"),
          array_join(graft.ops.ScaleDedup.wordBigrams(t, "_"), " ")
            .alias("text"))
      graft.ops.TextAnalysis.heapsLaw(big, "doc_id", "text")
    },
      // Same first-seen/conditional-sum checkpoints, DECIMAL log-log OLS.
      heapsLawOracle),

    // Clustering agreement (Stats.clusteringAgreement): NMI + adjusted
    // Rand between the CC dedup clusters and the LPA communities over
    // the SAME candidate graph — is LPA a refinement or a re-carve?
    Q("q_cluster_agreement", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val cc = ScaleDedup.connectedComponents(
          docs.select(col("doc_id").alias("id")), pairs)
      val lpa = Graph.labelPropagation(
        pairs.select(col("id1").alias("src"), col("id2").alias("dst")),
        rounds = 4)
      val lpaAll = docs.select(col("doc_id").alias("id"))
        .join(lpa.select(col("node").alias("id"), col("community")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("community"), col("id")).alias("label"))
      graft.ops.Stats.clusteringAgreement(cc, lpaAll)
    },
      // CC chain + LPA chain over the same pairs, contingency NMI/ARI.
      clusterAgreementOracle),

    // Weighted k-core (Graph.kCoreWeighted) of the near-dup graph with
    // exact-Jaccard edge weights: 8 sweeps peeling weighted degree < 1.0
    // — similarity-weighted corroboration instead of neighbor counting.
    Q("q_kcore_weighted", (s, d) => {
      val docs = Tables.documents(s, d)
      val cands = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val toks = docs.select(col("doc_id"),
        ScaleDedup.tokenSet(col("text")).alias("toks"))
      val edges = cands
        .join(toks.select(col("doc_id").alias("id1"), col("toks").alias("t1")), "id1")
        .join(toks.select(col("doc_id").alias("id2"), col("toks").alias("t2")), "id2")
        .select(col("id1").alias("src"), col("id2").alias("dst"),
          ScaleDedup.jaccard(col("t1"), col("t2")).alias("w"))
      Graph.kCoreWeighted(edges, minWeight = 1.0, rounds = 8).orderBy("node")
    },
      kcoreWeightedOracle(1.0, 8)),

    // Keep-BEST dedup (ScaleDedup.keepBestPerCluster): cluster near-dups
    // then keep the longest member per cluster — the canonical-selection
    // step after q_dedup_clusters.
    Q("q_dedup_keep_best", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 4, bands = 2)
      val labels = ScaleDedup.connectedComponents(
        docs.select(col("doc_id").alias("id")), pairs)
      ScaleDedup.keepBestPerCluster(docs, "doc_id", labels, col("n_chars"))
    },
      keepBestOracle),

    // Vocabulary coverage curve (TextAnalysis.vocabCoverage) over word
    // bigrams: the tokenizer-budget knee.
    Q("q_vocab_coverage", (s, d) => {
      val t = split(col("text"), " ")
      // the compiled wordBigrams kernel is one pass per doc; an inline
      // transform/sequence bigram lambda re-splits the text per
      // element_at (quadratic per doc — 22.6 s on the 10x stress
      // corpus). Split elements are never null, so its concat_ws equals
      // a plain concat here.
      val bigrams = Tables.documents(s, d).filter(size(t) >= 2)
        .select(explode(graft.ops.ScaleDedup.wordBigrams(t, " "))
          .alias("tok"))
      TextAnalysis.vocabCoverage(bigrams, "tok",
        Seq(50, 100, 250, 500, 750, 900))
    },
      "WITH a AS (SELECT string_split(text, ' ') AS toks FROM documents), " +
        "bg AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i+1])) AS tok FROM a WHERE len(toks) >= 2), " +
        "c AS (SELECT tok, count(*) AS c FROM bg GROUP BY 1), " +
        "tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c), " +
        "r AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rank, " +
        "SUM(c) OVER (ORDER BY c DESC, tok " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c) " +
        "SELECT CAST(rank AS BIGINT) AS vocab_size, " +
        "CAST(cum AS BIGINT) AS occurrences_covered, " +
        "round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS coverage " +
        "FROM r CROSS JOIN tt WHERE rank IN (50, 100, 250, 500, 750, 900) " +
        "ORDER BY 1"),
  )

  /** Mirror of q_heaps_law: word-BIGRAM tokens (the engine's saturation-
    * free binding), first-seen vocabulary table + per-doc token counts,
    * 10 conditional-sum checkpoints, DECIMAL log-log OLS. */
  private def heapsLawOracle: String = {
    val ks = 1 to 10
    "WITH pr AS (SELECT doc_id, string_split(text, ' ') AS parts " +
      "FROM documents WHERE text IS NOT NULL AND " +
      "len(string_split(text, ' ')) >= 2), " +
      "tk AS (SELECT id, token FROM (SELECT doc_id AS id, " +
      "unnest(list_transform(range(1, len(parts)), " +
      "i -> parts[i] || '_' || parts[i + 1])) AS token FROM pr) " +
      "WHERE token <> ''), " +
      "fs AS (SELECT token, min(id) AS fd FROM tk GROUP BY 1), " +
      "pd AS (SELECT id, count(*) AS nt FROM tk GROUP BY 1), " +
      "mx AS (SELECT max(id) AS mx FROM pd), " +
      "nr AS (SELECT " +
      ks.map(k => "sum(CASE WHEN CAST(id AS DOUBLE) <= " +
        s"CAST(mx.mx AS DOUBLE) * ($k / 10.0) THEN nt ELSE 0 END) AS n_$k")
        .mkString(", ") +
      " FROM pd CROSS JOIN mx), " +
      "vr AS (SELECT " +
      ks.map(k => "sum(CASE WHEN CAST(fd AS DOUBLE) <= " +
        s"CAST(mx.mx AS DOUBLE) * ($k / 10.0) THEN 1 ELSE 0 END) AS v_$k")
        .mkString(", ") +
      " FROM fs CROSS JOIN mx), " +
      "p AS (" +
      ks.map(k => s"SELECT n_$k AS nt, v_$k AS vt FROM nr CROSS JOIN vr")
        .mkString(" UNION ALL ") +
      "), " +
      "pp AS (SELECT round(ln(CAST(nt AS DOUBLE)), 9) AS x, round(ln(CAST(vt AS DOUBLE)), 9) AS y " +
      "FROM p WHERE nt > 0 AND vt > 0), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS nc, " +
      "sum(CAST(x AS DECIMAL(28,10))) AS sx, sum(CAST(y AS DECIMAL(28,10))) AS sy, " +
      "sum(CAST(x * x AS DECIMAL(28,10))) AS sxx, " +
      "sum(CAST(y * y AS DECIMAL(28,10))) AS syy, " +
      "sum(CAST(x * y AS DECIMAL(28,10))) AS sxy FROM pp) " +
      "SELECT nc AS n_checkpoints, " +
      "round((CAST(nc AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(nc AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS beta, " +
      "round(exp((CAST(sy AS DOUBLE) - (CAST(nc AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(nc AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(nc AS DOUBLE)), 6) + 0.0 AS k_coef, " +
      "round((CAST(nc AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * " +
      "(CAST(nc AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "((CAST(nc AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "(CAST(nc AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0 AS r2 " +
      "FROM m"
  }

  /** Mirror of q_cluster_agreement: the dedupClustersOracle recursive CC
    * chain + the labelPropagationOracle 4-round chain over the SAME pair
    * CTEs, then the contingency/NMI/ARI arithmetic with DECIMAL entropy
    * and MI sums and exact integer pair counts. */
  private def clusterAgreementOracle: String = {
    val sb = new StringBuilder(
      s"WITH RECURSIVE $mhPairsCtes, " +
        "edges AS (SELECT id1 AS src, id2 AS dst FROM pairs " +
        "UNION ALL SELECT id2, id1 FROM pairs), " +
        "cc AS (SELECT doc_id AS id, doc_id AS label FROM documents " +
        "UNION SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src), " +
        "laba AS MATERIALIZED (SELECT id, min(label) AS la FROM cc GROUP BY id), " +
        "n0 AS MATERIALIZED (SELECT id1 AS u, id2 AS v FROM pairs " +
        "UNION ALL SELECT id2, id1 FROM pairs), " +
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM n0)")
    for (i <- 1 to 4) {
      sb.append(s", c$i AS MATERIALIZED (SELECT n.u AS u, l.label AS label, " +
        s"count(*) AS c FROM n0 n JOIN l${i - 1} l ON n.v = l.node " +
        "GROUP BY 1, 2)")
      sb.append(s", l$i AS MATERIALIZED (SELECT u AS node, label FROM c$i " +
        "QUALIFY row_number() OVER " +
        "(PARTITION BY u ORDER BY c DESC, label ASC) = 1)")
    }
    val ea = "(CAST(sa AS DOUBLE) / 2.0)"
    val eb = "(CAST(sb AS DOUBLE) / 2.0)"
    val nd = "CAST(n AS DOUBLE)"
    val expd = s"$ea * $eb / ($nd * ($nd - 1.0) / 2.0)"
    val maxi = s"($ea + $eb) / 2.0"
    sb.append(
      ", labb AS (SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS lb " +
        "FROM documents d LEFT JOIN l4 l ON l.node = d.doc_id), " +
        "ct AS MATERIALIZED (SELECT la, lb, count(*) AS n FROM laba a " +
        "JOIN labb b ON a.id = b.id GROUP BY 1, 2), " +
        "ma AS (SELECT la, sum(n) AS ai FROM ct GROUP BY 1), " +
        "mb AS (SELECT lb, sum(n) AS bj FROM ct GROUP BY 1), " +
        "nn AS (SELECT sum(n) AS t FROM ct), " +
        "hha AS (SELECT CAST(count(*) AS BIGINT) AS clusters_a, " +
        "-CAST(sum(CAST(round((CAST(ai AS DOUBLE) / CAST(nn.t AS DOUBLE)) * " +
        "ln(CAST(ai AS DOUBLE) / CAST(nn.t AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS ha, " +
        "sum(ai * (ai - 1)) AS sa FROM ma CROSS JOIN nn), " +
        "hhb AS (SELECT CAST(count(*) AS BIGINT) AS clusters_b, " +
        "-CAST(sum(CAST(round((CAST(bj AS DOUBLE) / CAST(nn.t AS DOUBLE)) * " +
        "ln(CAST(bj AS DOUBLE) / CAST(nn.t AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS hb, " +
        "sum(bj * (bj - 1)) AS sb FROM mb CROSS JOIN nn), " +
        "mim AS (SELECT CAST(sum(CAST(round((CAST(ct.n AS DOUBLE) / CAST(nn.t AS DOUBLE)) * " +
        "ln((CAST(nn.t AS DOUBLE) * CAST(ct.n AS DOUBLE)) / " +
        "(CAST(ai AS DOUBLE) * CAST(bj AS DOUBLE))), 9) AS DECIMAL(28,14))) AS DOUBLE) AS mi, " +
        "sum(ct.n * (ct.n - 1)) AS sij, CAST(max(nn.t) AS BIGINT) AS n " +
        "FROM ct JOIN ma USING (la) JOIN mb USING (lb) CROSS JOIN nn) " +
        "SELECT n, clusters_a, clusters_b, " +
        "CASE WHEN ha = 0.0 OR hb = 0.0 THEN NULL " +
        "ELSE round(mi / sqrt(ha * hb), 6) END AS nmi, " +
        s"CASE WHEN $maxi - $expd = 0.0 THEN NULL " +
        s"ELSE round((CAST(sij AS DOUBLE) / 2.0 - $expd) / ($maxi - $expd), 6) " +
        "END AS ari FROM mim CROSS JOIN hha CROSS JOIN hhb")
    sb.toString
  }

  /** DuckDB-generated mirror of ScaleDedup.simhash (16 bits, seed "#0"). */
  private def simhashOracle: String = {
    val votes = (0 until 16).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    "WITH t AS (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')), " +
      "x -> (('0x' || substr(md5(x || '#0'), 1, 8))::BIGINT)) AS hs FROM documents) " +
      s"SELECT doc_id, CAST($votes AS BIGINT) AS sh FROM t ORDER BY doc_id"
  }

  /** DuckDB mirror of q_simhash_pairs: same 16-bit signature CTE as
    * simhashOracle, then an all-pairs distance filter — the ORACLE may go
    * all-pairs (it exists to define the answer, not to scale); the Spark
    * side's banded join must produce the identical pair set. */
  private def simhashPairsOracle: String = {
    val votes = (0 until 32).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    "WITH t AS (SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')), " +
      "x -> (('0x' || substr(md5(x || '#0'), 1, 8))::BIGINT)) AS hs FROM documents), " +
      s"s AS (SELECT doc_id, CAST($votes AS BIGINT) AS sh FROM t) " +
      "SELECT a.doc_id AS id1, b.doc_id AS id2, " +
      "CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS dist " +
      "FROM s a JOIN s b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY id1, id2"
  }

  /** DuckDB mirror of q_dedup_clusters: the capped band join as the edge
    * set over the FULL corpus, then recursive min-label propagation. */
  private def dedupClustersOracle: String =
    s"WITH RECURSIVE $mhPairsCtes, " +
      "edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs), " +
      "cc AS (SELECT doc_id AS id, doc_id AS label FROM documents " +
      "UNION SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src) " +
      "SELECT id AS doc_id, min(label) AS cluster FROM cc GROUP BY id ORDER BY doc_id"

  /** Cluster-size histogram over the same clustering as dedupClustersOracle. */
  private def dupClusterSizesOracle: String =
    s"WITH RECURSIVE $mhPairsCtes, " +
      "edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION ALL SELECT id2, id1 FROM pairs), " +
      "cc AS (SELECT doc_id AS id, doc_id AS label FROM documents " +
      "UNION SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src), " +
      "lab AS (SELECT id, min(label) AS cluster FROM cc GROUP BY id), " +
      "s AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster) " +
      "SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, " +
      "CAST(cluster_size * count(*) AS BIGINT) AS n_docs " +
      "FROM s GROUP BY cluster_size ORDER BY cluster_size"

  /** DuckDB mirror of q_llm_prep_fuzzy (flagship v3): the shared kept
    * chain through exact-dedup canonical `k`, then the MinHash-LSH pair
    * CTEs run OVER k, recursive min-label propagation into duplicate
    * clusters, and only each cluster's min id (label == id) survives —
    * the production near-dup dedup composed end-to-end. */
  private def llmPrepFuzzyOracle: String =
    s"WITH RECURSIVE $llmPrepKeptCtes, " +
      mhPairsCtesOver("k") + ", " +
      "jp AS (SELECT p.id1, p.id2 FROM pairs p " +
      "JOIN t a ON a.doc_id = p.id1 JOIN t b ON b.doc_id = p.id2 " +
      "WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / " +
      "len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5), " +
      "edges AS (SELECT id1 AS src, id2 AS dst FROM jp UNION ALL SELECT id2, id1 FROM jp), " +
      "cc AS (SELECT doc_id AS id, doc_id AS label FROM k " +
      "UNION SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src), " +
      "lab AS (SELECT id, min(label) AS label FROM cc GROUP BY id), " +
      "canon AS (SELECT id FROM lab WHERE label = id) " +
      "SELECT k.doc_id, CAST(len(string_split(k.text, ' ')) AS BIGINT) AS n_tokens " +
      "FROM k JOIN canon ON k.doc_id = canon.id ORDER BY k.doc_id"

  /** DuckDB mirror of q_llm_prep_spans (flagship v4): the shared kept
    * chain through exact-dedup canonical `k`, then the span-dedup chain
    * (same gram hash / first-occurrence order as the q_span_dedup mirror)
    * run OVER k, counting surviving vs removed tokens per doc. */
  private def llmPrepSpansOracle: String =
    s"WITH $llmPrepKeptCtes, " +
      "st AS (SELECT doc_id, string_split(text, ' ') AS toks FROM k), " +
      "sg AS (SELECT doc_id, toks, unnest(range(0, len(toks) - 8 + 1)) AS pos FROM st), " +
      "shh AS (SELECT doc_id, pos, md5(array_to_string(toks[pos+1 : pos+8], ' ')) AS gh FROM sg), " +
      "sm AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn FROM shh), " +
      "scov AS (SELECT DISTINCT doc_id, p FROM (" +
      "SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM sm WHERE rn > 1)), " +
      "su AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(0, len(toks))) AS p FROM st), " +
      "skept AS (SELECT su.doc_id, count(*) AS n_clean FROM su " +
      "LEFT JOIN scov ON su.doc_id = scov.doc_id AND su.p = scov.p " +
      "WHERE scov.p IS NULL GROUP BY su.doc_id), " +
      "snr AS (SELECT doc_id, count(*) AS n_removed FROM scov GROUP BY doc_id) " +
      "SELECT st.doc_id, CAST(coalesce(skept.n_clean, 0) AS BIGINT) AS n_tokens_clean, " +
      "CAST(coalesce(snr.n_removed, 0) AS BIGINT) AS n_removed " +
      "FROM st LEFT JOIN skept ON st.doc_id = skept.doc_id " +
      "LEFT JOIN snr ON st.doc_id = snr.doc_id ORDER BY st.doc_id"

  /** Unrolled weighted peel rounds (Graph.kCoreWeighted): exact-Jaccard
    * weights as DECIMAL(18,6), DECIMAL sums, threshold compared in
    * DECIMAL — the engine's exact-weighted-degree stance. MATERIALIZED
    * CTEs for the same 3^rounds-inlining reason as [[kcoreOracle]]. */
  private def kcoreWeightedOracle(minW: Double, rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH $mhPairsCtes, " +
        "e0 AS MATERIALIZED (SELECT p.id1 AS a, p.id2 AS b, " +
        "CAST(round(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(x.toks, y.toks))), 6) " +
        "AS DECIMAL(18,6)) AS w " +
        "FROM pairs p JOIN t x ON x.doc_id = p.id1 " +
        "JOIN t y ON y.doc_id = p.id2)")
    for (i <- 1 to rounds) {
      sb.append(s", d$i AS MATERIALIZED (SELECT node, SUM(w) AS wdeg FROM " +
        s"(SELECT a AS node, w FROM e${i - 1} " +
        s"UNION ALL SELECT b, w FROM e${i - 1}) GROUP BY 1)")
      sb.append(s", k$i AS MATERIALIZED (SELECT node FROM d$i " +
        s"WHERE wdeg >= CAST($minW AS DECIMAL(18,6)))")
      sb.append(s", e$i AS MATERIALIZED (SELECT a, b, w FROM e${i - 1} " +
        s"WHERE a IN (SELECT node FROM k$i) AND b IN (SELECT node FROM k$i))")
    }
    sb.append(s" SELECT node, round(CAST(SUM(w) AS DOUBLE), 6) " +
      "AS core_wdegree FROM " +
      s"(SELECT a AS node, w FROM e$rounds " +
      s"UNION ALL SELECT b, w FROM e$rounds) " +
      "GROUP BY 1 ORDER BY node")
    sb.toString
  }

  /** Mirror of q_dedup_keep_best: [[dedupClustersOracle]]'s clustering,
    * then the per-cluster argmax (n_chars DESC, doc_id) as a rank-1
    * window — min-of-struct's SQL spelling. */
  private def keepBestOracle: String =
    s"WITH RECURSIVE $mhPairsCtes, " +
      "edges AS (SELECT id1 AS src, id2 AS dst FROM pairs " +
      "UNION ALL SELECT id2, id1 FROM pairs), " +
      "cc AS (SELECT doc_id AS id, doc_id AS label FROM documents " +
      "UNION SELECT e.dst AS id, cc.label FROM cc JOIN edges e ON cc.id = e.src), " +
      "lab AS (SELECT id, min(label) AS cluster FROM cc GROUP BY id), " +
      "j AS (SELECT lab.cluster, d.doc_id, d.n_chars FROM lab " +
      "JOIN documents d ON d.doc_id = lab.id), " +
      "r AS (SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster " +
      "ORDER BY n_chars DESC, doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY cluster) AS csize FROM j) " +
      "SELECT cluster, doc_id AS kept_id, CAST(csize AS BIGINT) AS cluster_size, " +
      "CAST(csize - 1 AS BIGINT) AS n_dropped FROM r WHERE rn = 1 ORDER BY cluster"
}

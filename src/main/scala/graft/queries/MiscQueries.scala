package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.Shared._

/** The remaining operator families: inspection and sampling, packing
  * and mixing, skew handling, CDC/SCD warehousing, record linkage,
  * features, attribution and privacy constraints. */
object MiscQueries {
  val all: Seq[Q] = Seq(
    // I1 — top-k (TakeOrderedAndProject)
    Q("q_topk", (s, d) =>
      Inspect.topK(Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        10, Seq(desc("o_totalprice"), asc("o_orderkey"))),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),

    // I2 — deterministic systematic sample
    Q("q_sample_systematic", (s, d) =>
      Inspect.systematicSample(Tables.lineitem(s, d), "l_orderkey", 97)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey % 97 = 0 ORDER BY l_orderkey, l_linenumber"),

    // mix planning: per-source repeat factors toward a uniform token
    // budget (target_share / actual_share — the DoReMi-style rebalancing
    // table a mix designer starts from); two tiny aggregations
    Q("q_mix_rebalance", (s, d) => {
      val per = Tables.documents(s, d).groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).alias("n_tokens"))
      val tot = per.agg(sum("n_tokens").alias("__tot"),
        count(lit(1)).alias("__k"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("__tot"), 6)
            .alias("actual_share"),
          round(lit(1.0) / col("__k"), 6).alias("target_share"),
          round((lit(1.0) / col("__k"))
            / (col("n_tokens").cast("double") / col("__tot")), 6)
            .alias("repeat_factor"))
        .orderBy("source")
    },
      "WITH per AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot, count(*) AS k FROM per) " +
        "SELECT source, n_tokens, " +
        "round(CAST(n_tokens AS DOUBLE) / tot, 6) AS actual_share, " +
        "round(1.0 / k, 6) AS target_share, " +
        "round((1.0 / k) / (CAST(n_tokens AS DOUBLE) / tot), 6) AS repeat_factor " +
        "FROM per, t ORDER BY source"),

    // versioning AUDIT: snapshot diff between two corpus versions —
    // added / removed / changed / same per id, fingerprints only across
    // the wire. (The fixture derives "old" and "new" from the table:
    // old drops doc_id % 7 == 0, new drops % 5 == 0 and edits % 11 == 0.)
    Q("q_corpus_diff", (s, d) => {
      val docs = Tables.documents(s, d)
      val oldV = docs.filter(col("doc_id") % 7 =!= 0)
      val newV = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
      Inspect.snapshotDiff(oldV, newV, "doc_id", "text").orderBy("doc_id")
    },
      "WITH o AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents WHERE doc_id % 7 <> 0), " +
        "nw AS (SELECT doc_id, md5(regexp_replace(lower(trim(" +
        "CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END)), '\\s+', ' ', 'g')) AS fp " +
        "FROM documents WHERE doc_id % 5 <> 0) " +
        "SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN nw.doc_id IS NULL THEN 'removed' " +
        "WHEN o.fp = nw.fp THEN 'same' ELSE 'changed' END AS status " +
        "FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id ORDER BY doc_id"),

    // pack: concat-and-cut sequence packing — per source shard, documents
    // in doc_id order fill 512-token training sequences; each doc reports
    // the sequence and offset where it starts (one window per shard key,
    // shards pack independently — the 100 TB-parallel shape)
    Q("q_pack_sequences", (s, d) =>
      Pack.packGreedy(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).cast("long").alias("n_tokens")),
        "source", "doc_id", "n_tokens", budget = 512)
        .select("doc_id", "source", "seq_id", "seq_offset")
        .orderBy("doc_id"),
      "WITH t AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, source, " +
        "sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prev FROM t) " +
        "SELECT doc_id, source, " +
        "CAST(floor(prev / 512) AS BIGINT) AS seq_id, " +
        "CAST(prev - floor(prev / 512) * 512 AS BIGINT) AS seq_offset " +
        "FROM c ORDER BY doc_id"),

    // pack: materialized packed sequences — the actual training rows a
    // consumer reads: per (source, seq_id), the 512-token window of the
    // shard's concatenated token stream, reassembled in position order
    // (every sequence except a shard's last has exactly 512 tokens —
    // spec-pinned). Shuffle key is (shard, seq): bounded groups, shards
    // pack in parallel.
    Q("q_pack_emit", (s, d) =>
      Pack.packEmit(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokens(col("text")).alias("toks")),
        "source", "doc_id", "toks", budget = 512)
        .select(concat(col("source"), lit("_"), col("seq_id").cast("string"))
          .alias("key"),
          col("n_toks"), concat_ws(" ", col("toks")).alias("seq_text"))
        .orderBy("key"),
      "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents), " +
        "c AS (SELECT doc_id, source, toks, " +
        "sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(toks) AS prev FROM t), " +
        "u AS (SELECT source, prev, unnest(toks) AS tok, " +
        "unnest(range(0, len(toks))) AS p FROM c), " +
        "g AS (SELECT source, CAST(floor((prev + p) / 512) AS BIGINT) AS seq_id, " +
        "prev + p AS gpos, tok FROM u) " +
        "SELECT source || '_' || CAST(seq_id AS VARCHAR) AS key, " +
        "CAST(count(*) AS BIGINT) AS n_toks, " +
        "string_agg(tok, ' ' ORDER BY gpos) AS seq_text " +
        "FROM g GROUP BY source, seq_id ORDER BY key"),

    // pack: TOKENIZE-AND-PACK — the final assembly a training job reads:
    // real BPE tokens (broadcast merges kernel, zero shuffle) packed into
    // 128-token sequences per source shard. Composes the two
    // oracle-proven stages end-to-end; the only shuffles are the pack
    // window on the shard key and the bounded (shard, seq) regroup.
    Q("q_tokenize_pack", (s, d) =>
      Pack.packEmit(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            graft.functions.Bpe.bpe_tokens(col("text"),
              TextAnalysis.DefaultBpeMerges).alias("toks")),
        "source", "doc_id", "toks", budget = 128)
        .select(concat(col("source"), lit("_"), col("seq_id").cast("string"))
          .alias("key"),
          col("n_toks"), concat_ws(" ", col("toks")).alias("seq_text"))
        .orderBy("key"),
      tokenizePackOracle),

    // pack: deterministic hash train/val split — labels depend only on
    // the row's own key, so they are stable under corpus growth
    Q("q_train_val_split", (s, d) =>
      Pack.trainValSplit(Tables.documents(s, d), "doc_id", valFraction = 0.1)
        .select("doc_id", "split").orderBy("doc_id"),
      "SELECT doc_id, CASE WHEN " +
        "('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT " +
        "< 0.1 * 4294967296.0 THEN 'val' ELSE 'train' END AS split " +
        "FROM documents ORDER BY doc_id"),

    // pack: deterministic shard manifest — md5-bucket shard + independent
    // md5 in-shard order (the "global shuffle then shard" a training run
    // reads; no RNG state, no global sort, one shard-keyed window)
    Q("q_shard_manifest", (s, d) =>
      Pack.shardManifest(Tables.documents(s, d), "doc_id", numShards = 8)
        .orderBy("doc_id"),
      "WITH a AS (SELECT doc_id, " +
        "('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT % 8 AS shard, " +
        "('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR) || '#1'), 1, 8))::BIGINT AS ord " +
        "FROM documents) " +
        "SELECT doc_id, shard, " +
        "CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos " +
        "FROM a ORDER BY doc_id"),

    // mix: deterministic stratified domain sampling — keep 50% of src0,
    // 25% of src1, all of everything else, via an md5-threshold predicate
    // (reproducible row-for-row across cluster sizes, unlike sample()).
    Q("q_domain_mix", (s, d) =>
      Mix.stratifiedSample(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.25))
        .select("doc_id", "source").orderBy("doc_id"),
      "SELECT doc_id, source FROM documents " +
        "WHERE ('0x' || substr(md5(source || '|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT " +
        "< (CASE WHEN source = 'src1' THEN 0.25 WHEN source = 'src0' THEN 0.5 ELSE 1.0 END) * 4294967296.0 " +
        "ORDER BY doc_id"),

    // mix: DSIR importance weights (Xie et al. 2023) — hashed
    // unigram+bigram log-likelihood ratio of each raw doc against the
    // eval-style target slice (doc_id % 37, the decontamination
    // convention). Bucket counts collapse to 64 rows, the log-ratio
    // table broadcasts, text never shuffles.
    Q("q_dsir_weights", (s, d) =>
      Mix.dsirImportance(Tables.documents(s, d), "doc_id", "text",
        col("doc_id") % 37 === 0, buckets = 64)
        .orderBy("doc_id"),
      dsirCtes + " SELECT doc_id, count(*) AS n_feats, " +
        "round(CAST(sum(CAST(lw AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0 AS weight " +
        "FROM hb JOIN lw USING (b) WHERE NOT is_t GROUP BY doc_id ORDER BY doc_id"),

    // mix: DSIR top-slice selection — the resampling step as a
    // deterministic top-k (weight desc, doc_id tie-break), which
    // compiles to TakeOrderedAndProject (per-task heaps, no global
    // sort at any corpus size).
    Q("q_dsir_select", (s, d) =>
      Mix.dsirImportance(Tables.documents(s, d), "doc_id", "text",
        col("doc_id") % 37 === 0, buckets = 64)
        .orderBy(desc("weight"), col("doc_id")).limit(500)
        .select("doc_id", "weight").orderBy("doc_id"),
      dsirCtes + ", dw AS (SELECT doc_id, " +
        "round(CAST(sum(CAST(lw AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0 AS weight " +
        "FROM hb JOIN lw USING (b) WHERE NOT is_t GROUP BY doc_id) " +
        "SELECT doc_id, weight FROM " +
        "(SELECT * FROM dw ORDER BY weight DESC, doc_id LIMIT 500) ORDER BY doc_id"),

    // I1 — offset+limit slice over an explicit total order
    Q("q_slice", (s, d) =>
      Inspect.slice(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"),
        Seq(asc("l_orderkey"), asc("l_linenumber"), asc("l_partkey"), asc("l_suppkey")),
        100, 110)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM " +
        "(SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn " +
        "FROM lineitem) WHERE rn > 100 AND rn <= 110 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"),

    // salted equi-join (skew spread) — result identical to the plain join
    Q("q_join_salted", (s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").alias("l_orderkey"), col("o_orderstatus"))
      Skew.saltedJoin(l, o, Seq("l_orderkey"), salts = 8,
        bigSaltFrom = Seq("l_orderkey", "l_linenumber"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).alias("n"),
          Aggregates.exactSum(col("l_quantity")).alias("sum_qty"))
        .orderBy("o_orderstatus")
    },
      "SELECT o_orderstatus, count(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),

    // two-phase exact distinct count per group
    Q("q_distinct_two_phase", (s, d) =>
      Skew.twoPhaseDistinctCount(Tables.lineitem(s, d),
        Seq("l_returnflag"), "l_partkey")
        .orderBy("l_returnflag"),
      "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_distinct_l_partkey " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // ops tooling: key-skew pre-flight report on a prospective join key.
    Q("q_skew_preflight", (s, d) =>
      Skew.skewReport(Tables.lineitem(s, d), Seq("l_suppkey")),
      // Mirrors Skew.skewReport on l_suppkey (exact interpolated
      // percentiles == quantile_cont; DuckDB sum(BIGINT) cast back).
      "WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1) " +
        "SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, " +
        "max(cnt) AS max_cnt, " +
        "round(CAST(sum(cnt) AS BIGINT) * 1.0 / count(*), 6) AS mean_cnt, " +
        "round(quantile_cont(cnt, 0.5), 6) AS p50_cnt, " +
        "round(quantile_cont(cnt, 0.99), 6) AS p99_cnt, " +
        "round(max(cnt) / (CAST(sum(cnt) AS BIGINT) * 1.0 / count(*)), 6) AS skew " +
        "FROM c"),

    // mix: weighted reproducible sample — 25 docs, odds ∝ n_chars
    Q("q_weighted_sample", (s, d) =>
      Mix.weightedSample(Tables.documents(s, d), "doc_id", "n_chars", 25)
        .select("doc_id", "n_chars", "draw_key")
        .orderBy(desc("draw_key"), col("doc_id")),
      // Mirrors Mix.weightedSample ('ws' salt, 9-dp keys, id tiebreak):
      // the md5 prefix → BIGINT is the same hash32 mirror q_domain_mix uses.
      "WITH t AS (SELECT doc_id, n_chars, round(ln(" +
        "(('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT + 0.5) " +
        "/ 4294967296.0) / n_chars, 9) AS draw_key FROM documents) " +
        "SELECT doc_id, n_chars, draw_key FROM t " +
        "ORDER BY draw_key DESC, doc_id LIMIT 25"),

    // Bloom-filter join pruning: fact scan pre-filtered by a compact
    // dim-key membership sketch before the join shuffle (ops/BloomPrune).
    // Value-identical to the plain join — the oracle IS the plain join.
    Q("q_bloom_prune_join", (s, d) => {
      val dim = Tables.supplier(s, d).filter(col("s_nationkey") === 3)
        .select("s_suppkey", "s_name")
      graft.ops.BloomPrune.prunedInnerJoin(
          Tables.lineitem(s, d).select("l_suppkey", "l_extendedprice", "l_discount"),
          "l_suppkey", dim, "s_suppkey", 1000L, 0.01)
        .groupBy("s_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").alias("revenue"))
        .orderBy("s_name")
    },
      "SELECT s_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) " +
        "AS DECIMAL(18,6))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE s_nationkey = 3 GROUP BY 1 ORDER BY 1"),

    // SCD Type-2 history build (ops/Scd): order-status change log per
    // customer → versioned rows with effective ranges. No-op observations
    // compress away; o_orderkey is the same-instant tie break.
    Q("q_scd2_build", (s, d) =>
      graft.ops.Scd.scd2Build(
          Tables.orders(s, d).select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
          "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"),
          col("effective_from").cast("date").alias("effective_from"),
          col("effective_to").cast("date").alias("effective_to"),
          col("is_current"))
        .orderBy("o_custkey", "effective_from", "o_orderstatus"),
      "WITH dd AS (SELECT o_custkey, o_orderstatus, o_orderdate, " +
        "lag(o_orderstatus) OVER w AS prev, row_number() OVER w AS rn " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)), " +
        "ch AS (SELECT o_custkey, o_orderstatus, o_orderdate, rn FROM dd " +
        "WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev), " +
        "v AS (SELECT o_custkey, o_orderstatus, o_orderdate AS ef, " +
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, rn) AS et FROM ch) " +
        "SELECT o_custkey, o_orderstatus, CAST(ef AS DATE) AS effective_from, " +
        "CAST(et AS DATE) AS effective_to, et IS NULL AS is_current " +
        "FROM v ORDER BY o_custkey, effective_from, o_orderstatus"),

    // Z-order (Morton) clustering key (ops/ZOrder): the multi-dimensional
    // layout key — pure shift/mask Column expression, zero UDF.
    Q("q_zorder_key", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.ops.ZOrder.zorderKey(col("l_partkey"), col("l_suppkey")).alias("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber"),
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
        graft.ops.ZOrder.zorderSql("l_partkey", "l_suppkey") + " AS zkey " +
        "FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber"),

    // Declarative data-quality gate (ops/Constraints): row-local checks
    // fold into ONE aggregation pass; uniqueness and referential
    // integrity get their minimal dedicated plans. The FK check is
    // deliberately violated (orders without lineitems exist).
    Q("q_dq_report", (s, d) => {
      import graft.ops.Constraints._
      report(Tables.orders(s, d), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 1000000.0),
        Satisfies("status_valid", col("o_orderstatus").isin("F", "O", "P")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_orderkey", Tables.lineitem(s, d), "l_orderkey")))
    },
      "WITH r AS (" +
        "SELECT 'not_null(o_custkey)' AS c, CAST(SUM(CASE WHEN o_custkey IS NULL " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS v FROM orders " +
        "UNION ALL SELECT 'in_range(o_totalprice,0.0,1000000.0)', " +
        "CAST(SUM(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1000000.0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'satisfies(status_valid)', " +
        "CAST(SUM(CASE WHEN NOT coalesce(o_orderstatus IN ('F','O','P'), false) " +
        "THEN 1 ELSE 0 END) AS BIGINT) FROM orders " +
        "UNION ALL SELECT 'unique(o_orderkey)', " +
        "CAST(coalesce(SUM(n - 1), 0) AS BIGINT) FROM " +
        "(SELECT count(*) AS n FROM orders GROUP BY o_orderkey) " +
        "UNION ALL SELECT 'ref_integrity(o_orderkey)', " +
        "CAST(count(*) AS BIGINT) FROM orders o WHERE o_orderkey IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey)) " +
        "SELECT c AS \"constraint\", v AS violations, v = 0 AS pass " +
        "FROM r ORDER BY 1"),

    // Incremental aggregate maintenance (ops/IncrementalAgg): fold three
    // date-sliced delta batches of orders into the additive state, never
    // rescanning earlier slices; result == the full recompute (the
    // oracle IS the full group-by).
    Q("q_incr_agg", (s, d) => {
      import graft.ops.IncrementalAgg._
      val o = Tables.orders(s, d)
      val cut1 = to_timestamp(lit("1997-01-01"))
      val cut2 = to_timestamp(lit("1999-01-01"))
      val batches = Seq(
        o.filter(col("o_orderdate") < cut1),
        o.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2),
        o.filter(col("o_orderdate") >= cut2))
        .map(b => aggregate(b, "o_custkey", "o_totalprice"))
      finish(merge(batches)).orderBy("o_custkey")
    },
      "SELECT o_custkey, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, " +
        "round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS mean " +
        "FROM orders GROUP BY 1 ORDER BY 1"),

    // CDC apply (ops/Cdc): fold a deterministic I/U/D change batch
    // (derived from orders itself: every 7th order changes; op by key
    // mod 3) into the snapshot — the MERGE INTO shape.
    Q("q_cdc_apply", (s, d) => {
      val o = Tables.orders(s, d)
      val src = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("__m", col("o_orderkey") % 3)
      val changes = src.select(
        when(col("__m") === 2, col("o_orderkey") + 10000000L)
          .otherwise(col("o_orderkey")).alias("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        when(col("__m") === 1, round(col("o_totalprice") * 2, 2))
          .otherwise(col("o_totalprice")).alias("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        when(col("__m") === 0, "D").when(col("__m") === 1, "U")
          .otherwise("I").alias("op"))
      graft.ops.Cdc.applyCdc(o, changes, "o_orderkey", "op", "o_orderdate", "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).alias("price"),
          col("o_orderdate").cast("date").alias("odate"))
        .orderBy("o_orderkey")
    },
      "WITH src AS (SELECT *, o_orderkey % 3 AS m FROM orders WHERE o_orderkey % 7 = 0), " +
        "ch AS (SELECT CASE WHEN m = 2 THEN o_orderkey + 10000000 ELSE o_orderkey END AS k, " +
        "o_custkey, o_orderstatus, " +
        "CASE WHEN m = 1 THEN round(o_totalprice * 2, 2) ELSE o_totalprice END AS price0, " +
        "o_orderdate, o_orderpriority, " +
        "CASE m WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op FROM src), " +
        "untouched AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
        "FROM orders WHERE o_orderkey NOT IN (SELECT k FROM ch)), " +
        "ups AS (SELECT k AS o_orderkey, o_custkey, o_orderstatus, price0 AS o_totalprice, " +
        "o_orderdate FROM ch WHERE op <> 'D') " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS price, " +
        "CAST(o_orderdate AS DATE) AS odate " +
        "FROM (SELECT * FROM untouched UNION ALL SELECT * FROM ups) ORDER BY o_orderkey"),

    // Generic per-group top-k (ops/Inspect.topKPerGroup): WindowGroupLimit
    // keeps the exchange at O(groups × k).
    Q("q_topk_per_group", (s, d) =>
      graft.ops.Inspect.topKPerGroup(
          Tables.lineitem(s, d)
            .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq("l_returnflag"), 3,
          Seq(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
        .orderBy(col("l_returnflag"), desc("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber")),
      "SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn FROM lineitem) " +
        "WHERE rn <= 3 ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber"),

    // One-pass table profile (ops/Inspect.tableProfile): the relational
    // dataset-card row per column.
    Q("q_table_profile", (s, d) =>
      graft.ops.Inspect.tableProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")),
      "SELECT * FROM (" +
        "SELECT 'o_custkey' AS \"column\", count(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        "count(DISTINCT o_custkey) AS n_distinct, " +
        "CAST(min(o_custkey) AS DOUBLE) AS min_v, CAST(max(o_custkey) AS DOUBLE) AS max_v " +
        "FROM orders " +
        "UNION ALL SELECT 'o_orderkey', count(*), " +
        "CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), " +
        "count(DISTINCT o_orderkey), CAST(min(o_orderkey) AS DOUBLE), " +
        "CAST(max(o_orderkey) AS DOUBLE) FROM orders " +
        "UNION ALL SELECT 'o_orderstatus', count(*), " +
        "CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), " +
        "count(DISTINCT o_orderstatus), NULL, NULL FROM orders " +
        "UNION ALL SELECT 'o_totalprice', count(*), " +
        "CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT), " +
        "count(DISTINCT o_totalprice), CAST(min(o_totalprice) AS DOUBLE), " +
        "CAST(max(o_totalprice) AS DOUBLE) FROM orders) ORDER BY \"column\""),

    // Warehouse flagship composite: DQ gate → CDC apply → SCD2 history
    // build → point-in-time enrichment → versioned revenue report. The
    // warehouse twin of q_llm_prep_full: every stage is an
    // already-oracle-proven operator, composed end-to-end; one window
    // chain per key, one range-predicate join, one final aggregation.
    Q("q_warehouse_flagship", (s, d) => {
      val o = Tables.orders(s, d)
      // 1. DQ gate (row-local; Constraints semantics inlined as the
      // keep-predicate the report stage would enforce)
      val gated = o.filter(col("o_custkey").isNotNull &&
        col("o_totalprice") >= 0.0 && col("o_totalprice") <= 1000000.0)
      // 2. CDC apply (same deterministic %7 change feed as q_cdc_apply)
      val src = gated.filter(col("o_orderkey") % 7 === 0)
        .withColumn("__m", col("o_orderkey") % 3)
      val changes = src.select(
        when(col("__m") === 2, col("o_orderkey") + 10000000L)
          .otherwise(col("o_orderkey")).alias("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"),
        when(col("__m") === 1, round(col("o_totalprice") * 2, 2))
          .otherwise(col("o_totalprice")).alias("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"),
        when(col("__m") === 0, "D").when(col("__m") === 1, "U")
          .otherwise("I").alias("op"))
      // The applied snapshot feeds TWO consumers (the SCD2 dim build and
      // the point-in-time fact side); differently-pruned projections make
      // the two subtrees canonically distinct, so AQE exchange reuse
      // cannot dedupe them and the orders scan + change-window +
      // anti-join would run twice. Materialize it once, projected to
      // the union of both consumers' columns. localCheckpoint truncates
      // lineage and stores blocks on executors, so an executor loss FAILS
      // the job rather than recomputing (Iterate.scala's documented
      // trade); the rerun recomputes from the reliable parquet inputs.
      val applied = graft.ops.Cdc.applyCdc(
          gated, changes, "o_orderkey", "op", "o_orderdate", "o_custkey")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_totalprice")
        .localCheckpoint()
      // 3. SCD2 status history per customer over the applied snapshot
      val dim = graft.ops.Scd.scd2Build(
          applied.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
          "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus").alias("status_version"),
          col("effective_from"), col("effective_to"))
      // 4. point-in-time enrich each applied order with its version
      val enriched = graft.ops.Scd.pointInTime(
        applied.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        "o_custkey", "o_orderdate", dim, "o_custkey")
      // 5. versioned revenue report
      enriched.groupBy("status_version")
        .agg(count(lit(1)).alias("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"))
        .orderBy("status_version")
    },
      "WITH gated AS (SELECT * FROM orders WHERE o_custkey IS NOT NULL " +
        "AND o_totalprice >= 0.0 AND o_totalprice <= 1000000.0), " +
        "src AS (SELECT *, o_orderkey % 3 AS m FROM gated WHERE o_orderkey % 7 = 0), " +
        "ch AS (SELECT CASE WHEN m = 2 THEN o_orderkey + 10000000 ELSE o_orderkey END AS k, " +
        "o_custkey, o_orderstatus, " +
        "CASE WHEN m = 1 THEN round(o_totalprice * 2, 2) ELSE o_totalprice END AS price0, " +
        "o_orderdate, CASE m WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op FROM src), " +
        "applied AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
        "FROM gated WHERE o_orderkey NOT IN (SELECT k FROM ch) " +
        "UNION ALL SELECT k, o_custkey, o_orderstatus, price0, o_orderdate " +
        "FROM ch WHERE op <> 'D'), " +
        "sdd AS (SELECT o_custkey, o_orderstatus, o_orderdate, " +
        "lag(o_orderstatus) OVER w AS prev, row_number() OVER w AS rn " +
        "FROM applied WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)), " +
        "sch AS (SELECT o_custkey, o_orderstatus, o_orderdate, rn FROM sdd " +
        "WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev), " +
        "v AS (SELECT o_custkey, o_orderstatus, o_orderdate AS ef, " +
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, rn) AS et FROM sch) " +
        "SELECT v.o_orderstatus AS status_version, count(*) AS n_orders, " +
        "CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM applied f JOIN v ON f.o_custkey = v.o_custkey " +
        "AND f.o_orderdate >= v.ef AND (v.et IS NULL OR f.o_orderdate < v.et) " +
        "GROUP BY 1 ORDER BY 1"),

    // SCD2 point-in-time lookup (ops/Scd.pointInTime): each order keyed
    // to the status version effective at its own date — the fact-load
    // lookup against a versioned dimension. Ranges are disjoint per key,
    // so exactly one version matches.
    Q("q_scd2_lookup", (s, d) => {
      val dim = graft.ops.Scd.scd2Build(
          Tables.orders(s, d).select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
          "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus").alias("status_version"),
          col("effective_from"), col("effective_to"))
      val fact = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      graft.ops.Scd.pointInTime(fact, "o_custkey", "o_orderdate", dim, "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("status_version"),
          col("effective_from").cast("date").alias("vfrom"))
        .orderBy("o_orderkey", "status_version", "vfrom")
    },
      "WITH dd AS (SELECT o_custkey, o_orderstatus, o_orderdate, " +
        "lag(o_orderstatus) OVER w AS prev, row_number() OVER w AS rn " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)), " +
        "ch AS (SELECT o_custkey, o_orderstatus, o_orderdate, rn FROM dd " +
        "WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev), " +
        "v AS (SELECT o_custkey, o_orderstatus, o_orderdate AS ef, " +
        "lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, rn) AS et FROM ch) " +
        "SELECT f.o_orderkey, f.o_custkey, v.o_orderstatus AS status_version, " +
        "CAST(v.ef AS DATE) AS vfrom " +
        "FROM orders f JOIN v ON f.o_custkey = v.o_custkey " +
        "AND f.o_orderdate >= v.ef AND (v.et IS NULL OR f.o_orderdate < v.et) " +
        "ORDER BY 1, 3, 4"),

    // 2D skyline (Inspect.skyline2D): parts on the Pareto frontier of
    // (cheapest price, largest size). Bucket-local elimination prunes in
    // parallel; only skyline-sized survivors reach the exact global pass.
    // The oracle runs the quadratic NOT EXISTS dominance self-join that
    // defines the answer.
    Q("q_skyline", (s, d) =>
      graft.ops.Inspect.skyline2D(Tables.part(s, d),
          round(col("p_retailprice") * 100), col("p_size"))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey"),
      "SELECT p_partkey, p_retailprice, p_size FROM part a " +
        "WHERE NOT EXISTS (SELECT 1 FROM part b " +
        "WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size " +
        "AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)) " +
        "ORDER BY p_retailprice, p_partkey"),

    // Inverted positional index (InvertedIndex.buildPostings): the
    // token-keyed posting-list pivot of the corpus — audit slice: the
    // 20 most selective tokens' postings with doc counts and positions.
    Q("q_inverted_postings", (s, d) => {
      val post = graft.ops.InvertedIndex.buildPostings(
        Tables.documents(s, d), "doc_id", "text")
      post.groupBy("token")
        .agg(count(lit(1)).alias("df"), sum("tf").alias("ctf"))
        .orderBy(col("df").asc, col("token").asc).limit(20)
    },
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "pos AS (SELECT doc_id, t[i] AS token " +
        "FROM toks, unnest(generate_series(1, len(t))) AS u(i) WHERE t[i] <> ''), " +
        "post AS (SELECT token, doc_id, count(*) AS tf FROM pos GROUP BY 1, 2) " +
        "SELECT token, CAST(count(*) AS BIGINT) AS df, " +
        "CAST(sum(tf) AS BIGINT) AS ctf FROM post GROUP BY token " +
        "ORDER BY df ASC, token ASC LIMIT 20"),

    // Exact phrase search via posting-list intersection
    // (InvertedIndex.phraseSearch): every doc containing the contiguous
    // phrase "big order scan", with its occurrence count — the query
    // touches only the three tokens' postings, never the text column.
    Q("q_phrase_search", (s, d) => {
      val post = graft.ops.InvertedIndex.buildPostings(
        Tables.documents(s, d), "doc_id", "text")
      graft.ops.InvertedIndex.phraseSearch(
          post, Seq("big", "order", "scan"))
        .orderBy("doc_id")
    },
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "pos AS (SELECT doc_id, i - 1 AS pos, t[i] AS token " +
        "FROM toks, unnest(generate_series(1, len(t))) AS u(i) WHERE t[i] <> ''), " +
        "ph AS (SELECT * FROM (VALUES ('big', 0), ('order', 1), ('scan', 2)) " +
        "AS v(token, slot)), " +
        "st AS (SELECT p.doc_id, p.pos - ph.slot AS start, ph.slot " +
        "FROM pos p JOIN ph ON p.token = ph.token WHERE p.pos - ph.slot >= 0), " +
        "m AS (SELECT doc_id, start FROM st GROUP BY doc_id, start " +
        "HAVING count(DISTINCT slot) = 3) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches FROM m " +
        "GROUP BY doc_id ORDER BY doc_id"),

    // CDC extraction (Cdc.extractCdc): diff two deterministic snapshot
    // versions of orders into the minimal I/U/D feed — the inverse of
    // q_cdc_apply; unchanged keys never reach the output.
    Q("q_cdc_extract", (s, d) => {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val oldSnap = base.filter(col("o_orderkey") % 3 =!= 0)
      val newSnap = base.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, round(col("o_totalprice") * 2, 2))
            .otherwise(col("o_totalprice")))
      graft.ops.Cdc.extractCdc(oldSnap, newSnap, "o_orderkey")
        .orderBy("o_orderkey")
    },
      "WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders " +
        "WHERE o_orderkey % 3 <> 0), " +
        "n AS (SELECT o_orderkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 2, 2) " +
        "ELSE o_totalprice END AS o_totalprice FROM orders WHERE o_orderkey % 5 <> 0) " +
        "SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
        "CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus ELSE n.o_orderstatus END " +
        "AS o_orderstatus, " +
        "CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice ELSE n.o_totalprice END " +
        "AS o_totalprice, " +
        "CASE WHEN o.o_orderkey IS NULL THEN 'I' WHEN n.o_orderkey IS NULL THEN 'D' " +
        "ELSE 'U' END AS op " +
        "FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey " +
        "WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL " +
        "OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus " +
        "OR o.o_totalprice IS DISTINCT FROM n.o_totalprice " +
        "ORDER BY o_orderkey"),

    // Order-independent table checksum (Inspect.tableChecksum): per
    // returnflag, (n_rows, commutative md5-sum digest) over
    // engine-stable canonical columns — the replication-validation
    // primitive; the oracle recomputes the digest independently.
    Q("q_table_checksum", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_linestatus"),
          col("l_shipdate").cast("date").cast("string").alias("ship_d"))
      graft.ops.Inspect.tableChecksum(li,
          Seq("l_orderkey", "l_linenumber", "l_linestatus", "ship_d"),
          Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_rows"),
          col("checksum").cast("string").alias("checksum"))
        .orderBy("l_returnflag")
    },
      "WITH r AS (SELECT l_returnflag, " +
        "('0x' || substr(md5(concat_ws(chr(1), " +
        "coalesce(l_orderkey::VARCHAR, chr(2)), " +
        "coalesce(l_linenumber::VARCHAR, chr(2)), " +
        "coalesce(l_linestatus, chr(2)), " +
        "coalesce(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), chr(2)))), " +
        "1, 15))::BIGINT AS d FROM lineitem) " +
        "SELECT l_returnflag, count(*) AS n_rows, " +
        "CAST(sum(d) AS VARCHAR) AS checksum " +
        "FROM r GROUP BY 1 ORDER BY 1"),

    // Skew diagnosis report (Inspect.skewReport): the 20 heaviest order
    // keys in lineitem with share and ratio-to-mean-key-load — the audit
    // that decides whether a join key needs salting.
    Q("q_skew_report", (s, d) =>
      graft.ops.Inspect.skewReport(Tables.lineitem(s, d), "l_orderkey", 20),
      "WITH c AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1), " +
        "t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS nkeys FROM c) " +
        "SELECT l_orderkey, cnt, " +
        "round(cnt / CAST(total AS DOUBLE), 6) AS share, " +
        "round(CAST(cnt AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(nkeys AS DOUBLE)), 6) " +
        "AS ratio_to_avg " +
        "FROM c CROSS JOIN t ORDER BY cnt DESC, l_orderkey LIMIT 20"),

    // Temperature-scaled α-sampling audit (Mix.alphaSample): q_i ∝ n_i^0.5
    // at half budget — big sources downsampled toward the flattened mix,
    // md5-deterministic keep set, per-source (total, rate, kept) readout.
    Q("q_alpha_sample", (s, d) =>
      graft.ops.Mix.alphaSample(Tables.documents(s, d), "source",
        "doc_id", alpha = 0.5, budget = 0.5),
      // Same 9-dp-rounded n^α terms, DECIMAL normalizer sum, pinned rate
      // arithmetic, and md5 keep draw as Mix.alphaSample.
      "WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1), " +
        "p AS (SELECT source, n, round(pow(CAST(n AS DOUBLE), 0.5), 9) AS pw FROM c), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, " +
        "CAST(sum(CAST(pw AS DECIMAL(28,9))) AS DOUBLE) AS s FROM p), " +
        "r AS (SELECT source, n, round(least(CAST(1 AS DOUBLE), " +
        "((0.5 * CAST(nt AS DOUBLE)) * pw) / (s * CAST(n AS DOUBLE))), 9) AS rate " +
        "FROM p CROSS JOIN t), " +
        "k AS (SELECT d.source, count(*) AS kept FROM documents d JOIN r " +
        "ON d.source = r.source WHERE " +
        "('0x' || substr(md5(d.source || '|' || CAST(d.doc_id AS VARCHAR) || '#0'), 1, 8))::BIGINT " +
        "< r.rate * 4294967296.0 GROUP BY 1) " +
        "SELECT r.source, CAST(r.n AS BIGINT) AS n_total, r.rate, " +
        "CAST(coalesce(k.kept, 0) AS BIGINT) AS n_kept " +
        "FROM r LEFT JOIN k ON r.source = k.source ORDER BY r.source"),

    // Count-min sketch (ops/CountMin): depth-3 × width-64 counts table
    // over the lineitem supplier stream, probed for the 20 heaviest
    // items beside their exact counts — the bounded-memory point-
    // frequency sketch (one-sided: est >= exact, visible in the
    // overcount column because width < distinct items here). The oracle
    // rebuilds the identical sketch from the shared md5 hash family.
    Q("q_cms_freq", (s, d) => {
      val items = Tables.lineitem(s, d)
        .select(col("l_suppkey").cast("string").alias("item"))
      val sketch = graft.ops.CountMin.cmsBuild(items, "item", depth = 3, width = 64)
      val exact = items.groupBy("item").agg(count(lit(1)).alias("exact_cnt"))
      val probes = exact.orderBy(col("exact_cnt").desc, col("item").asc).limit(20)
      graft.ops.CountMin.cmsEstimate(sketch, probes.select("item"), "item",
          depth = 3, width = 64)
        .join(probes, "item")
        .select(col("item"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).alias("overcount"))
        .orderBy("item")
    },
      // Rebuilds the identical d=3 × w=64 count-min sketch from the shared
      // md5 hash family, probes the same top-20 items.
      "WITH it AS (SELECT l_suppkey::VARCHAR AS item FROM lineitem), " +
        "dd AS (SELECT * FROM (VALUES (0), (1), (2)) t(d)), " +
        "hx AS (SELECT item, d, CAST(('0x' || substr(md5(item || '#' || " +
        "d::VARCHAR), 1, 8))::BIGINT % 64 AS INT) AS b FROM it CROSS JOIN dd), " +
        "sk AS (SELECT d, b, count(*) AS cnt FROM hx GROUP BY 1, 2), " +
        "ex AS (SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt FROM it GROUP BY 1), " +
        "top AS (SELECT item, exact_cnt FROM ex " +
        "ORDER BY exact_cnt DESC, item LIMIT 20), " +
        "pb AS (SELECT t.item, t.exact_cnt, dd.d, " +
        "CAST(('0x' || substr(md5(t.item || '#' || dd.d::VARCHAR), 1, 8))::BIGINT % 64 AS INT) AS b " +
        "FROM top t CROSS JOIN dd) " +
        "SELECT pb.item, pb.exact_cnt, " +
        "CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cms_est, " +
        "CAST(min(coalesce(sk.cnt, 0)) - pb.exact_cnt AS BIGINT) AS overcount " +
        "FROM pb LEFT JOIN sk ON pb.d = sk.d AND pb.b = sk.b " +
        "GROUP BY 1, 2 ORDER BY 1"),

    // Position-based 40/20/40 attribution (Attribution
    // .positionAttribution): per-conversion path credit split
    // first/middles/last, paths segmented by the preceding-conversion
    // count — each touch credits exactly one conversion.
    Q("q_position_attribution", (s, d) =>
      graft.ops.Attribution.positionAttribution(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type",
        conversionType = "purchase"),
      // Same segment windows; middle credit rounds 0.2/(m−2) to 9 dp
      // before the DECIMAL sum, exactly like the Spark side.
      "WITH s AS (SELECT user_id AS k, ts, event_id AS tie, event_type AS t, " +
        "coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg FROM events), " +
        "tt AS (SELECT k, seg, t, " +
        "row_number() OVER (PARTITION BY k, seg ORDER BY ts, tie) AS i, " +
        "count(*) OVER (PARTITION BY k, seg) AS m FROM s WHERE t <> 'purchase'), " +
        "cv AS (SELECT DISTINCT k, seg FROM s WHERE t = 'purchase'), " +
        "cr AS (SELECT tt.t AS channel, CASE WHEN m = 1 THEN CAST(1.0 AS DOUBLE) " +
        "WHEN m = 2 THEN CAST(0.5 AS DOUBLE) " +
        "WHEN i = 1 OR i = m THEN CAST(0.4 AS DOUBLE) " +
        "ELSE round(CAST(0.2 AS DOUBLE) / CAST(m - 2 AS DOUBLE), 9) END AS c " +
        "FROM tt JOIN cv USING (k, seg)) " +
        "SELECT channel, CAST(count(*) AS BIGINT) AS n_touches, " +
        "round(CAST(sum(CAST(c AS DECIMAL(18,9))) AS DOUBLE), 6) AS credit " +
        "FROM cr GROUP BY 1 ORDER BY 1"),

    // Quality-first token-budget selection (Pack.tokenBudgetSelect):
    // Flesch bands consumed best-first against a 100k-token budget; the
    // straddling band keeps a fraction — the mix-selection artifact.
    Q("q_token_budget", (s, d) => {
      val t = col("text")
      val words = regexp_count(t, lit("[A-Za-z]+"))
      val sents = greatest(regexp_count(t, lit("[.!?]+")), lit(1))
      val syll = regexp_count(lower(t), lit("[aeiouy]+"))
      val flesch = round(lit(206.835) -
        lit(1.015) * words.cast("double") / sents.cast("double") -
        lit(84.6) * syll.cast("double") / words.cast("double"), 6)
      val band = least(greatest(floor(flesch / 10.0), lit(-5L)), lit(12L))
      val ntok = size(filter(split(t, " "), x => x =!= "")).cast("long")
      graft.ops.Pack.tokenBudgetSelect(
        Tables.documents(s, d).filter(t.isNotNull && words > 0),
        band, ntok, budget = 100000L)
    },
      // Same per-doc Flesch banding (readability's counts), band-sized
      // cumulative, same clamped fractional-keep arithmetic.
      "WITH d AS (SELECT doc_id, text, " +
        "len(regexp_extract_all(text, '[A-Za-z]+')) AS w, " +
        "greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s, " +
        "len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y " +
        "FROM documents WHERE text IS NOT NULL), " +
        "f AS (SELECT doc_id, text, round(206.835 - " +
        "1.015 * CAST(w AS DOUBLE) / CAST(s AS DOUBLE) - " +
        "84.6 * CAST(y AS DOUBLE) / CAST(w AS DOUBLE), 6) AS fl FROM d WHERE w > 0), " +
        "b AS (SELECT least(greatest(CAST(floor(fl / 10.0) AS BIGINT), -5), 12) AS band, " +
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok FROM f), " +
        "c AS (SELECT band, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(ntok) AS BIGINT) AS tokens FROM b GROUP BY 1), " +
        "r AS (SELECT band, n_docs, tokens, coalesce(sum(tokens) OVER " +
        "(ORDER BY band DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM c) " +
        "SELECT band, n_docs, tokens, CAST(prev + tokens AS BIGINT) AS cum_tokens, " +
        "round(least(greatest((100000.0 - CAST(prev AS DOUBLE)) / CAST(tokens AS DOUBLE), 0.0), 1.0), 6) AS keep_fraction " +
        "FROM r ORDER BY band DESC"),

    // word2vec negative sampling (Mix.negativeSamples): deterministic
    // unigram^0.75 draws via the bucketed inverse-CDF equi-join — never
    // a draws x vocab range nested-loop.
    Q("q_neg_sampling", (s, d) =>
      graft.ops.Mix.negativeSamples(Tables.documents(s, d), "doc_id",
        "text"),
      // Same pinned-order cumulative, same md5 draws; the oracle may use
      // the plain range join DuckDB is happy with — values are identical.
      "WITH tk AS (SELECT token, count(*) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) " +
        "WHERE token <> '' GROUP BY 1), " +
        "cw AS (SELECT token, round(pow(CAST(c AS DOUBLE), 0.75), 9) AS w, " +
        "coalesce(sum(round(pow(CAST(c AS DOUBLE), 0.75), 9)) OVER (ORDER BY token " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS lo FROM tk), " +
        "ch AS (SELECT token, w, lo, lo + w AS hi FROM cw), " +
        "z AS (SELECT max(hi) AS z FROM ch), " +
        "dr AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
        "CAST(j AS VARCHAR) || '#2'), 1, 8))::BIGINT / 4294967296.0 AS u " +
        "FROM documents, unnest(range(3)) AS t(j)), " +
        "m AS (SELECT ch.token, ch.w FROM dr CROSS JOIN z JOIN ch " +
        "ON ch.lo <= dr.u * z.z AND dr.u * z.z < ch.hi), " +
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM dr), " +
        "g AS (SELECT token, CAST(count(*) AS BIGINT) AS n_sampled, " +
        "max(w) AS tw FROM m GROUP BY 1) " +
        "SELECT token, n_sampled, " +
        "round(CAST(nd.nd AS DOUBLE) * (tw / z.z), 6) AS expected, " +
        "round(CAST(n_sampled AS DOUBLE) / (CAST(nd.nd AS DOUBLE) * (tw / z.z)), 6) AS ratio " +
        "FROM g CROSS JOIN nd CROSS JOIN z " +
        "ORDER BY n_sampled DESC, token LIMIT 30"),

    // Weight-of-evidence / information value (Features.woeIv): purchase
    // separation per hour-of-day and value band — infoGain's ranking in
    // scorecard units, with the IV leakage readout.
    Q("q_woe_iv", (s, d) =>
      graft.ops.Features.woeIv(Tables.events(s, d),
        col("event_type") === "purchase",
        Seq(("hour", hour(col("ts"))),
          ("value_band",
            least(floor(col("value") / 50.0), lit(9.0)).cast("long")))),
      // Same half-count continuity correction, DECIMAL IV term sums, same
      // string-cast bins.
      "WITH base AS (SELECT " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, " +
        "CAST(hour(ts) AS VARCHAR) AS f_hour, " +
        "CAST(CAST(least(floor(value / 50.0), 9.0) AS BIGINT) AS VARCHAR) AS f_band " +
        "FROM events), " +
        "e AS (SELECT 'hour' AS feature, f_hour AS bin, y FROM base " +
        "UNION ALL SELECT 'value_band', f_band, y FROM base), " +
        "c AS (SELECT feature, bin, sum(y) AS g, sum(1 - y) AS bb " +
        "FROM e GROUP BY 1, 2), " +
        "t AS (SELECT feature, sum(g) AS gt, sum(bb) AS bt FROM c GROUP BY 1), " +
        "w AS (SELECT c.feature, bin, g, bb, " +
        "(CAST(g AS DOUBLE) + 0.5) / (CAST(gt AS DOUBLE) + 0.5) AS pg, " +
        "(CAST(bb AS DOUBLE) + 0.5) / (CAST(bt AS DOUBLE) + 0.5) AS pb " +
        "FROM c JOIN t ON c.feature = t.feature), " +
        "iv AS (SELECT feature, sum(CAST(round((pg - pb) * ln(pg / pb), 9) " +
        "AS DECIMAL(28,14))) AS iv FROM w GROUP BY 1) " +
        "SELECT w.feature AS feature, bin, CAST(g AS BIGINT) AS n_pos, " +
        "CAST(bb AS BIGINT) AS n_neg, round(ln(pg / pb), 6) AS woe, " +
        "round(CAST(iv.iv AS DOUBLE), 6) AS iv " +
        "FROM w JOIN iv ON w.feature = iv.feature ORDER BY w.feature, bin"),

    // Out-of-fold smoothed target encoding (Features.targetEncodeOOF):
    // event-type encoded by the other folds' mean value with a prior of
    // weight 10 — the leakage-safe category-mean lookup table.
    Q("q_target_encode", (s, d) =>
      graft.ops.Features.targetEncodeOOF(Tables.events(s, d),
        col("event_type"), col("value"), col("user_id") % 5),
      // Same (category, fold) cells, DECIMAL label sums, same smoothed
      // hold-out arithmetic with the prior-10 literal on both sides.
      "WITH b AS (SELECT event_type AS category, user_id % 5 AS fold, " +
        "value AS y FROM events WHERE value IS NOT NULL), " +
        "cf AS (SELECT category, fold, count(*) AS ncf, " +
        "sum(CAST(y AS DECIMAL(28,10))) AS scf FROM b GROUP BY 1, 2), " +
        "c AS (SELECT category, sum(ncf) AS nc, sum(scf) AS sc FROM cf GROUP BY 1), " +
        "g AS (SELECT sum(nc) AS n, sum(sc) AS s FROM c) " +
        "SELECT category, fold, CAST(nc - ncf AS BIGINT) AS n_oof, " +
        "round((CAST(sc - scf AS DOUBLE) + " +
        "10.0 * (CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))) / " +
        "(CAST(nc - ncf AS DOUBLE) + 10.0), 6) AS encoding " +
        "FROM cf JOIN c USING (category) CROSS JOIN g " +
        "ORDER BY category, fold"),

    // Quantile normalization (Features.quantileNormalize): every event
    // type's value distribution mapped onto the global 11-point
    // reference grid — the cross-source batch-effect correction.
    Q("q_quantile_normalize", (s, d) =>
      graft.ops.Features.quantileNormalize(Tables.events(s, d),
        col("value"), col("event_type")),
      // Same per-(group, value) mid-rank positions, same 11-point exact
      // global grid and linear interpolation arithmetic.
      "WITH b AS (SELECT event_type AS grp, value FROM events " +
        "WHERE value IS NOT NULL), " +
        "pv AS (SELECT grp, value, count(*) AS t FROM b GROUP BY 1, 2), " +
        "ng AS (SELECT grp, sum(t) AS ng FROM pv GROUP BY 1), " +
        "r AS (SELECT grp, value, t, coalesce(sum(t) OVER " +
        "(PARTITION BY grp ORDER BY value " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pv), " +
        "rk AS (SELECT r.grp, value, " +
        "(CAST(bef AS DOUBLE) + (CAST(t AS DOUBLE) + 1.0) / 2.0 - 0.5) / " +
        "CAST(ng.ng AS DOUBLE) AS p FROM r JOIN ng ON r.grp = ng.grp), " +
        "gg AS (SELECT quantile_cont(value, " +
        "[0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS g FROM b), " +
        "gr AS MATERIALIZED (SELECT i - 1 AS j, g[i] AS gv FROM gg, " +
        "unnest(generate_series(1, 11)) AS u(i)) " +
        "SELECT grp, value, round(p, 6) AS p, " +
        "round(glo.gv + (p * 10.0 - floor(p * 10.0)) * (ghi.gv - glo.gv), 6) " +
        "AS normalized " +
        "FROM rk JOIN gr glo ON CAST(floor(p * 10.0) AS INT) = glo.j " +
        "JOIN gr ghi ON least(CAST(floor(p * 10.0) AS INT) + 1, 10) = ghi.j " +
        "ORDER BY grp, value"),

    // Fellegi-Sunter m/u weight estimation (Linkage
    // .fellegiSunterWeights) over the planted-twin customer pairs: each
    // field's agreement odds learned from the labeled blocking output.
    Q("q_linkage_weights", (s, d) =>
      Linkage.fellegiSunterWeights(linkagePairs(s, d),
        abs(col("id1") - col("id2")) === 10000000L, linkageFields),
      // Same planted twins, same sorted-neighbor blocking on balance, same
      // Laplace-smoothed m/u and log2 weights.
      s"WITH $fsPairsCtes " +
        "SELECT * FROM (" +
        Seq("bal_close", "nation", "segment").map(f =>
          s"SELECT '$f' AS field, round(${fsM(f)}, 6) AS m, " +
          s"round(${fsU(f)}, 6) AS u, " +
          s"round(log2(${fsM(f)} / ${fsU(f)}), 6) AS w_agree, " +
          s"round(log2((1.0 - ${fsM(f)}) / (1.0 - ${fsU(f)})), 6) AS w_disagree " +
          "FROM ag").mkString(" UNION ALL ") +
        ") ORDER BY field"),

    // Fellegi-Sunter pair scoring (Linkage.fellegiSunterScore): summed
    // log-likelihood-ratio weights rank the same candidate pairs; the
    // planted twins should dominate the top of the list.
    Q("q_linkage_score", (s, d) =>
      Linkage.fellegiSunterScore(linkagePairs(s, d),
        abs(col("id1") - col("id2")) === 10000000L, linkageFields,
        topN = 40),
      // Same smoothed weights broadcast back onto the pairs, same fixed
      // left-assoc score sum and (score DESC, id1, id2) order.
      s"WITH $fsPairsCtes " +
        "SELECT id1, id2, CAST(lab AS BIGINT) AS is_match, round(" +
        Seq("bal_close", "nation", "segment").map(f =>
          s"CASE WHEN f_$f = 1 THEN log2(${fsM(f)} / ${fsU(f)}) " +
          s"ELSE log2((1.0 - ${fsM(f)}) / (1.0 - ${fsU(f)})) END")
          .mkString(" + ") +
        ", 6) AS score FROM pr CROSS JOIN ag " +
        "ORDER BY score DESC, id1, id2 LIMIT 40"),

    // Markov removal-effect attribution (Attribution.markovAttribution):
    // absorbing-chain channel credit — how much conversion probability
    // disappears when journeys through each channel are severed.
    Q("q_markov_attribution", (s, d) =>
      graft.ops.Attribution.markovAttribution(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", "purchase",
        Seq("click", "error", "signup", "view"), iters = 16),
      // Same journey construction, same transition probabilities, same
      // 16-sweep DECIMAL(28,14)-truncated value iteration per chain —
      // generated programmatically (5 chains × 16 unrolled CTEs).
      markovAttributionOracle),

    // k-anonymity / l-diversity audit (Constraints.kAnonymityReport)
    // over customer quasi-identifiers (nation, balance band) with the
    // market segment as the sensitive attribute.
    Q("q_k_anonymity", (s, d) =>
      Constraints.kAnonymityReport(Tables.customer(s, d),
        Seq(col("c_nationkey"), floor(col("c_acctbal") / 1000).cast("long")),
        Seq("nation", "bal_band"), col("c_mktsegment"), k = 5, l = 2),
      "SELECT c_nationkey AS nation, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, " +
        "count(*) AS n, count(DISTINCT c_mktsegment) AS l_distinct, " +
        "count(*) >= 5 AS k_anonymous, " +
        "count(DISTINCT c_mktsegment) >= 2 AS l_diverse " +
        "FROM customer GROUP BY 1, 2 ORDER BY 1, 2"),

    // privacy: entropy l-diversity — the skew-aware upgrade of the
    // distinct-count check (2000-wide balance bands to keep groups fat).
    Q("q_l_diversity", (s, d) =>
      Constraints.entropyLDiversityReport(Tables.customer(s, d),
        Seq(col("c_nationkey"), floor(col("c_acctbal") / 2000).cast("long")),
        Seq("nation", "bal_band"), col("c_mktsegment"), l = 3),
      // Mirrors Constraints.entropyLDiversityReport (l=3): exact cell
      // counts, DECIMAL p*ln(p) sums, e^H effective-l, and the verdict
      // against the ENGINE's ln(3) literal (same IEEE constant both sides).
      "WITH cells AS (SELECT c_nationkey AS nation, " +
        "CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band, " +
        "c_mktsegment AS sv, count(*) AS c FROM customer GROUP BY 1, 2, 3), " +
        "tot AS (SELECT nation, bal_band, sum(c) AS n FROM cells GROUP BY 1, 2), " +
        "h AS (SELECT cells.nation, cells.bal_band, max(tot.n) AS n, " +
        "count(*) AS l_distinct, " +
        "-CAST(sum(CAST(round((CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE)) * " +
        "ln(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE)), 9) AS DECIMAL(28,14))) " +
        "AS DOUBLE) AS hh FROM cells " +
        "JOIN tot USING (nation, bal_band) GROUP BY 1, 2) " +
        "SELECT nation, bal_band, CAST(n AS BIGINT) AS n, l_distinct, " +
        "round(hh, 6) + 0.0 AS entropy, round(exp(hh), 6) + 0.0 AS effective_l, " +
        s"hh >= ${math.log(3.0)} AS entropy_l_diverse " +
        "FROM h ORDER BY nation, bal_band"),
  )

  /** Candidate pairs for the Fellegi-Sunter queries: every customer gets
    * a planted twin (id + 10⁷, balance + 1.5, segment string reversed
    * for every third customer), blocking is sorted-neighbor on balance
    * (window 3 — twins land adjacent because +1.5 is far below the
    * typical balance gap), and the pair columns carry both sides'
    * nation/segment/balance for the agreement predicates. */
  private def linkagePairs(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val base = c.select(col("c_custkey").cast("long").alias("id"),
      col("c_nationkey").alias("nat"), col("c_mktsegment").alias("seg"),
      col("c_acctbal").alias("bal"))
    val twins = c.select((col("c_custkey") + 10000000L).alias("id"),
      col("c_nationkey").alias("nat"),
      when(col("c_custkey") % 3 === 0, reverse(col("c_mktsegment")))
        .otherwise(col("c_mktsegment")).alias("seg"),
      (col("c_acctbal") + 1.5).alias("bal"))
    val ent = base.unionByName(twins)
    ScaleDedup.sortedNeighborPairs(ent, "id", col("bal"), window = 3)
      .join(ent.select(col("id").alias("id1"), col("nat").alias("nat1"),
        col("seg").alias("seg1"), col("bal").alias("bal1")), "id1")
      .join(ent.select(col("id").alias("id2"), col("nat").alias("nat2"),
        col("seg").alias("seg2"), col("bal").alias("bal2")), "id2")
  }

  /** Agreement predicates for the Fellegi-Sunter queries, alphabetical
    * by field name (the weights table orders by field). */
  private def linkageFields: Seq[(String, Column)] = Seq(
    "bal_close" -> (abs(col("bal1") - col("bal2")) <= 2.0),
    "nation" -> (col("nat1") === col("nat2")),
    "segment" -> (col("seg1") === col("seg2")))

  /** Oracle mirror of [[linkagePairs]]: entity union with planted twins,
    * sorted-neighbor blocking on (bal, id), per-pair label + agreement
    * flags, and the one-row m/u count cell table. */
  private def fsPairsCtes: String =
    "ent AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_nationkey AS nat, " +
      "c_mktsegment AS seg, c_acctbal AS bal FROM customer " +
      "UNION ALL SELECT c_custkey + 10000000, c_nationkey, " +
      "CASE WHEN c_custkey % 3 = 0 THEN reverse(c_mktsegment) " +
      "ELSE c_mktsegment END, c_acctbal + 1.5 FROM customer), " +
      "r AS (SELECT id, nat, seg, bal, " +
      "row_number() OVER (ORDER BY bal, id) AS rk FROM ent), " +
      "pr AS (SELECT a.id AS id1, b.id AS id2, " +
      "CASE WHEN abs(a.id - b.id) = 10000000 THEN 1 ELSE 0 END AS lab, " +
      "CASE WHEN abs(a.bal - b.bal) <= 2.0 THEN 1 ELSE 0 END AS f_bal_close, " +
      "CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS f_nation, " +
      "CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS f_segment " +
      "FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3), " +
      "ag AS MATERIALIZED (SELECT sum(lab) AS nm, count(*) - sum(lab) AS nu, " +
      Seq("bal_close", "nation", "segment").map(f =>
        s"sum(CASE WHEN lab = 1 THEN f_$f ELSE 0 END) AS am_$f, " +
        s"sum(CASE WHEN lab = 0 THEN f_$f ELSE 0 END) AS au_$f")
        .mkString(", ") +
      " FROM pr)"

  /** Smoothed m estimate for field `f` as oracle SQL (the engine's
    * (am + 0.5)/(nm + 1.0) spelled identically). */
  private def fsM(f: String): String =
    s"((CAST(am_$f AS DOUBLE) + 0.5) / (CAST(nm AS DOUBLE) + 1.0))"

  private def fsU(f: String): String =
    s"((CAST(au_$f AS DOUBLE) + 0.5) / (CAST(nu AS DOUBLE) + 1.0))"

  /** Shared DuckDB CTE chain mirroring Mix.dsirImportance (64 buckets,
    * target = doc_id % 37): yields `hb` (doc_id, is_t, b) — the hashed
    * unigram+bigram feature multiset — and `lw` (b, lw) — the 9-dp
    * add-one-smoothed log-likelihood-ratio table. range(0, len(w)-1) is
    * empty for single-token docs, so no bigram guard is needed (the
    * Spark side guards because sequence() descends for start > stop). */
  private def dsirCtes: String =
    "WITH tok AS (SELECT doc_id, (doc_id % 37 = 0) AS is_t, " +
      "string_split(text, ' ') AS w FROM documents), " +
      "feats AS (SELECT doc_id, is_t, unnest(list_concat(w, " +
      "list_transform(range(0, len(w) - 1), i -> w[i+1] || ' ' || w[i+2]))) AS f " +
      "FROM tok), " +
      "hb AS (SELECT doc_id, is_t, " +
      "('0x' || substr(md5(f || '#0'), 1, 8))::BIGINT % 64 AS b FROM feats), " +
      "bc AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc, " +
      "sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS sc FROM hb GROUP BY b), " +
      "tot AS (SELECT sum(tc) AS tt, sum(sc) AS st FROM bc), " +
      "lw AS (SELECT b, round(ln((tc + 1.0) / (tt + 64.0)) - " +
      "ln((sc + 1.0) / (st + 64.0)), 9) AS lw FROM bc, tot)"

  /** DuckDB mirror of q_tokenize_pack: the shared BPE chain produces each
    * doc's token list, then the q_pack_emit window/regroup runs over it
    * at budget 128. */
  private def tokenizePackOracle: String =
    s"WITH RECURSIVE $bpeTokCtes, " +
      "t2 AS (SELECT a.doc_id, d.source, a.toks FROM agg a " +
      "JOIN documents d USING (doc_id)), " +
      "c2 AS (SELECT doc_id, source, toks, " +
      "sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(toks) AS prev FROM t2), " +
      "u2 AS (SELECT source, prev, unnest(toks) AS tok, " +
      "unnest(range(0, len(toks))) AS p FROM c2), " +
      "g2 AS (SELECT source, CAST(floor((prev + p) / 128) AS BIGINT) AS seq_id, " +
      "prev + p AS gpos, tok FROM u2) " +
      "SELECT source || '_' || CAST(seq_id AS VARCHAR) AS key, " +
      "CAST(count(*) AS BIGINT) AS n_toks, " +
      "string_agg(tok, ' ' ORDER BY gpos) AS seq_text " +
      "FROM g2 GROUP BY source, seq_id ORDER BY key"

  /** Unrolled-CTE mirror of [[graft.ops.Attribution.markovAttribution]]
    * for the fixed events channel set: the fixed-K value iteration is an
    * operator DEFINITION, so the oracle replicates the identical
    * DECIMAL-truncated sweeps rather than solving the chain another way.
    * The event-derived CTEs and `tp` are MATERIALIZED: `tp` is referenced
    * by all 85 chain-iteration CTEs, so default inlining would expand the
    * events scan tree once per reference and exhaust the process fd
    * limit (as [[kcoreOracle]] would). */
  private lazy val markovAttributionOracle: String = {
    val chs = Seq("click", "error", "signup", "view")
    val iters = 16
    def pcol(s: String) = s"p${s.toLowerCase}"
    def tcol(src: String, dst: String) = s"t_${src.toLowerCase}_${dst.toLowerCase}"
    val tpCols = (for { src <- "S" +: chs; dst <- chs :+ "C" } yield
      s"COALESCE(MAX(CASE WHEN src = '$src' AND dst = '$dst' THEN t END), 0.0) " +
        s"AS ${tcol(src, dst)}").mkString(", ")
    def chainTag(removed: Option[String]) = removed.map(_.take(1)).getOrElse("f")
    def initCte(removed: Option[String]): String = {
      val states = ("S" +: chs).filterNot(removed.contains)
      s"i0${chainTag(removed)} AS (SELECT " +
        states.map(s => s"0.0 AS ${pcol(s)}").mkString(", ") + ")"
    }
    def iterCte(n: Int, removed: Option[String]): String = {
      val tag = chainTag(removed)
      val states = ("S" +: chs).filterNot(removed.contains)
      val body = states.map { src =>
        val terms = chs.filterNot(removed.contains).map(dst =>
          s"CAST(${tcol(src, dst)} * ${pcol(dst)} AS DECIMAL(28,14))") :+
          s"CAST(${tcol(src, "C")} * 1.0 AS DECIMAL(28,14))"
        s"CAST(${terms.mkString(" + ")} AS DOUBLE) AS ${pcol(src)}"
      }.mkString(", ")
      s"i$n$tag AS (SELECT $body FROM i${n - 1}$tag CROSS JOIN tp)"
    }
    val chains = None +: chs.map(Some(_))
    val chainCtes = chains.flatMap(r =>
      initCte(r) +: (1 to iters).map(i => iterCte(i, r))).mkString(", ")
    val resCols = chs.map(c =>
      s"greatest(1.0 - i$iters${c.take(1)}.ps / i${iters}f.ps, 0.0) AS re_$c")
      .mkString(", ")
    val resFrom = (s"i${iters}f" +: chs.map(c => s"i$iters${c.take(1)}"))
      .mkString(" CROSS JOIN ")
    val tot = chs.map(c => s"re_$c").mkString(" + ")
    val finalRows = chs.map(c =>
      s"SELECT '$c' AS channel, round(re_$c, 6) AS removal_effect, " +
        s"CASE WHEN tot > 0 THEN round(re_$c / tot, 6) END AS share FROM r2")
      .mkString(" UNION ALL ")
    "WITH e AS MATERIALIZED (SELECT user_id AS k, event_type AS ty, " +
      "epoch_us(ts) AS tus, event_id AS tie FROM events), " +
      "fp AS MATERIALIZED (SELECT k, tus, tie FROM (SELECT k, tus, tie, " +
      "row_number() OVER " +
      "(PARTITION BY k ORDER BY tus, tie) AS rn FROM e WHERE ty = 'purchase') " +
      "WHERE rn = 1), " +
      "tc AS MATERIALIZED (SELECT e.k, e.ty, e.tus, e.tie, " +
      "fp.k IS NOT NULL AS conv " +
      "FROM e LEFT JOIN fp ON e.k = fp.k WHERE e.ty <> 'purchase' " +
      "AND (fp.k IS NULL OR (e.tus, e.tie) < (fp.tus, fp.tie))), " +
      "st AS MATERIALIZED (SELECT k, ty, conv, lead(ty) OVER (PARTITION BY k " +
      "ORDER BY tus, tie) AS nxt, row_number() OVER (PARTITION BY k " +
      "ORDER BY tus, tie) AS rn FROM tc), " +
      "tr AS (SELECT ty AS src, COALESCE(nxt, CASE WHEN conv THEN 'C' " +
      "ELSE 'N' END) AS dst FROM st " +
      "UNION ALL SELECT 'S', ty FROM st WHERE rn = 1 " +
      "UNION ALL SELECT 'S', 'C' FROM fp WHERE k NOT IN (SELECT k FROM tc)), " +
      "ct AS MATERIALIZED (SELECT src, dst, count(*) AS cnt FROM tr " +
      "GROUP BY 1, 2), " +
      "tt AS (SELECT src, sum(cnt) AS tot FROM ct GROUP BY 1), " +
      s"tp AS MATERIALIZED (SELECT $tpCols FROM (SELECT ct.src, ct.dst, " +
      "CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS t FROM ct " +
      "JOIN tt USING (src))), " +
      chainCtes + ", " +
      s"r1 AS (SELECT $resCols FROM $resFrom), " +
      s"r2 AS (SELECT re_click, re_error, re_signup, re_view, $tot AS tot FROM r1) " +
      s"SELECT channel, removal_effect, share FROM ($finalRows) ORDER BY channel"
  }
}

package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._

/** Grouped, windowed and sketched aggregation (ops Aggregates) and the
  * event-stream family: sessions, funnels, gaps, rolling and smoothed
  * series (ops Sessionize). */
object AggregateQueries {
  val all: Seq[Q] = Seq(
    // H1 — group-by count
    Q("q_group_count", (s, d) =>
      Aggregates.groupCount(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus"),
      "SELECT l_returnflag, l_linestatus, count(*) AS \"count\" FROM lineitem " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // H1+ — pricing summary (TPC-H Q1 shape; headline)
    Q("q_agg_pricing", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Aggregates.exactSum(col("l_quantity")).alias("sum_qty"),
          Aggregates.exactSum(col("l_extendedprice")).alias("sum_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").alias("sum_disc"),
          count(lit(1)).alias("n"))
        .withColumn("avg_qty", round(col("sum_qty") / col("n"), 6))
        .orderBy("l_returnflag", "l_linestatus"),
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc, " +
        "count(*) AS n, " +
        "round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // H5 — frequency table
    Q("q_freq_table", (s, d) =>
      Aggregates.freqTable(Tables.customer(s, d), "c_mktsegment"),
      "SELECT c_mktsegment, count(*) AS \"count\" FROM customer GROUP BY 1 " +
        "ORDER BY \"count\" DESC, c_mktsegment"),

    // H6 — describe() from exact decimal sums
    Q("q_summary_stats", (s, d) =>
      Aggregates.summaryStats(Tables.lineitem(s, d), "l_quantity"),
      "WITH a AS (SELECT count(l_quantity) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s, " +
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS ss, " +
        "min(l_quantity) AS min_v, max(l_quantity) AS max_v FROM lineitem) " +
        "SELECT n, round(s / n, 6) AS mean_v, " +
        "round(sqrt((ss - s * s / n) / (n - 1)), 6) AS std_v, min_v, max_v FROM a"),

    // H6 — exact interpolated quartiles (pandas describe 25%/50%/75%)
    Q("q_summary_quartiles", (s, d) =>
      Aggregates.quartiles(Tables.lineitem(s, d), "l_extendedprice"),
      "SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS q25, " +
        "round(quantile_cont(l_extendedprice, 0.5), 6) AS q50, " +
        "round(quantile_cont(l_extendedprice, 0.75), 6) AS q75 FROM lineitem"),

    // H7 — fixed-width histogram
    Q("q_histogram", (s, d) =>
      Aggregates.histogram(Tables.events(s, d), "value", 10.0),
      "SELECT CAST(floor(value / 10) AS BIGINT) AS bin, count(*) AS \"count\" " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // rollup subtotals
    Q("q_rollup", (s, d) =>
      Aggregates.rollupCount(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      "SELECT l_returnflag, l_linestatus, count(*) AS \"count\" FROM lineitem " +
        "GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // cube: all grouping-set subtotal combinations, one shuffle. Subtotal
    // NULL keys are labeled '(all)' so every output column is non-null
    // (the oracle compare's row sort needs an orderable first column).
    Q("q_cube", (s, d) =>
      Aggregates.cubeCount(Tables.orders(s, d), Seq("o_orderstatus", "o_orderpriority"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).alias("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("(all)")).alias("o_orderpriority"),
          col("n"))
        .orderBy("o_orderstatus", "o_orderpriority"),
      "SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus, " +
        "coalesce(o_orderpriority, '(all)') AS o_orderpriority, count(*) AS n " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus, o_orderpriority"),

    // window navigation: lag/lead within each customer's order history —
    // partitioned window (shuffles once on the customer key, no global
    // sort). Boundary NULLs are sentinel-filled so no nullable column can
    // lead the oracle compare's sorted rows.
    Q("q_window_lead_lag", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          coalesce(lag("o_totalprice", 1).over(w), lit(-1.0)).alias("prev_price"),
          coalesce(lead("o_totalprice", 1).over(w), lit(-1.0)).alias("next_price"))
        .orderBy("o_orderkey")
    },
      "SELECT o_orderkey, o_custkey, " +
        "coalesce(lag(o_totalprice) OVER w, -1.0) AS prev_price, " +
        "coalesce(lead(o_totalprice) OVER w, -1.0) AS next_price FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_orderkey"),

    // ntile quartiles WITHIN each status partition (a global ntile would be
    // a single-partition sort — at scale, bucket by a partition key or use
    // percentile boundaries instead)
    Q("q_ntile", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
      Tables.orders(s, d).select(col("o_orderkey"),
        ntile(4).over(w).alias("quartile")).orderBy("o_orderkey")
    },
      "SELECT o_orderkey, CAST(ntile(4) OVER " +
        "(PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile " +
        "FROM orders ORDER BY o_orderkey"),

    // grouping sets: two independent group-bys answered in ONE shuffle
    // (status totals ∪ priority totals), subtotal keys labeled non-null
    Q("q_grouping_sets", (s, d) =>
      Tables.orders(s, d)
        .groupingSets(Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("n"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).alias("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("(all)")).alias("o_orderpriority"),
          col("n"))
        .orderBy("o_orderstatus", "o_orderpriority"),
      "SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus, " +
        "coalesce(o_orderpriority, '(all)') AS o_orderpriority, count(*) AS n " +
        "FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority)) " +
        "ORDER BY o_orderstatus, o_orderpriority"),

    // window — row_number top-n per group
    Q("q_window_rank", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },
      "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn"),

    // window — the full ranking family over one window definition:
    // dense_rank (no gaps), percent_rank and cume_dist (distribution
    // positions, rounded for engine portability)
    Q("q_window_rank_family", (s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d).select(col("o_orderkey"),
          dense_rank().over(w).cast("long").alias("drank"),
          round(percent_rank().over(w), 6).alias("prank"),
          round(cume_dist().over(w), 6).alias("cdist"))
        .orderBy("o_orderkey")
    },
      "SELECT o_orderkey, " +
        "CAST(dense_rank() OVER w AS BIGINT) AS drank, " +
        "round(percent_rank() OVER w, 6) AS prank, " +
        "round(cume_dist() OVER w, 6) AS cdist FROM orders " +
        "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) " +
        "ORDER BY o_orderkey"),

    // window — running sum
    Q("q_window_running", (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 6).alias("running"))
        .orderBy("o_custkey", "o_orderkey")
    },
      "SELECT o_custkey, o_orderkey, round(SUM(o_totalprice) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),

    // H8 — group by an array-typed key
    Q("q_group_by_array", (s, d) =>
      Tables.documents(s, d)
        .groupBy(slice(split(col("text"), " "), 1, 2).alias("k"))
        .agg(count(lit(1)).alias("cnt"))
        .select(concat_ws(" ", col("k")).alias("key2"), col("cnt"))
        .orderBy("key2"),
      "SELECT array_to_string(k, ' ') AS key2, cnt FROM " +
        "(SELECT string_split(text, ' ')[1:2] AS k, count(*) AS cnt " +
        "FROM documents GROUP BY 1) ORDER BY key2"),

    // exact interpolated median + correlation aggregates
    Q("q_median_corr", (s, d) =>
      Tables.lineitem(s, d).agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).alias("corr_qty_price")),
      "SELECT round(quantile_cont(l_quantity, 0.5), 6) AS median_qty, " +
        "round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price FROM lineitem"),

    // tie-corrected Spearman ρ through DISTRIBUTED fractional ranks — no
    // single-task global window anywhere (the rank tables are built via
    // range-repartition + partition-offset cumsum)
    Q("q_spearman", (s, d) =>
      Aggregates.spearmanCorr(Tables.lineitem(s, d),
        "l_quantity", "l_extendedprice"),
      // fractional rank = min-rank + (ties−1)/2 — the average-of-positions
      // convention spearmanCorr's distributed ranks implement
      "WITH t AS (SELECT l_quantity AS a, l_extendedprice AS b FROM lineitem " +
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL), " +
        "r AS (SELECT rank() OVER (ORDER BY a) + " +
        "(count(*) OVER (PARTITION BY a) - 1) / 2.0 AS ra, " +
        "rank() OVER (ORDER BY b) + " +
        "(count(*) OVER (PARTITION BY b) - 1) / 2.0 AS rb FROM t) " +
        "SELECT round(corr(ra, rb), 6) AS spearman_rho FROM r"),

    // exact per-group median
    Q("q_group_median", (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"))
        .orderBy("l_returnflag"),
      "SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS median_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // grouped collect_set (sorted for determinism)
    Q("q_group_collect", (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(array_sort(collect_set(col("lang"))).alias("langs"),
          count(lit(1)).alias("n_docs"))
        .select(col("source"), concat_ws(",", col("langs")).alias("langs"),
          col("n_docs"))
        .orderBy("source"),
      "SELECT source, array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs, " +
        "count(*) AS n_docs FROM documents GROUP BY source ORDER BY source"),

    // batch gap-based sessionization (lag + running sum of boundaries)
    Q("q_sessionize_batch", (s, d) =>
      Sessionize.sessions(Tables.events(s, d), "user_id", "ts", "event_id", 30)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").alias("s_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").alias("s_end"))
        .orderBy("user_id", "session_seq"),
      sessionCtes + " " +
        "SELECT user_id, session_seq, count(*) AS n_events, " +
        "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS s_end " +
        "FROM y GROUP BY 1, 2 ORDER BY 1, 2"),

    // product analytics: 3-step funnel (view → later click → later
    // purchase per user, first-qualifying-time chaining). Comparisons run
    // on epoch MICROS on both engines — the fixture carries sub-µs nanos
    // DuckDB keeps and Spark truncates, so raw-ts inequalities would be
    // engine-dependent for same-µs event pairs.
    Q("q_funnel", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).alias("tus"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tus").alias("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("tus") > col("t1"))
        .groupBy("user_id").agg(min("tus").alias("t2"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("tus") > col("t2"))
        .groupBy("user_id").agg(min("tus").alias("t3"))
      v.agg(count(lit(1)).alias("n_view"))
        .crossJoin(c.agg(count(lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).alias("n_view_click_purchase")))
    },
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), " +
        "v AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN v USING (user_id) " +
        "WHERE e.event_type = 'click' AND e.tus > v.t1 GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.tus) AS t3 FROM e JOIN c USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.tus > c.t2 GROUP BY 1) " +
        "SELECT (SELECT count(*) FROM v) AS n_view, " +
        "(SELECT count(*) FROM c) AS n_view_click, " +
        "(SELECT count(*) FROM p) AS n_view_click_purchase"),

    // product analytics: cohort retention — users by first-seen day ×
    // active-day offset (the classic retention triangle), one distinct
    // pass + one grouped pass
    Q("q_cohort_retention", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").alias("day"))
      val first = ev.groupBy("user_id").agg(min("day").alias("cohort_day"))
      ev.distinct().join(first, "user_id")
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").alias("day_offset"))
        .groupBy("cohort_day", "day_offset").agg(count(lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
      "WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events) " +
        "SELECT f.cohort_day, datediff('day', f.cohort_day, a.d) AS day_offset, " +
        "count(*) AS n_users FROM a JOIN f USING (user_id) " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // product analytics: next-event transition matrix — per-user lead
    // pairs, counts and row-normalized probabilities (the Markov view of
    // the event stream); one user-keyed window + one tiny grouped pass
    Q("q_event_transitions", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).alias("tus"))
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").alias("src"), col("dst"))
        .agg(count(lit(1)).alias("n"))
        .withColumn("p",
          round(col("n").cast("double") / sum(col("n")).over(wSrc), 6))
        .orderBy("src", "dst")
    },
      "WITH s AS (SELECT user_id, event_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst FROM events), " +
        "c AS (SELECT event_type AS src, dst, count(*) AS n FROM s " +
        "WHERE dst IS NOT NULL GROUP BY 1, 2) " +
        "SELECT src, dst, n, " +
        "round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p " +
        "FROM c ORDER BY src, dst"),

    // event cleaning: debounce — drop an event within 60 s of the same
    // user's previous event (duplicate-beacon suppression, one window)
    Q("q_debounce", (s, d) =>
      Sessionize.debounce(Tables.events(s, d), "user_id", "ts", "event_id",
        minGapMs = 60000L)
        .select("event_id", "user_id").orderBy("event_id"),
      "SELECT event_id, user_id FROM (SELECT event_id, user_id, " +
        "epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap " +
        "FROM events) WHERE gap IS NULL OR gap > 60000 ORDER BY event_id"),

    // aggregate family: argmax/argmin — each user's highest- and
    // lowest-valued event id via max_by/min_by (one grouped pass, no
    // window, no self-join; ties broken by the max/min of the tied ids
    // so the answer is deterministic on both engines)
    Q("q_argmax", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"))
      // make the ordering key unique per user so arg ties cannot occur:
      // (value, event_id) pairs are distinct because event_id is unique
      ev.groupBy("user_id")
        .agg(
          max(struct(col("value"), col("event_id"))).getField("event_id")
            .alias("best_event"),
          min(struct(col("value"), col("event_id"))).getField("event_id")
            .alias("worst_event"),
          round(max(col("value")), 6).alias("best_value"))
        .orderBy("user_id")
    },
      "WITH r AS (SELECT user_id, event_id, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rb, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY value ASC, event_id ASC) AS rw " +
        "FROM events) " +
        "SELECT user_id, max(CASE WHEN rb = 1 THEN event_id END) AS best_event, " +
        "max(CASE WHEN rw = 1 THEN event_id END) AS worst_event, " +
        "round(max(value), 6) AS best_value " +
        "FROM r GROUP BY user_id ORDER BY user_id"),

    // ops report: per-event-type latency percentile bands (p50/p90/p99),
    // exact interpolated percentiles, one grouped pass
    Q("q_event_percentiles", (s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).alias("n"),
          expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("__q"))
        .select(col("event_type"), col("n"),
          round(col("__q").getItem(0), 6).alias("p50"),
          round(col("__q").getItem(1), 6).alias("p90"),
          round(col("__q").getItem(2), 6).alias("p99"))
        .orderBy("event_type"),
      "SELECT event_type, count(*) AS n, " +
        "round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90, " +
        "round(quantile_cont(value, 0.99), 6) AS p99 " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    // monitoring: rolling anomaly flags — trailing-7-day per-user
    // mean/std from exact DECIMAL window sums; emit events with |z| > 3
    // over a ≥ 5-event baseline (rolling-window + z-score composed; the
    // fixture's users emit ~20 events/month, so an hour-scale baseline
    // would never reach 5 events)
    Q("q_rolling_anomaly", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_ms"))
        .rangeBetween(-604800000L, 0L)
      val n = count(lit(1)).over(w)
      val sm = sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
      val s2 = sum((col("value") * col("value")).cast("decimal(18,6)"))
        .over(w).cast("double")
      val mean = sm / n
      val variance = s2 / n - mean * mean
      Tables.events(s, d).select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).alias("ts_ms"), col("value"))
        .select(col("event_id"), col("user_id"), col("value"),
          n.cast("long").alias("n_base"),
          round((col("value") - mean) / sqrt(nullif(greatest(variance, lit(0.0)), lit(0.0))), 6)
            .alias("zscore"))
        .filter(col("n_base") >= 5 && abs(col("zscore")) > 3)
        .orderBy("event_id")
    },
      "WITH x AS (SELECT event_id, user_id, value, count(*) OVER w AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sm, " +
        "CAST(sum(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) " +
        "RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW)), " +
        "y AS (SELECT event_id, user_id, value, CAST(n AS BIGINT) AS n_base, " +
        "round((value - sm / n) / " +
        "sqrt(nullif(greatest(s2 / n - (sm / n) * (sm / n), 0), 0)), 6) AS zscore FROM x) " +
        "SELECT event_id, user_id, value, n_base, zscore FROM y " +
        "WHERE n_base >= 5 AND abs(zscore) > 3 ORDER BY event_id"),

    // trailing event-time RANGE window — per user, count and exact-decimal
    // average of `value` over the preceding hour (rangeBetween on epoch
    // millis; the rolling-feature shape a monitoring/feature pipeline
    // computes). One shuffle on the user key.
    Q("q_window_rolling_range", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).alias("ts_ms"), col("value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_ms"))
        .rangeBetween(-3600000L, 0L)
      ev.select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).alias("n_1h"),
          round(sum(col("value").cast("decimal(18,6)")).over(w).cast("double")
            / count(lit(1)).over(w), 6).alias("avg_1h"))
        .orderBy("event_id")
    },
      "SELECT event_id, user_id, CAST(count(*) OVER w AS BIGINT) AS n_1h, " +
        "round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / (count(*) OVER w), 6) AS avg_1h " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) " +
        "RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) ORDER BY event_id"),

    // robust numeric cleaning: MAD outlier gate on the event value feed
    // (median/MAD resist the outliers a mean/stddev filter would absorb)
    Q("q_outlier_mad", (s, d) =>
      Aggregates.madOutlierKeep(
          Tables.events(s, d).select(col("event_id"), col("value")), "value")
        .orderBy("event_id"),
      "WITH v AS (SELECT event_id, value FROM events), " +
        "med AS (SELECT quantile_cont(value, 0.5) AS m FROM v), " +
        "dev AS (SELECT event_id, value, abs(value - med.m) AS dv FROM v, med), " +
        "thr AS (SELECT round(quantile_cont(dv, 0.5) * 3 * 1.4826, 6) AS t FROM dev) " +
        "SELECT event_id, value FROM dev, thr WHERE round(dv, 6) <= thr.t " +
        "ORDER BY event_id"),

    // feature engineering: per-group z-score (exact DECIMAL moments, one
    // grouped pass broadcast back; zero-variance groups yield NULL)
    Q("q_zscore_by_group", (s, d) =>
      Aggregates.zscoreByGroup(
          Tables.events(s, d).select(col("event_id"), col("event_type"),
            col("value")), "event_type", "value")
        .orderBy("event_id"),
      "WITH m AS (SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s, " +
        "CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2 " +
        "FROM events GROUP BY event_type) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "round((e.value - m.s / m.n) / " +
        "sqrt(nullif(m.s2 / m.n - (m.s / m.n) * (m.s / m.n), 0)), 6) AS zscore " +
        "FROM events e JOIN m USING (event_type) ORDER BY event_id"),

    // numeric cleaning: winsorize — clamp value to its exact [p1, p99];
    // keeps every row, bounds tail influence (companion of the MAD gate)
    Q("q_winsorize", (s, d) =>
      Aggregates.winsorize(
          Tables.events(s, d).select(col("event_id"), col("value")), "value")
        .orderBy("event_id"),
      "WITH c AS (SELECT round(quantile_cont(value, 0.01), 6) AS lo, " +
        "round(quantile_cont(value, 0.99), 6) AS hi FROM events) " +
        "SELECT event_id, value, " +
        "round(greatest(c.lo, least(c.hi, round(value, 6))), 6) AS value_w " +
        "FROM events, c ORDER BY event_id"),

    // tumbling-window batch aggregate over event time
    Q("q_window_tumbling", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").alias("w"))
        .agg(count(lit(1)).alias("n"),
          Aggregates.exactSum(col("value"), 6).alias("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
          col("n"), col("sum_value"))
        .orderBy("bucket"),
      "SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, " +
        "count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events GROUP BY 1 ORDER BY 1"),

    // per-group linear trend fit (closed-form moments, one shuffle)
    Q("q_regr_trend", (s, d) =>
      Aggregates.linearFit(Tables.lineitem(s, d), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      // Mirrors Aggregates.linearFit: identical moment identities over exact
      // DECIMAL sums, so the doubles entering the formulas match Spark's
      // bit-for-bit and round(…, 6) is engine-exact.
      "WITH m AS (SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE) AS syy " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, n, " +
        "round((n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0), 6) AS slope, " +
        "round((sy - ((n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0)) * sx) / n, 6) AS intercept, " +
        "round(((n*sxy - sx*sy) * (n*sxy - sx*sy)) / nullif((n*sxx - sx*sx) * (n*syy - sy*sy), 0), 6) AS r2 " +
        "FROM m ORDER BY 1"),

    // time series: hourly resample + forward fill per user
    Q("q_gap_fill", (s, d) =>
      Sessionize.gapFill(Tables.events(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .select(col("user_id"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
          col("value"))
        .orderBy("user_id", "bucket"),
      // Mirrors Sessionize.gapFill: scalar generate_series lists per key,
      // last_value IGNORE NULLS over the same (ts, flag, tie) total order
      // (grid rows tie = BIGINT max, observations their event_id).
      "WITH spans AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0, " +
        "date_trunc('hour', max(ts)) AS t1 FROM events GROUP BY 1), " +
        "grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts, " +
        "CAST(NULL AS DOUBLE) AS v, 1 AS flag, 9223372036854775807 AS tie FROM spans), " +
        "u AS (SELECT user_id, ts AS gts, value AS v, 0 AS flag, event_id AS tie FROM events " +
        "UNION ALL SELECT * FROM grid), " +
        "f AS (SELECT user_id, gts, flag, last_value(v IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY gts, flag, tie ROWS UNBOUNDED PRECEDING) AS fill FROM u) " +
        "SELECT user_id, strftime(gts, '%Y-%m-%d %H:%M:%S') AS bucket, fill AS value " +
        "FROM f WHERE flag = 1 AND fill IS NOT NULL ORDER BY user_id, bucket"),

    // ABC (Pareto) classification: parts ranked by revenue, cumulative
    // share cut at 50%/80%. The running sum is over the DIMENSION-sized
    // per-part aggregate, not the fact table.
    Q("q_abc_analysis", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).alias("__rev"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("__rev").desc, col("l_partkey"))
      val total = rev.agg(sum(col("__rev")).alias("__total"))
      rev.crossJoin(broadcast(total))
        .withColumn("cum_share",
          round((sum(col("__rev")).over(w) / col("__total")).cast("double"), 6))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.5, "A")
            .when(col("cum_share") <= 0.8, "B").otherwise("C"))
        .select(col("l_partkey"), col("__rev").cast("double").alias("revenue"),
          col("cum_share"), col("abc_class"))
        .orderBy(desc("revenue"), col("l_partkey"))
    },
      "WITH rev AS (SELECT l_partkey, " +
        "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS r " +
        "FROM lineitem GROUP BY 1), " +
        "t AS (SELECT SUM(r) AS total FROM rev), " +
        "c AS (SELECT l_partkey, r, " +
        "round(CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey) / t.total AS DOUBLE), 6) " +
        "AS cum_share FROM rev CROSS JOIN t) " +
        "SELECT l_partkey, CAST(r AS DOUBLE) AS revenue, cum_share, " +
        "CASE WHEN cum_share <= 0.5 THEN 'A' WHEN cum_share <= 0.8 THEN 'B' " +
        "ELSE 'C' END AS abc_class " +
        "FROM c ORDER BY revenue DESC, l_partkey"),

    // Market-basket pair affinity: parts co-occurring in an order, with
    // lift vs independence. The self-join is on the order key, so the
    // pair fan-out is bounded by basket size squared — never corpus².
    Q("q_basket_pairs", (s, d) => {
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val nOrders = Tables.lineitem(s, d)
        .agg(countDistinct(col("l_orderkey")).alias("__n"))
      val perPart = items.groupBy(col("l_partkey").alias("__pk"))
        .agg(count(lit(1)).alias("__pn"))
      val i2 = items.select(col("l_orderkey").alias("__ok2"),
        col("l_partkey").alias("p2"))
      val pairs = items
        .join(i2, col("l_orderkey") === col("__ok2") && col("l_partkey") < col("p2"))
        .groupBy(col("l_partkey").alias("p1"), col("p2"))
        .agg(count(lit(1)).alias("pair_n"))
      pairs
        .join(broadcast(perPart), col("p1") === col("__pk"))
        .withColumnRenamed("__pn", "n1").drop("__pk")
        .join(broadcast(perPart), col("p2") === col("__pk"))
        .withColumnRenamed("__pn", "n2").drop("__pk")
        .crossJoin(broadcast(nOrders))
        .withColumn("lift", round(col("pair_n").cast("double") * col("__n")
          / (col("n1") * col("n2")), 6))
        .select("p1", "p2", "pair_n", "lift")
        .orderBy(desc("pair_n"), col("p1"), col("p2"))
        .limit(20)
    },
      "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "n AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem), " +
        "pp AS (SELECT l_partkey, count(*) AS pn FROM items GROUP BY 1), " +
        "pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS pair_n " +
        "FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2) " +
        "SELECT p1, p2, pair_n, " +
        "round(CAST(pair_n AS DOUBLE) * n.n / (p1t.pn * p2t.pn), 6) AS lift " +
        "FROM pr JOIN pp p1t ON p1 = p1t.l_partkey " +
        "JOIN pp p2t ON p2 = p2t.l_partkey CROSS JOIN n " +
        "ORDER BY pair_n DESC, p1, p2 LIMIT 20"),

    // Chi-square independence (ops/Aggregates.chiSquare): market segment
    // vs order priority over the joined star.
    Q("q_chi_square", (s, d) => {
      val j = Tables.orders(s, d).select("o_custkey", "o_orderpriority")
        .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Aggregates.chiSquare(j, "c_mktsegment", "o_orderpriority")
    },
      "WITH j AS (SELECT c_mktsegment AS a, o_orderpriority AS b " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "obs AS (SELECT a, b, count(*) AS o FROM j GROUP BY 1, 2), " +
        "rt AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1), " +
        "ct AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1), " +
        "n AS (SELECT sum(o) AS n FROM obs), " +
        "cells AS (SELECT obs.o, CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) " +
        "/ CAST(n.n AS DOUBLE) AS e, obs.a, obs.b, n.n AS nn " +
        "FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN n) " +
        "SELECT round(CAST(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e " +
        "AS DECIMAL(28,10))) AS DOUBLE) + (CAST(max(nn) AS DOUBLE) - " +
        "CAST(SUM(CAST(e AS DECIMAL(28,10))) AS DOUBLE)), 6) AS chi2, " +
        "(count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof FROM cells"),

    // Exact heavy hitters over the token stream (Aggregates.exactHeavyHitters):
    // Misra-Gries candidates (one scan, O(sketchK) state) → exact rescore of
    // the ≤ sketchK candidates (one scan, literal membership filter) →
    // integer threshold cnt·100 > n. The oracle runs the full-vocabulary
    // GROUP BY ... HAVING this plan avoids shuffling at 100 TB.
    Q("q_heavy_tokens", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).alias("token"))
      graft.ops.Aggregates.exactHeavyHitters(tok, "token", k = 100, sketchK = 400)
        .withColumnRenamed("item", "token")
    },
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "n AS (SELECT count(*) AS n FROM tok), " +
        "c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1) " +
        "SELECT token, cnt FROM c CROSS JOIN n WHERE cnt * 100 > n.n " +
        "ORDER BY cnt DESC, token"),

    // OHLC bars (Sessionize.resampleOhlc): per user, 15-minute
    // open/high/low/close/count/volume — ONE grouped aggregation,
    // open/close as min/max over a (ts, tie, value) struct instead of a
    // per-bucket sort.
    Q("q_resample_ohlc", (s, d) =>
      Sessionize.resampleOhlc(Tables.events(s, d), "user_id", "ts",
          tieCol = "event_id", valCol = "value", bucketMs = 900000L)
        .orderBy("user_id", "bucket_ms"),
      "WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value " +
        "FROM events WHERE value IS NOT NULL), " +
        "b AS (SELECT user_id, ts_ms - ts_ms % 900000 AS bucket_ms, ts_ms, " +
        "event_id, value FROM e), " +
        "w AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket_ms " +
        "ORDER BY ts_ms, event_id) AS ra, " +
        "row_number() OVER (PARTITION BY user_id, bucket_ms " +
        "ORDER BY ts_ms DESC, event_id DESC) AS rd FROM b) " +
        "SELECT user_id, bucket_ms, " +
        "max(CASE WHEN ra = 1 THEN value END) AS open, " +
        "max(value) AS high, min(value) AS low, " +
        "max(CASE WHEN rd = 1 THEN value END) AS close, " +
        "CAST(count(*) AS BIGINT) AS n_events, " +
        "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS volume " +
        "FROM w GROUP BY 1, 2 ORDER BY user_id, bucket_ms"),

    // CUSUM changepoints (Sessionize.cusumChangepoints) on a planted
    // per-user second-half mean shift: the sequential max(0, ·) recursion
    // rewritten as running-sum − running-min — two stacked frames over
    // one key sort, DECIMAL end-to-end so the flag boundary is exact.
    Q("q_cusum_change", (s, d) => {
      val ow = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val cw = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val planted = Tables.events(s, d)
        .withColumn("__rn", row_number().over(ow))
        .withColumn("__cnt", count(lit(1)).over(cw))
        .withColumn("value_drift", col("value") +
          when(col("__rn") * 2 > col("__cnt"), lit(150.0)).otherwise(lit(0.0)))
      Sessionize.cusumChangepoints(planted, "user_id", "ts",
          tieCol = "event_id", valCol = "value_drift", kappa = 0.5, h = 4.0)
        .orderBy("user_id", "event_id")
    },
      "WITH e AS (SELECT user_id, ts, event_id, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS cnt FROM events), " +
        "v AS (SELECT user_id, ts, event_id, value + " +
        "CASE WHEN rn * 2 > cnt THEN 150.0 ELSE 0.0 END AS value_drift " +
        "FROM e WHERE value IS NOT NULL), " +
        "m AS (SELECT user_id, count(*) AS n, " +
        "CAST(sum(CAST(value_drift AS DECIMAL(18,6))) AS DOUBLE) AS s, " +
        "CAST(sum(CAST(value_drift * value_drift AS DECIMAL(18,6))) AS DOUBLE) AS s2 " +
        "FROM v GROUP BY 1), " +
        "mm AS (SELECT user_id, round(s / n, 6) AS mu, " +
        "round(sqrt(greatest(s2 / n - (s / n) * (s / n), 0)), 6) AS sd FROM m), " +
        "c AS (SELECT v.user_id, v.ts, v.event_id, v.value_drift, " +
        "CAST(v.value_drift AS DECIMAL(18,6)) - CAST(mm.mu AS DECIMAL(18,6)) - " +
        "CAST(round(0.5 * mm.sd, 6) AS DECIMAL(18,6)) AS d, " +
        "CAST(round(4.0 * mm.sd, 6) AS DECIMAL(18,6)) AS thr " +
        "FROM v JOIN mm ON v.user_id = mm.user_id), " +
        "p AS (SELECT user_id, ts, event_id, value_drift, thr, " +
        "sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps FROM c), " +
        "q AS (SELECT user_id, event_id, value_drift, thr, ps, " +
        "least(0, min(ps) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mn FROM p) " +
        "SELECT user_id, event_id, value_drift, " +
        "round(CAST(ps - mn AS DOUBLE), 6) AS cusum FROM q " +
        "WHERE ps - mn > thr ORDER BY user_id, event_id"),

    // Trailing-20 EWMA per user (Sessionize.ewmaTrailing): bounded ROWS
    // frame, literal decay-weight ladder shared with the oracle so both
    // engines evaluate the identical IEEE expression.
    Q("q_ewma", (s, d) =>
      Sessionize.ewmaTrailing(Tables.events(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .select("user_id", "event_id", "ewma")
        .orderBy("user_id", "event_id"),
      ewmaOracle),

    // time series: Bollinger bands — rolling mean ± 2sigma envelope with
    // %B, exact-decimal rolling moments, tie-free (ts, event_id) frames.
    Q("q_bollinger", (s, d) =>
      Sessionize.bollinger(Tables.events(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .orderBy("user_id", "event_id"),
      bollingerOracle),

    // time series: MACD momentum — fast/slow windowed EWMAs, signal line,
    // histogram and bull/bear crossover flags on the ewmaTrailing
    // convention (bounded frames, renormalized decay ladder).
    Q("q_macd", (s, d) =>
      Sessionize.macd(Tables.events(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .orderBy("user_id", "event_id"),
      macdOracle),

    // time series: Brown double-exponential smoothing
    // (Sessionize.holtForecast): level/trend split and the 7-step-ahead
    // linear forecast on the q_macd windowed-EWMA convention.
    Q("q_holt_forecast", (s, d) =>
      Sessionize.holtForecast(Tables.events(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .orderBy("user_id", "event_id"),
      holtOracle),

    // Linear-interpolation gap fill (Sessionize.interpolateLinear): the
    // hourly grid of q_gap_fill with interior points blended
    // time-proportionally between surrounding observations.
    Q("q_interpolate", (s, d) =>
      Sessionize.interpolateLinear(Tables.events(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .select(col("user_id"),
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
          col("value"))
        .orderBy("user_id", "bucket"),
      "WITH spans AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0, " +
        "date_trunc('hour', max(ts)) AS t1 FROM events GROUP BY 1), " +
        "grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts, " +
        "CAST(NULL AS DOUBLE) AS v, 1 AS flag, 9223372036854775807 AS tie FROM spans), " +
        "u AS (SELECT user_id, ts AS gts, value AS v, 0 AS flag, event_id AS tie FROM events " +
        "UNION ALL SELECT * FROM grid), " +
        "f AS (SELECT user_id, gts, flag, " +
        "last_value(v IGNORE NULLS) OVER wp AS pv, " +
        "last_value(CASE WHEN flag = 0 THEN epoch_us(gts) END IGNORE NULLS) OVER wp AS pt, " +
        "first_value(v IGNORE NULLS) OVER wn AS nv, " +
        "first_value(CASE WHEN flag = 0 THEN epoch_us(gts) END IGNORE NULLS) OVER wn AS nt, " +
        "epoch_us(gts) AS g FROM u " +
        "WINDOW wp AS (PARTITION BY user_id ORDER BY gts, flag, tie ROWS UNBOUNDED PRECEDING), " +
        "wn AS (PARTITION BY user_id ORDER BY gts, flag, tie " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, strftime(gts, '%Y-%m-%d %H:%M:%S') AS bucket, " +
        "round(CASE WHEN nt IS NULL OR nt = pt THEN pv " +
        "ELSE pv + (nv - pv) * ((g - pt) / (nt - pt)) END, 6) AS value " +
        "FROM f WHERE flag = 1 AND pv IS NOT NULL ORDER BY user_id, bucket"),

    // Two-pass exact percentile (Aggregates.percentileTwoPass): histogram
    // pass pins the order statistics to buckets, a narrow final pass ranks
    // only those buckets — exact quantile_cont without buffering the
    // column (the shape Spark's exact percentile can't take at 100 TB).
    Q("q_percentile_two_pass", (s, d) =>
      graft.ops.Aggregates.percentileTwoPass(
        Tables.lineitem(s, d), "l_extendedprice", 0.9),
      "SELECT CAST(0.9 AS DOUBLE) AS p, " +
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS value FROM lineitem"),

    // Per-source exact heavy hitters (Aggregates.exactHeavyHittersByGroup):
    // grouped Misra-Gries candidates broadcast into one tagging join — the
    // count shuffle carries candidate keys only, never the vocabulary.
    Q("q_heavy_tokens_by_source", (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).alias("token"))
      graft.ops.Aggregates.exactHeavyHittersByGroup(
          tok, "source", "token", k = 50, sketchK = 200)
        .withColumnRenamed("item", "token")
    },
      "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "n AS (SELECT source, count(*) AS n FROM tok GROUP BY 1), " +
        "c AS (SELECT source, token, count(*) AS cnt FROM tok GROUP BY 1, 2) " +
        "SELECT c.source, c.token, c.cnt FROM c JOIN n USING (source) " +
        "WHERE c.cnt * 50 > n.n ORDER BY c.source, c.cnt DESC, c.token"),

    // PSI drift monitor (Aggregates.psiDrift): document-length
    // distribution shift between two deterministic corpus halves over a
    // fixed 10-bin grid — the per-release drift number a dataset card
    // tracks.
    Q("q_psi_drift", (s, d) => {
      val docs = Tables.documents(s, d)
      graft.ops.Aggregates.psiDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        size(split(col("text"), " ")).cast("double"),
        binWidth = 20.0, nBins = 10)
    },
      "WITH ob AS (SELECT least(greatest(CAST(floor(len(string_split(text, ' ')) / 20.0) " +
        "AS INT), 0), 9) AS bin FROM documents WHERE doc_id % 2 = 0), " +
        "nb AS (SELECT least(greatest(CAST(floor(len(string_split(text, ' ')) / 20.0) " +
        "AS INT), 0), 9) AS bin FROM documents WHERE doc_id % 2 = 1), " +
        "g AS (SELECT unnest(generate_series(0, 9)) AS bin), " +
        "co AS (SELECT bin, count(*) AS no FROM ob GROUP BY 1), " +
        "cn AS (SELECT bin, count(*) AS nn FROM nb GROUP BY 1), " +
        "j AS (SELECT g.bin, coalesce(co.no, 0) AS no, coalesce(cn.nn, 0) AS nn " +
        "FROM g LEFT JOIN co USING (bin) LEFT JOIN cn USING (bin)), " +
        "t AS (SELECT CAST(sum(no) AS BIGINT) AS t_o, CAST(sum(nn) AS BIGINT) AS t_n FROM j), " +
        "s AS (SELECT (no + 1.0) / (t.t_o + 10) AS po, (nn + 1.0) / (t.t_n + 10) AS pn " +
        "FROM j CROSS JOIN t) " +
        "SELECT round(CAST(sum(CAST(round((pn - po) * ln(pn / po), 9) AS DECIMAL(28,14))) " +
        "AS DOUBLE), 6) AS psi, count(*) AS n_bins FROM s"),

    // KMV sketch cube (Aggregates.kmvRollup): daily bottom-64 sketches of
    // order custkeys re-merged to MONTH grain without rescanning the base
    // table (bottom-k of union-of-bottom-ks = bottom-k of union); exact
    // distinct rides along as the error audit. The oracle computes each
    // month's bottom-64 directly — equality IS the merge property.
    Q("q_sketch_cube", (s, d) => {
      val k = 64
      val o = Tables.orders(s, d)
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").alias("day"),
          date_format(col("o_orderdate"), "yyyy-MM").alias("month"),
          graft.ops.ScaleDedup.hash32(col("o_custkey").cast("string"), 0).alias("h"))
      val daily = o.groupBy("day", "month")
        .agg(graft.functions.BottomKSketch.bottom_k_sketch(col("h"), k).alias("sk"))
      val monthly = graft.ops.Aggregates.kmvRollup(daily, Seq("month"), "sk", k)
      val exact = o.groupBy("month").agg(countDistinct(col("h")).alias("exact_nd"))
      monthly
        .select(col("month"),
          graft.ops.Aggregates.kmvEstimate(col("sk"), k).alias("est_nd"))
        .join(exact, "month")
        .orderBy("month")
    },
      "WITH h AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month, " +
        "('0x' || substr(md5(o_custkey::VARCHAR || '#0'), 1, 8))::BIGINT AS h " +
        "FROM orders), " +
        "g AS (SELECT month, list_sort(list(h))[1:64] AS sk, " +
        "count(*) AS exact_nd FROM h GROUP BY 1) " +
        "SELECT month, " +
        "CASE WHEN len(sk) < 64 THEN CAST(len(sk) AS DOUBLE) " +
        "ELSE round(63.0 / (CAST(sk[64] AS DOUBLE) / 4294967296.0), 6) END AS est_nd, " +
        "exact_nd FROM g ORDER BY month"),

    // First/last-touch attribution (Sessionize.attribution): every
    // purchase attributed to the first and most recent strictly-
    // preceding non-purchase event type in the user's history; one
    // window, no self-join.
    Q("q_attribution", (s, d) =>
      graft.ops.Sessionize.attribution(Tables.events(s, d), "user_id",
          "ts", "event_id", "event_type", conversionType = "purchase")
        .select(col("user_id"), col("event_id"),
          col("first_touch"), col("last_touch"))
        .orderBy("user_id", "event_id"),
      // Same strictly-preceding frame with IGNORE NULLS on both engines.
      "WITH w AS (SELECT user_id, event_id, event_type, " +
        "first_value(CASE WHEN event_type <> 'purchase' THEN event_type END " +
        "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END " +
        "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch " +
        "FROM events) " +
        "SELECT user_id, event_id, first_touch, last_touch FROM w " +
        "WHERE event_type = 'purchase' ORDER BY user_id, event_id"),

    // Two-proportion z-test (Aggregates.twoProportionZ): did odd users
    // (treatment) reach a purchase at a different rate than even users
    // (control)? Per-user conversion flags from one groupBy, then the
    // one-row pooled-variance readout.
    Q("q_ab_test", (s, d) => {
      val perUser = Tables.events(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .alias("conv"))
      graft.ops.Aggregates.twoProportionZ(perUser,
        col("user_id") % 2 === 1, col("conv") === 1)
    },
      // Same pooled-variance statistic, identical parenthesization.
      "WITH u AS (SELECT user_id, max(CASE WHEN event_type = 'purchase' " +
        "THEN 1 ELSE 0 END) AS conv FROM events GROUP BY 1), " +
        "c AS (SELECT " +
        "CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_a, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(SUM(CASE WHEN user_id % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_b " +
        "FROM u) " +
        "SELECT n_a, x_a, n_b, x_b, " +
        "round(x_a::DOUBLE / n_a::DOUBLE, 6) AS rate_a, " +
        "round(x_b::DOUBLE / n_b::DOUBLE, 6) AS rate_b, " +
        "round(CASE WHEN sqrt(((x_a::DOUBLE + x_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE)) * " +
        "(1.0 - (x_a::DOUBLE + x_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE)) * " +
        "(1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) > 0 THEN " +
        "(x_b::DOUBLE / n_b::DOUBLE - x_a::DOUBLE / n_a::DOUBLE) / " +
        "sqrt(((x_a::DOUBLE + x_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE)) * " +
        "(1.0 - (x_a::DOUBLE + x_b::DOUBLE) / (n_a::DOUBLE + n_b::DOUBLE)) * " +
        "(1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) END, 6) AS z FROM c"),

    // Daily session-quality report (Sessionize.sessionReport): sessions,
    // bounce rate, events/session, mean duration over the same 30-min
    // gap sessionization as q_sessionize_batch.
    Q("q_session_report", (s, d) =>
      graft.ops.Sessionize.sessionReport(Tables.events(s, d), "user_id",
        "ts", "event_id", 30),
      // Same sessionization CTEs; durations sum as exact epoch-ms LONGs
      // before the one pinned double division.
      sessionCtes + ", " +
        "se AS (SELECT user_id, session_seq, count(*) AS n_events, " +
        "min(ts) AS st, max(ts) AS en FROM y GROUP BY 1, 2), " +
        "dd AS (SELECT CAST(st AS DATE) AS day, n_events, " +
        "epoch_ms(en) - epoch_ms(st) AS dur FROM se) " +
        "SELECT day, CAST(count(*) AS BIGINT) AS n_sessions, " +
        "round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS bounce_rate, " +
        "round(CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_events, " +
        "round(CAST(sum(dur) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000.0, 6) AS avg_duration_sec " +
        "FROM dd GROUP BY 1 ORDER BY 1"),

    // Markov entropy rate (Sessionize.markovEntropyRate): how
    // predictable is the next event given the current one — the
    // signal-vs-noise gate over q_event_transitions.
    Q("q_markov_entropy", (s, d) =>
      graft.ops.Sessionize.markovEntropyRate(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type"),
      // Same per-key lead, types-squared transition cells, DECIMAL entropy
      // sum, perplexity off the unrounded rate.
      "WITH e AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt " +
        "FROM events), " +
        "tr AS (SELECT event_type AS prev, nxt, count(*) AS n FROM e " +
        "WHERE nxt IS NOT NULL GROUP BY 1, 2), " +
        "mg AS (SELECT prev, sum(n) AS np FROM tr GROUP BY 1), " +
        "tt AS (SELECT sum(n) AS t FROM tr), " +
        "h AS (SELECT CAST(max(tt.t) AS BIGINT) AS n_transitions, " +
        "CAST(count(DISTINCT tr.prev) AS BIGINT) AS n_states, " +
        "-CAST(sum(CAST(round((CAST(tr.n AS DOUBLE) / CAST(tt.t AS DOUBLE)) * " +
        "ln(CAST(tr.n AS DOUBLE) / CAST(mg.np AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS hh " +
        "FROM tr JOIN mg USING (prev) CROSS JOIN tt) " +
        "SELECT n_transitions, n_states, round(hh, 6) AS entropy_rate, " +
        "round(exp(hh), 6) AS perplexity FROM h"),

    // Gini coefficient of per-customer revenue concentration via the
    // rank-sum identity over the fractional-ranks count table.
    Q("q_gini", (s, d) => {
      val rev = Tables.orders(s, d).groupBy("o_custkey")
        .agg(graft.ops.Aggregates.exactSum(col("o_totalprice"), 2).alias("rev"))
      graft.ops.Stats.giniCoefficient(rev, "rev")
    },
      // Same rank-sum identity over the per-value count table, same
      // DECIMAL(38,8) term sums.
      "WITH rev AS (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS " +
        "DECIMAL(18,2))) AS DOUBLE) AS rev FROM orders GROUP BY 1), " +
        "pv AS (SELECT rev AS value, count(*) AS cnt FROM rev GROUP BY 1), " +
        "r AS (SELECT value, cnt, COALESCE(SUM(cnt) OVER (ORDER BY value " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pv), " +
        "a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, " +
        "SUM(CAST(value * cnt AS DECIMAL(38,8))) AS sx, " +
        "SUM(CAST(value * (CAST(bef AS DOUBLE) + (cnt + 1) / 2.0) * cnt " +
        "AS DECIMAL(38,8))) AS srx FROM r) " +
        "SELECT n, round(CAST(sx AS DOUBLE), 2) AS total, " +
        "round(2.0 * CAST(srx AS DOUBLE) / (n::DOUBLE * CAST(sx AS DOUBLE)) - " +
        "(n::DOUBLE + 1.0) / n::DOUBLE, 6) AS gini FROM a"),

    // Top-20 three-step behavior paths (Sessionize.pathTrigrams): the
    // trigram extension of q_event_transitions' Markov matrix.
    Q("q_path_trigrams", (s, d) =>
      graft.ops.Sessionize.pathTrigrams(Tables.events(s, d), "user_id",
        "ts", "event_id", "event_type", topN = 20),
      // Same two-lead window, same deterministic top-20.
      "WITH w AS (SELECT event_type AS step1, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3 " +
        "FROM events) " +
        "SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n FROM w " +
        "WHERE step2 IS NOT NULL AND step3 IS NOT NULL GROUP BY 1, 2, 3 " +
        "ORDER BY n DESC, step1, step2, step3 LIMIT 20"),

    // Time-constrained funnel (Sessionize.windowFunnel): view → click →
    // purchase with every step inside 7 days of the first view — the
    // q_funnel chain with the ClickHouse window semantics.
    Q("q_window_funnel", (s, d) =>
      graft.ops.Sessionize.windowFunnel(Tables.events(s, d), "user_id",
        "ts", "event_type", Seq("view", "click", "purchase"),
        windowMicros = 604800000000L),
      // Same greedy-earliest chain with the 7-day window from first view.
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events), " +
        "s1 AS (SELECT user_id, min(tus) AS t1 FROM e " +
        "WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, s1.t1, min(tus) AS t2 FROM e " +
        "JOIN s1 ON e.user_id = s1.user_id WHERE event_type = 'click' " +
        "AND tus > s1.t1 AND tus <= s1.t1 + 604800000000 GROUP BY 1, 2), " +
        "s3 AS (SELECT e.user_id, min(tus) AS t3 FROM e " +
        "JOIN s2 ON e.user_id = s2.user_id WHERE event_type = 'purchase' " +
        "AND tus > s2.t2 AND tus <= s2.t1 + 604800000000 GROUP BY 1) " +
        "SELECT depth, step, n_keys FROM (" +
        "SELECT 1 AS depth, 'view' AS step, CAST(count(*) AS BIGINT) AS n_keys FROM s1 " +
        "UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3) " +
        "ORDER BY depth"),

    // Exact per-group mode (Aggregates.groupMode): most frequent lang per
    // source, smallest-value tie-break.
    Q("q_group_mode", (s, d) =>
      Aggregates.groupMode(Tables.documents(s, d), "source", "lang"),
      "WITH c AS (SELECT source, lang AS mode_value, count(*) AS mode_count " +
        "FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY source " +
        "ORDER BY mode_count DESC, mode_value) AS rn FROM c) " +
        "SELECT source, mode_value, mode_count FROM r WHERE rn = 1 " +
        "ORDER BY source"),

    // Eventually-follows pairs (Sessionize.followsPairs): which event
    // type's first occurrence precedes which, per user, with support.
    Q("q_follows_pairs", (s, d) =>
      Sessionize.followsPairs(Tables.events(s, d), "user_id", "ts",
        "event_type"),
      "WITH f AS (SELECT user_id, event_type AS t, min(ts) AS ts " +
        "FROM events GROUP BY 1, 2), " +
        "n AS (SELECT count(DISTINCT user_id) AS n FROM events), " +
        "p AS (SELECT fa.t AS a, fb.t AS b FROM f fa " +
        "JOIN f fb ON fa.user_id = fb.user_id AND fa.ts < fb.ts) " +
        "SELECT a, b, count(*) AS support, " +
        "round(CAST(count(*) AS DOUBLE) / CAST(n.n AS DOUBLE), 6) " +
        "AS support_ratio FROM p CROSS JOIN n GROUP BY a, b, n.n " +
        "ORDER BY support DESC, a, b"),

    // Deterministic HyperLogLog (Aggregates.hllDistinct, p=8): distinct
    // users per event type from 256 md5-draw registers — the mergeable
    // sketch beside the exact count it approximates.
    Q("q_hll_distinct", (s, d) =>
      Aggregates.hllDistinct(Tables.events(s, d), "event_type",
        col("user_id"), p = 8),
      hllOracle),

    // HLL mergeability (Aggregates.hllRollup): per-(type, day) register
    // tables max-merged to per-type and estimated — must equal the
    // direct q_hll_distinct numbers (max is associative).
    Q("q_hll_rollup", (s, d) => {
      val fine = Aggregates.hllRegisters(
        Tables.events(s, d).withColumn("__day", to_date(col("ts"))),
        Seq("event_type", "__day"), col("user_id"), p = 8)
      Aggregates.hllEstimate(
        Aggregates.hllRollup(fine, Seq("event_type")),
        Seq("event_type"), p = 8).orderBy("event_type")
    },
      hllRollupOracle),

    // Exact trailing-7-day active users per day (Aggregates
    // .rollingDistinct): the WAU curve via dedup-then-fan-out, not a
    // range join.
    Q("q_rolling_distinct", (s, d) =>
      Aggregates.rollingDistinct(Tables.events(s, d), col("ts"),
        col("user_id"), windowDays = 7),
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "days AS (SELECT DISTINCT d AS window_end FROM du) " +
        "SELECT e.window_end, count(DISTINCT du.u) AS active_7d " +
        "FROM days e JOIN du ON du.d <= e.window_end " +
        "AND du.d > e.window_end - 7 GROUP BY 1 ORDER BY 1"),

    // Peak concurrent sessions per day (Sessionize.peakConcurrency):
    // 30-min-gap sessions swept as +1/−1 deltas.
    Q("q_concurrency", (s, d) =>
      Sessionize.peakConcurrency(Tables.events(s, d), "user_id", "ts",
        "event_id", gapMinutes = 30),
      // Same sessionize CTE as q_sessionize_batch (30-min gap, event_id
      // tie), then the +1/−1 sweep; the RANGE frame nets same-instant
      // transitions on both engines.
      sessionCtes + ", " +
        "ss AS (SELECT user_id, session_seq, min(ts) AS s, max(ts) AS e " +
        "FROM y GROUP BY 1, 2), " +
        "dl AS (SELECT s AS t, CAST(1 AS BIGINT) AS delta FROM ss " +
        "UNION ALL SELECT e AS t, CAST(-1 AS BIGINT) AS delta FROM ss), " +
        "r AS (SELECT t, CAST(sum(delta) OVER (ORDER BY t " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run " +
        "FROM dl) " +
        "SELECT CAST(t AS DATE) AS d, max(run) AS peak_concurrent " +
        "FROM r GROUP BY 1 ORDER BY 1"),

    // Event-time lateness profile (Sessionize.latenessProfile): how
    // out-of-order events arrive per user, by ingest order — the
    // measured watermark-delay recommendation.
    Q("q_lateness_profile", (s, d) =>
      Sessionize.latenessProfile(Tables.events(s, d), "user_id", "ts",
        "event_id"),
      "WITH l AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, " +
        "max(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax " +
        "FROM events), " +
        "f AS (SELECT greatest(CAST(0 AS BIGINT), prevmax - ms) AS late " +
        "FROM l WHERE prevmax IS NOT NULL) " +
        "SELECT count(*) AS n_events, " +
        "CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late, " +
        "max(late) AS max_lateness_ms, " +
        "round(quantile_cont(late, 0.5), 3) AS p50_lateness_ms, " +
        "round(quantile_cont(late, 0.95), 3) AS p95_lateness_ms, " +
        "round(quantile_cont(late, 0.99), 3) AS p99_lateness_ms FROM f"),

    // Interval union (Sessionize.intervalUnion): per-supplier 7-day
    // shipping windows merged to de-overlapped coverage.
    Q("q_interval_union", (s, d) => {
      val start = unix_millis(col("l_shipdate"))
      Sessionize.intervalUnion(Tables.lineitem(s, d), "l_suppkey",
        start, start + lit(604800000L))
    },
      "WITH b AS (SELECT DISTINCT l_suppkey AS k, epoch_ms(l_shipdate) AS s, " +
        "epoch_ms(l_shipdate) + 604800000 AS e FROM lineitem " +
        "WHERE l_shipdate IS NOT NULL), " +
        "g AS (SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM b), " +
        "f AS (SELECT k, s, e, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END " +
        "AS nw FROM g), " +
        "h AS (SELECT k, s, e, CAST(SUM(nw) OVER (PARTITION BY k " +
        "ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp FROM f), " +
        "m AS (SELECT k, grp, min(s) AS gs, max(e) AS ge FROM h GROUP BY 1, 2) " +
        "SELECT k AS l_suppkey, count(*) AS n_merged, " +
        "CAST(SUM(ge - gs) AS BIGINT) AS covered_ms FROM m " +
        "GROUP BY 1 ORDER BY 1"),

    // Daily growth accounting (Aggregates.growthAccounting): DAU split
    // into new / retained / resurrected, churn reported next-day.
    Q("q_growth_accounting", (s, d) =>
      Aggregates.growthAccounting(Tables.events(s, d), col("ts"),
        col("user_id")),
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "fs AS (SELECT u, min(d) AS fd FROM du GROUP BY 1), " +
        "p AS (SELECT d + 1 AS d, u, 1 AS was FROM du), " +
        "t AS (SELECT du.d, count(*) AS dau, " +
        "CAST(SUM(CASE WHEN fs.fd = du.d THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
        "CAST(SUM(CASE WHEN p.was = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, " +
        "CAST(SUM(CASE WHEN fs.fd < du.d AND p.was IS NULL THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_resurrected FROM du " +
        "JOIN fs ON fs.u = du.u " +
        "LEFT JOIN p ON p.d = du.d AND p.u = du.u GROUP BY 1), " +
        "c AS (SELECT y.d + 1 AS d, count(*) AS n_churned FROM du y " +
        "WHERE NOT EXISTS (SELECT 1 FROM du t2 WHERE t2.u = y.u " +
        "AND t2.d = y.d + 1) GROUP BY 1) " +
        "SELECT t.d, t.dau, t.n_new, t.n_retained, t.n_resurrected, " +
        "COALESCE(c.n_churned, 0) AS n_churned FROM t " +
        "LEFT JOIN c USING (d) ORDER BY t.d"),

    // Order consistency (Sessionize.orderConsistency): how
    // one-directional each eventually-follows pair really is.
    Q("q_order_consistency", (s, d) =>
      Sessionize.orderConsistency(Tables.events(s, d), "user_id", "ts",
        "event_type"),
      "WITH f AS (SELECT user_id, event_type AS t, min(ts) AS ts " +
        "FROM events GROUP BY 1, 2), " +
        "p AS (SELECT least(fa.t, fb.t) AS x, greatest(fa.t, fb.t) AS y, " +
        "CASE WHEN fa.t < fb.t THEN 1 ELSE 0 END AS fwd FROM f fa " +
        "JOIN f fb ON fa.user_id = fb.user_id AND fa.ts < fb.ts), " +
        "g AS (SELECT x, y, CAST(SUM(fwd) AS BIGINT) AS n_xy, " +
        "CAST(count(*) - SUM(fwd) AS BIGINT) AS n_yx FROM p GROUP BY 1, 2) " +
        "SELECT x, y, n_xy, n_yx, " +
        "round(CAST(greatest(n_xy, n_yx) AS DOUBLE) / " +
        "CAST(n_xy + n_yx AS DOUBLE), 6) AS consistency FROM g " +
        "ORDER BY n_xy + n_yx DESC, x, y"),

    // Goh-Barabási burstiness (Sessionize.burstiness) of within-day
    // inter-arrival gaps per event type.
    Q("q_burstiness", (s, d) =>
      Sessionize.burstiness(Tables.events(s, d), "event_type", "ts",
        "event_id"),
      "WITH g AS (SELECT event_type, CAST(epoch_ms(ts) - " +
        "epoch_ms(lag(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE) " +
        "ORDER BY ts, event_id)) AS DOUBLE) AS gp FROM events), " +
        "a AS (SELECT event_type, count(*) AS n_gaps, " +
        "SUM(CAST(gp AS DECIMAL(28,8))) AS s, " +
        "SUM(CAST(gp * gp AS DECIMAL(28,8))) AS s2 FROM g " +
        "WHERE gp IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT event_type, n_gaps, " +
        "CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu, " +
        "sqrt(CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE) - " +
        "(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * " +
        "(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))) AS sd FROM a) " +
        "SELECT event_type, n_gaps, round(mu, 3) AS mean_gap_ms, " +
        "round(sd, 3) AS sd_gap_ms, " +
        "round((sd - mu) / (sd + mu), 6) AS burstiness FROM m ORDER BY 1"),

    // Per-user feature assembly (Sessionize.userFeatures): the
    // churn/LTV feature-store readout.
    Q("q_user_features", (s, d) =>
      Sessionize.userFeatures(Tables.events(s, d), "user_id", "ts",
        "event_type", "value", purchaseType = "purchase"),
      "WITH h AS (SELECT max(CAST(ts AS DATE)) AS hd FROM events), " +
        "g AS (SELECT user_id, count(*) AS n_events, " +
        "count(DISTINCT CAST(ts AS DATE)) AS n_active_days, " +
        "min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE)) AS ld, " +
        "SUM(CAST(value AS DECIMAL(28,8))) AS sv, " +
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_purchases FROM events " +
        "WHERE user_id IS NOT NULL GROUP BY 1) " +
        "SELECT user_id, n_events, n_active_days, " +
        "CAST(ld - fd AS BIGINT) AS tenure_days, " +
        "CAST(h.hd - ld AS BIGINT) AS recency_days, " +
        "round(CAST(sv AS DOUBLE) / CAST(n_events AS DOUBLE), 6) AS avg_value, " +
        "n_purchases, " +
        "round(CAST(n_purchases AS DOUBLE) / CAST(n_events AS DOUBLE), 6) " +
        "AS purchase_share FROM g CROSS JOIN h ORDER BY user_id"),

    // Eventually-follows lags (Sessionize.followsLag): median/p90 delay
    // between first occurrences per precedence pair.
    Q("q_follows_lag", (s, d) =>
      Sessionize.followsLag(Tables.events(s, d), "user_id", "ts",
        "event_type"),
      "WITH f AS (SELECT user_id, event_type AS t, min(ts) AS ts " +
        "FROM events GROUP BY 1, 2), " +
        "p AS (SELECT fa.t AS a, fb.t AS b, " +
        "epoch_ms(fb.ts) - epoch_ms(fa.ts) AS lag_ms FROM f fa " +
        "JOIN f fb ON fa.user_id = fb.user_id AND fa.ts < fb.ts) " +
        "SELECT a, b, count(*) AS support, " +
        "round(quantile_cont(lag_ms, 0.5), 3) AS p50_lag_ms, " +
        "round(quantile_cont(lag_ms, 0.9), 3) AS p90_lag_ms " +
        "FROM p GROUP BY 1, 2 ORDER BY support DESC, a, b"),

    // Inter-event gap bands (Sessionize.gapProfile): the histogram that
    // justifies the 30-min sessionization threshold.
    Q("q_gap_profile", (s, d) =>
      Sessionize.gapProfile(Tables.events(s, d), "user_id", "ts",
        "event_id"),
      "WITH g AS (SELECT (epoch_ms(ts) - epoch_ms(lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id))) / 1000 AS gap_s " +
        "FROM events), " +
        "b AS (SELECT CASE WHEN gap_s < 60 THEN 0 WHEN gap_s < 300 THEN 1 " +
        "WHEN gap_s < 1800 THEN 2 WHEN gap_s < 7200 THEN 3 ELSE 4 END AS band " +
        "FROM g WHERE gap_s IS NOT NULL), " +
        "t AS (SELECT count(*) AS n FROM b) " +
        "SELECT CAST(band AS BIGINT) AS band, " +
        "['lt_1m', '1m_5m', '5m_30m', '30m_2h', 'ge_2h'][band + 1] AS band_label, " +
        "count(*) AS n_gaps, " +
        "round(CAST(count(*) AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS share " +
        "FROM b CROSS JOIN t GROUP BY band, t.n ORDER BY band"),

    // DAU/WAU stickiness: daily actives over the trailing-7-day actives
    // (composition of the two distinct curves).
    Q("q_stickiness", (s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev.filter(col("user_id").isNotNull)
        .select(to_date(col("ts")).alias("window_end"), col("user_id"))
        .distinct()
        .groupBy("window_end").agg(countDistinct("user_id").alias("dau"))
      val wau = Aggregates.rollingDistinct(ev, col("ts"), col("user_id"), 7)
      daily.join(wau, "window_end")
        .select(col("window_end").alias("d"), col("dau"),
          col("active_7d").alias("wau"),
          round(col("dau").cast("double") / col("active_7d").cast("double"),
            6).alias("stickiness"))
        .orderBy("d")
    },
      "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "daily AS (SELECT d, count(DISTINCT u) AS dau FROM du GROUP BY 1), " +
        "days AS (SELECT DISTINCT d AS window_end FROM du), " +
        "wau AS (SELECT e.window_end, count(DISTINCT du.u) AS wau " +
        "FROM days e JOIN du ON du.d <= e.window_end " +
        "AND du.d > e.window_end - 7 GROUP BY 1) " +
        "SELECT daily.d, daily.dau, wau.wau, " +
        "round(CAST(daily.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6) " +
        "AS stickiness FROM daily JOIN wau ON wau.window_end = daily.d " +
        "ORDER BY daily.d"),
  )

  /** The 30-minute sessionization CTEs: `x` flags session breaks over
    * the per-user WINDOW w, `y` numbers sessions (session_seq). */
  private def sessionCtes: String =
    "WITH x AS (SELECT user_id, ts, event_id, " +
      "CASE WHEN lag(ts) OVER w IS NULL " +
      "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS brk " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "y AS (SELECT user_id, ts, CAST(sum(brk) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq " +
      "FROM x)"

  /** Mirror of Sessionize.ewmaTrailing (decay 0.9, lookback 20): the
    * same newest-first frame list and the same left-associated weighted
    * sums, with the weight ladder injected as the IDENTICAL IEEE double
    * literals the Spark side uses (Sessionize.ewmaWeights). */
  private def ewmaOracle: String = {
    val weights = Sessionize.ewmaWeights(0.9, 20)
    val num = weights.zipWithIndex.map { case (wj, j) =>
      s"(CASE WHEN len(r) > $j THEN r[${j + 1}] * $wj ELSE 0.0 END)"
    }.mkString(" + ")
    val den = weights.zipWithIndex.map { case (wj, j) =>
      s"(CASE WHEN len(r) > $j THEN $wj ELSE 0.0 END)"
    }.mkString(" + ")
    "WITH f AS (SELECT user_id, event_id, list_reverse(list(value) OVER (" +
      "PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS r " +
      "FROM events WHERE value IS NOT NULL) " +
      s"SELECT user_id, event_id, round(($num) / ($den), 6) AS ewma " +
      "FROM f ORDER BY user_id, event_id"
  }

  /** Mirrors Sessionize.bollinger (n=20, k=2): same DECIMAL(18,6) rolling
    * sums, population sigma clamped at 0, mean ± 2sigma bands and %B off
    * the UNROUNDED mean/sigma, every readout round(x,6)+0.0. */
  private def bollingerOracle: String =
    "WITH x AS (SELECT user_id, event_id, value, count(*) OVER w AS c, " +
      "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sm, " +
      "CAST(sum(CAST(value * value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2 " +
      "FROM events WHERE value IS NOT NULL " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
      "y AS (SELECT user_id, event_id, value, c, sm / c AS mean, " +
      "sqrt(greatest(s2 / c - (sm / c) * (sm / c), 0.0)) AS sd FROM x) " +
      "SELECT user_id, event_id, value, CAST(c AS BIGINT) AS n_win, " +
      "round(mean, 6) + 0.0 AS sma, round(sd, 6) + 0.0 AS sd, " +
      "round(mean + 2.0 * sd, 6) + 0.0 AS upper, " +
      "round(mean - 2.0 * sd, 6) + 0.0 AS lower, " +
      "CASE WHEN sd > 0 THEN round((value - (mean - 2.0 * sd)) / " +
      "((mean + 2.0 * sd) - (mean - 2.0 * sd)), 6) + 0.0 END AS pctb " +
      "FROM y ORDER BY user_id, event_id"

  /** Mirrors Sessionize.macd (spans 6/13/5, lookback 20): the engine's own
    * ewmaWeights ladders interpolated as literals (identical IEEE doubles
    * on both sides), two EWMA readouts off the reversed value frame, the
    * signal EWMA off the reversed macd frame, +0.0 after every round
    * (differences go negative → signed-zero class), crossovers via lag. */
  private def macdOracle: String = {
    def chain(r: String, weights: Array[Double]): (String, String) = {
      val num = weights.zipWithIndex.map { case (wj, j) =>
        s"(CASE WHEN len($r) > $j THEN $r[${j + 1}] * $wj ELSE 0.0 END)"
      }.mkString(" + ")
      val den = weights.zipWithIndex.map { case (wj, j) =>
        s"(CASE WHEN len($r) > $j THEN $wj ELSE 0.0 END)"
      }.mkString(" + ")
      (num, den)
    }
    def decay(span: Int) = 1.0 - 2.0 / (span + 1.0)
    val (nf, df) = chain("r", Sessionize.ewmaWeights(decay(6), 20))
    val (ns, ds) = chain("r", Sessionize.ewmaWeights(decay(13), 20))
    val (ng, dg) = chain("rm", Sessionize.ewmaWeights(decay(5), 20))
    "WITH f AS (SELECT user_id, event_id, ts, value, " +
      "list_reverse(list(value) OVER w) AS r FROM events " +
      "WHERE value IS NOT NULL " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
      s"m AS (SELECT user_id, event_id, ts, value, " +
      s"round(($nf) / ($df), 6) + 0.0 AS ema_fast, " +
      s"round(($ns) / ($ds), 6) + 0.0 AS ema_slow FROM f), " +
      "m2 AS (SELECT *, round(ema_fast - ema_slow, 6) + 0.0 AS macd FROM m), " +
      "g AS (SELECT *, list_reverse(list(macd) OVER w2) AS rm FROM m2 " +
      "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
      s"h AS (SELECT user_id, event_id, ts, value, ema_fast, ema_slow, macd, " +
      s"round(($ng) / ($dg), 6) + 0.0 AS signal FROM g), " +
      "h2 AS (SELECT *, round(macd - signal, 6) + 0.0 AS hist FROM h), " +
      "h3 AS (SELECT *, lag(hist) OVER (PARTITION BY user_id " +
      "ORDER BY ts, event_id) AS ph FROM h2) " +
      "SELECT user_id, event_id, value, ema_fast, ema_slow, macd, signal, hist, " +
      "CASE WHEN ph IS NOT NULL AND ph <= 0 AND hist > 0 THEN 'bull' " +
      "WHEN ph IS NOT NULL AND ph >= 0 AND hist < 0 THEN 'bear' END AS cross_flag " +
      "FROM h3 ORDER BY user_id, event_id"
  }

  /** Mirrors Sessionize.holtForecast (alpha 0.3, lookback 20, horizon
    * 7): the engine's own ewmaWeights ladder interpolated as literals,
    * s1 rounded to 6 dp before the second smoothing window (both
    * engines smooth the identical series), and the alpha/(1-alpha)
    * slope factor interpolated from the SAME Scala double. */
  private def holtOracle: String = {
    def chain(r: String, weights: Array[Double]): (String, String) = {
      val num = weights.zipWithIndex.map { case (wj, j) =>
        s"(CASE WHEN len($r) > $j THEN $r[${j + 1}] * $wj ELSE 0.0 END)"
      }.mkString(" + ")
      val den = weights.zipWithIndex.map { case (wj, j) =>
        s"(CASE WHEN len($r) > $j THEN $wj ELSE 0.0 END)"
      }.mkString(" + ")
      (num, den)
    }
    val (n1, d1) = chain("r", Sessionize.ewmaWeights(0.7, 20))
    val (n2, d2) = chain("r2", Sessionize.ewmaWeights(0.7, 20))
    val slope = 0.3 / 0.7
    "WITH f AS (SELECT user_id, event_id, ts, value, " +
      "list_reverse(list(value) OVER w) AS r FROM events " +
      "WHERE value IS NOT NULL " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
      s"m AS (SELECT user_id, event_id, ts, value, " +
      s"round(($n1) / ($d1), 6) + 0.0 AS s1 FROM f), " +
      "g AS (SELECT *, list_reverse(list(s1) OVER w2) AS r2 FROM m " +
      "WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
      s"h AS (SELECT user_id, event_id, value, s1, " +
      s"round(($n2) / ($d2), 6) + 0.0 AS s2 FROM g) " +
      "SELECT user_id, event_id, value, s1, s2, " +
      "round(2.0 * s1 - s2, 6) + 0.0 AS level, " +
      s"round($slope * (s1 - s2), 6) + 0.0 AS trend, " +
      s"round(2.0 * s1 - s2 + 7.0 * ($slope * (s1 - s2)), 6) + 0.0 " +
      "AS forecast_7 FROM h ORDER BY user_id, event_id"
  }

  /** Mirror of q_hll_rollup: [[hllOracle]] with a (type, day) register
    * level max-merged to per-type before estimating — the associativity
    * the rollup relies on, exercised rather than assumed. */
  private def hllRollupOracle: String =
    "WITH h AS MATERIALIZED (SELECT event_type, CAST(ts AS DATE) AS d, " +
      "md5(CAST(user_id AS VARCHAR)) AS hex FROM events " +
      "WHERE user_id IS NOT NULL), " +
      "rr AS (SELECT event_type, d, ('0x' || substr(hex, 1, 2))::BIGINT AS j, " +
      "substr(hex, 3, 10) AS rest, ltrim(substr(hex, 3, 10), '0') AS strip " +
      "FROM h), " +
      "rho AS (SELECT event_type, d, j, CASE WHEN strip = '' THEN 41 ELSE " +
      "(length(rest) - length(strip)) * 4 + " +
      "CASE WHEN substr(strip, 1, 1) = '1' THEN 3 " +
      "WHEN substr(strip, 1, 1) IN ('2', '3') THEN 2 " +
      "WHEN substr(strip, 1, 1) IN ('4', '5', '6', '7') THEN 1 " +
      "ELSE 0 END + 1 END AS rho FROM rr), " +
      "regs_fine AS (SELECT event_type, d, j, max(rho) AS mj " +
      "FROM rho GROUP BY 1, 2, 3), " +
      "regs AS (SELECT event_type, j, max(mj) AS mj FROM regs_fine " +
      "GROUP BY 1, 2), " +
      "pg AS (SELECT event_type, " +
      "SUM(CAST(power(2, 41 - mj) AS BIGINT)) AS sp, count(*) AS np " +
      "FROM regs GROUP BY 1), " +
      "est AS (SELECT event_type, " +
      "(0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * 2199023255552.0 / " +
      "CAST(sp + (256 - np) * 2199023255552 AS DOUBLE) AS raw, " +
      "256 - np AS v FROM pg) " +
      "SELECT event_type, round(CASE WHEN v > 0 AND raw <= 640.0 " +
      "THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE raw END, 4) " +
      "AS hll_distinct FROM est ORDER BY event_type"

  /** Mirror of q_hll_distinct (p=8, m=256): the identical hex-string
    * register/rho computation — bucket = first 2 md5 hex chars, rho from
    * leading zeros of the remaining 10 (4·zero-chars + a CASE on the
    * first non-zero digit) — the exact-integer Σ 2^(41−M_j) harmonic
    * sum, and the same fixed-parenthesization α·m²·2^41/S division with
    * linear-counting correction. 2199023255552 = 2^41. */
  private def hllOracle: String =
    "WITH h AS MATERIALIZED (SELECT event_type, " +
      "md5(CAST(user_id AS VARCHAR)) AS hex FROM events " +
      "WHERE user_id IS NOT NULL), " +
      "rr AS (SELECT event_type, ('0x' || substr(hex, 1, 2))::BIGINT AS j, " +
      "substr(hex, 3, 10) AS rest, ltrim(substr(hex, 3, 10), '0') AS strip " +
      "FROM h), " +
      "rho AS (SELECT event_type, j, CASE WHEN strip = '' THEN 41 ELSE " +
      "(length(rest) - length(strip)) * 4 + " +
      "CASE WHEN substr(strip, 1, 1) = '1' THEN 3 " +
      "WHEN substr(strip, 1, 1) IN ('2', '3') THEN 2 " +
      "WHEN substr(strip, 1, 1) IN ('4', '5', '6', '7') THEN 1 " +
      "ELSE 0 END + 1 END AS rho FROM rr), " +
      "regs AS (SELECT event_type, j, max(rho) AS mj FROM rho GROUP BY 1, 2), " +
      "pg AS (SELECT event_type, " +
      "SUM(CAST(power(2, 41 - mj) AS BIGINT)) AS sp, count(*) AS np " +
      "FROM regs GROUP BY 1), " +
      "est AS (SELECT event_type, " +
      "(0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * 2199023255552.0 / " +
      "CAST(sp + (256 - np) * 2199023255552 AS DOUBLE) AS raw, " +
      "256 - np AS v FROM pg) " +
      "SELECT event_type, round(CASE WHEN v > 0 AND raw <= 640.0 " +
      "THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE)) ELSE raw END, 4) " +
      "AS hll_distinct FROM est ORDER BY event_type"
}

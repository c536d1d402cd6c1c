package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._

/** The paper's own ETL operator inventory (challenge2.py:21-281):
  * projection and filter predicates, regex extraction and replacement,
  * keep-first dedup and null profiling, money/date/number parsing and
  * coercion, joins, set operations, and the ratings pivot chain
  * (ops Filters, Dedup, Cleaning, DatesNums, TextParse, Joins). */
object EtlQueries {
  val all: Seq[Q] = Seq(
    // A5 — parquet scan + projection
    Q("q_scan_project", (s, d) =>
      Filters.project(Tables.region(s, d), Seq("r_regionkey", "r_name"))
        .orderBy("r_regionkey"),
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    // B1/B6 — existence predicate + inequality
    Q("q_filter_exists", (s, d) =>
      Filters.existence(Tables.documents(s, d), Seq("text", "lang"))
        .filter(col("source") =!= "src0")
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      "SELECT doc_id, lang, source FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL AND source <> 'src0' ORDER BY doc_id"),

    // B2/B8/B9 — projection + rename
    Q("q_project_rename", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey").alias("order_id"),
          col("l_linenumber").alias("line_no"),
          col("l_quantity").alias("qty"))
        .orderBy("order_id", "line_no"),
      "SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty " +
        "FROM lineitem ORDER BY order_id, line_no"),

    // B3 — membership predicate
    Q("q_filter_in", (s, d) =>
      Filters.membership(Tables.customer(s, d), "c_mktsegment",
        Seq("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment").orderBy("c_custkey"),
      "SELECT c_custkey, c_name, c_mktsegment FROM customer " +
        "WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') ORDER BY c_custkey"),

    // B4 — compound range predicate (timestamp + numeric)
    Q("q_filter_range", (s, d) =>
      Filters.range(Tables.orders(s, d),
        col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")) &&
          col("o_totalprice") > 1000)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").alias("o_date"),
          col("o_totalprice"))
        .orderBy("o_orderkey"),
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_totalprice FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "AND o_totalprice > 1000 ORDER BY o_orderkey"),

    // B5 — negated regex masks
    Q("q_filter_not_rlike", (s, d) =>
      Filters.matchesNeither(Tables.part(s, d), "p_name", Seq("widget", "^blue"))
        .select("p_partkey", "p_name").orderBy("p_partkey"),
      "SELECT p_partkey, p_name FROM part " +
        "WHERE NOT regexp_matches(p_name, 'widget') AND NOT regexp_matches(p_name, '^blue') " +
        "ORDER BY p_partkey"),

    // C1/D3 — regex key extraction, str.extract null semantics (J5)
    Q("q_regex_extract", (s, d) =>
      Dedup.extractKey(Tables.events(s, d), "props", "k", "\"k\": (\\d+)")
        .select("event_id", "k").orderBy("event_id"),
      "SELECT event_id, nullif(regexp_extract(props, '\"k\": (\\d+)', 1), '') AS k " +
        "FROM events ORDER BY event_id"),

    // C2/J1 — keep-FIRST dedup. The order columns form a unique key
    // ((l_orderkey, l_linenumber) alone is NOT unique in the fixture), so
    // "first" is well-defined (J1). Aggregation form: map-side partial
    // combine ships ≤1 row per key per task instead of window-sorting
    // every row.
    Q("q_dedup_keep_first", (s, d) =>
      Dedup.keepFirstAgg(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        Seq("l_orderkey"), Seq("l_linenumber", "l_partkey", "l_suppkey"))
        .select("l_orderkey", "l_linenumber", "l_partkey").orderBy("l_orderkey"),
      "SELECT l_orderkey, l_linenumber, l_partkey FROM " +
        "(SELECT l_orderkey, l_linenumber, l_partkey, " +
        "row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn FROM lineitem) " +
        "WHERE rn = 1 ORDER BY l_orderkey"),

    // C3 — single-pass per-column null profile
    Q("q_null_profile", (s, d) =>
      Dedup.nullProfile(Tables.documents(s, d),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      "SELECT count(CASE WHEN doc_id IS NULL THEN 1 END) AS null_doc_id, " +
        "count(CASE WHEN text IS NULL THEN 1 END) AS null_text, " +
        "count(CASE WHEN lang IS NULL THEN 1 END) AS null_lang, " +
        "count(CASE WHEN source IS NULL THEN 1 END) AS null_source, " +
        "count(CASE WHEN n_chars IS NULL THEN 1 END) AS null_n_chars FROM documents"),

    // C5 — exact distinct-count profile
    Q("q_distinct_profile", (s, d) =>
      Dedup.distinctProfile(Tables.orders(s, d),
        Seq("o_orderstatus", "o_orderpriority")),
      "SELECT count(DISTINCT o_orderstatus) AS d_o_orderstatus, " +
        "count(DISTINCT o_orderpriority) AS d_o_orderpriority FROM orders"),

    // D1 — case-insensitive regex contains
    Q("q_regex_contains_count", (s, d) =>
      Tables.part(s, d).filter(TextParse.containsI(col("p_name"), "^b"))
        .agg(count(lit(1)).alias("n_match")),
      "SELECT count(*) AS n_match FROM part WHERE regexp_matches(p_name, '(?i)^b')"),

    // D2 — regex replace
    Q("q_regex_replace", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(substring(col("text"), 1, 60), "[aeiou]", "*").alias("redacted"))
        .orderBy("doc_id"),
      "SELECT doc_id, regexp_replace(substr(text, 1, 60), '[aeiou]', '*', 'g') AS redacted " +
        "FROM documents ORDER BY doc_id"),

    // D6 — parse_dollars over synthesized money strings
    Q("q_parse_dollars", (s, d) => {
      val sz = col("p_size")
      val raw = when(sz % 3 === 0, concat(lit("$"), sz.cast("string"), lit(" million")))
        .when(sz % 3 === 1, concat(lit("$"), sz.cast("string"), lit(".5 billion")))
        .otherwise(concat(lit("$"), (sz * 1000).cast("string")))
      Tables.part(s, d).select(col("p_partkey"), raw.alias("raw"))
        .withColumn("amount", TextParse.parseDollars(col("raw")))
        .orderBy("p_partkey")
    },
      parseDollarsOracle),

    // D6 as a native Catalyst Expression (codegen'd) — same oracle as the
    // when-chain version; one regex pass per pattern instead of
    // rlike+regexp_extract double evaluation.
    Q("q_parse_dollars_native", (s, d) => {
      val sz = col("p_size")
      val raw = when(sz % 3 === 0, concat(lit("$"), sz.cast("string"), lit(" million")))
        .when(sz % 3 === 1, concat(lit("$"), sz.cast("string"), lit(".5 billion")))
        .otherwise(concat(lit("$"), (sz * 1000).cast("string")))
      Tables.part(s, d).select(col("p_partkey"), raw.alias("raw"))
        .withColumn("amount", graft.functions.GraftFunctions.parse_dollars(col("raw")))
        .orderBy("p_partkey")
    },
      parseDollarsOracle),

    // E1 — multi-format date parse via to_date coalesce
    Q("q_date_multiformat", (s, d) => {
      val k = col("o_orderkey") % 4
      val raw = when(k === 0, date_format(col("o_orderdate"), "MMMM d, yyyy"))
        .when(k === 1, date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .when(k === 2, date_format(col("o_orderdate"), "MMMM yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy"))
      Tables.orders(s, d).select(col("o_orderkey"), raw.alias("raw"))
        .withColumn("parsed", DatesNums.parseDateMulti(col("raw")))
        .orderBy("o_orderkey")
    },
      "WITH t AS (SELECT o_orderkey, CASE CAST(o_orderkey % 4 AS INT) " +
        "WHEN 0 THEN strftime(o_orderdate, '%B %-d, %Y') " +
        "WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d') " +
        "WHEN 2 THEN strftime(o_orderdate, '%B %Y') " +
        "ELSE strftime(o_orderdate, '%Y') END AS raw FROM orders) " +
        "SELECT o_orderkey, raw, COALESCE(" +
        "CAST(try_strptime(raw, '%B %-d, %Y') AS DATE), " +
        "CAST(try_strptime(raw, '%Y-%m-%d') AS DATE), " +
        "CAST(try_strptime(raw, '%B %Y') AS DATE), " +
        "CAST(try_strptime(raw, '%Y') AS DATE)) AS parsed FROM t ORDER BY o_orderkey"),

    // E3 — epoch seconds → timestamp (output formatted, tz-free)
    Q("q_epoch_seconds", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          date_format(DatesNums.epochToTimestamp(col("event_id") * 1000),
            "yyyy-MM-dd HH:mm:ss").alias("t"))
        .orderBy("event_id"),
      "SELECT event_id, strftime(TIMESTAMP '1970-01-01' + to_seconds(event_id * 1000), " +
        "'%Y-%m-%d %H:%M:%S') AS t FROM events ORDER BY event_id"),

    // E4/E9 — null-on-error numeric coercion + fill
    Q("q_coerce_fill", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          DatesNums.coerceDoubleFill(
            TextParse.extract(col("props"), "(\\d+)")).alias("k_filled"))
        .orderBy("event_id"),
      "SELECT event_id, COALESCE(CAST(nullif(regexp_extract(props, '(\\d+)', 1), '') AS DOUBLE), 0.0) " +
        "AS k_filled FROM events ORDER BY event_id"),

    // E6/E8 — conditional arithmetic / zero-aware fill
    Q("q_conditional_fill", (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          DatesNums.conditional(col("l_discount") === 0,
            col("l_extendedprice"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).alias("net_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      "SELECT l_orderkey, l_linenumber, CASE WHEN l_discount = 0 THEN l_extendedprice " +
        "ELSE l_extendedprice * (1 - l_discount) END AS net_price " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),

    // F2 — synonym coalesce shape
    Q("q_synonym_coalesce", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          coalesce(nullif(col("event_type"), lit("view")), lit("viewed")).alias("etype"))
        .orderBy("event_id"),
      "SELECT event_id, COALESCE(nullif(event_type, 'view'), 'viewed') AS etype " +
        "FROM events ORDER BY event_id"),

    // G1 — inner equi-join
    Q("q_join_inner", (s, d) => {
      val o = Tables.orders(s, d); val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice").orderBy("o_orderkey")
    },
      "SELECT o_orderkey, c_name, o_totalprice FROM orders " +
        "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),

    // G2/E9 — left join of an aggregate + fill
    Q("q_join_left_agg", (s, d) => {
      val o = Tables.orders(s, d)
      val cnt = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(count(lit(1)).alias("n_items"))
      o.join(cnt, o("o_orderkey") === cnt("l_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("n_items"), lit(0L)).alias("n_items"))
        .orderBy("o_orderkey")
    },
      "SELECT o_orderkey, COALESCE(n_items, 0) AS n_items FROM orders " +
        "LEFT JOIN (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1) li " +
        "ON o_orderkey = li.l_orderkey ORDER BY o_orderkey"),

    // semi join — EXISTS
    Q("q_join_semi", (s, d) => {
      val recent = Tables.orders(s, d).filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey").alias("c_custkey"))
      Joins.semi(Tables.customer(s, d), recent, Seq("c_custkey"))
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND year(o_orderdate) = 1997) " +
        "ORDER BY c_custkey"),

    // anti join — NOT EXISTS
    Q("q_join_anti", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey").alias("c_custkey"))
      Joins.anti(Tables.customer(s, d), o, Seq("c_custkey"))
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),

    // range join anchored on equi-key
    Q("q_join_range", (s, d) => {
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      Joins.rangeJoin(l, o, l("l_orderkey") === o("o_orderkey"),
        l("l_shipdate") > o("o_orderdate"))
        .agg(count(lit(1)).alias("n_late"))
    },
      "SELECT count(*) AS n_late FROM lineitem JOIN orders " +
        "ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate"),

    // broadcast-hinted dimension join
    Q("q_join_broadcast", (s, d) => {
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      Joins.broadcastJoin(n, r, n("n_regionkey") === r("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name").orderBy("n_nationkey")
    },
      "SELECT n_nationkey, n_name, r_name FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey"),

    // multi-join + aggregate (TPC-H Q5 shape; headline)
    Q("q_join_multi", (s, d) => {
      val l = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").alias("revenue"))
        .orderBy("n_name")
    },
      "SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) " +
        "AS revenue FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),

    // H2/D7/E9/G2 — the flagship pivot chain (challenge2.py:273-281)
    Q("q_pivot_ratings", (s, d) => {
      val piv = Aggregates.pivotCounts(Tables.lineitem(s, d),
        "l_orderkey", "l_returnflag", Seq("A", "N", "R"), "cnt_")
      val o = Tables.orders(s, d)
      o.join(piv, o("o_orderkey") === piv("l_orderkey"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"),
          coalesce(col("cnt_a"), lit(0L)).alias("cnt_a"),
          coalesce(col("cnt_n"), lit(0L)).alias("cnt_n"),
          coalesce(col("cnt_r"), lit(0L)).alias("cnt_r"))
        .orderBy("o_orderkey")
    },
      "SELECT o_orderkey, o_orderstatus, " +
        "count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS cnt_a, " +
        "count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS cnt_n, " +
        "count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS cnt_r " +
        "FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey"),

    // H2 generalized — pivot with SUM measure (single-shuffle)
    Q("q_pivot_sum", (s, d) =>
      Aggregates.pivotAgg(Tables.lineitem(s, d), "l_orderkey", "l_returnflag",
        Seq("A", "N", "R"), "qty_", col("l_quantity").cast("decimal(18,2)"),
        c => coalesce(sum(c), lit(0).cast("decimal(18,2)")).cast("double"))
        .orderBy("l_orderkey"),
      "SELECT l_orderkey, " +
        "CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_a, " +
        "CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_n, " +
        "CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_r " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // wide→long unpivot (melt)
    Q("q_unpivot", (s, d) =>
      Aggregates.unpivot(
        Tables.part(s, d).select("p_partkey", "p_size", "p_retailprice"),
        Seq("p_partkey"), Seq("p_size", "p_retailprice"))
        .select(col("p_partkey"), col("key"), col("value").cast("double").alias("value"))
        .orderBy("p_partkey", "key"),
      "SELECT p_partkey, 'p_size' AS key, CAST(p_size AS DOUBLE) AS value FROM part " +
        "UNION ALL " +
        "SELECT p_partkey, 'p_retailprice' AS key, p_retailprice AS value FROM part " +
        "ORDER BY p_partkey, key"),

    // array higher-order functions: filter → transform → aggregate entirely
    // inside the row (no explode, no shuffle)
    Q("q_array_hof", (s, d) => {
      val longToks = filter(split(col("text"), " "), t => length(t) > 3)
      Tables.documents(s, d).select(col("doc_id"),
        size(longToks).cast("long").alias("n_long_tokens"),
        aggregate(longToks, lit(0L), (acc, t) => acc + length(t))
          .alias("chars_long_tokens"))
        .orderBy("doc_id")
    },
      // list_sum of an empty list is NULL in DuckDB while Spark's aggregate
      // folds to the 0 seed — coalesce keeps the mirrors identical
      "SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 3)) AS BIGINT) AS n_long_tokens, " +
        "CAST(coalesce(list_sum(list_transform(list_filter(string_split(text, ' '), " +
        "t -> length(t) > 3), t -> length(t))), 0) AS BIGINT) AS chars_long_tokens " +
        "FROM documents ORDER BY doc_id"),

    // D-family breadth — string-function battery (all codegen'd built-ins
    // with engine-portable semantics: pad, reverse, translate, edit
    // distance, 1-based field split)
    Q("q_string_funcs", (s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
        lpad(col("p_name"), 30, "*").alias("padded"),
        reverse(col("p_name")).alias("rev"),
        translate(col("p_name"), "aeiou", "12345").alias("xlat"),
        levenshtein(col("p_name"), lit("widget")).cast("long").alias("edit_dist"),
        expr("split_part(p_name, ' ', 1)").alias("first_word"))
        .orderBy("p_partkey"),
      "SELECT p_partkey, lpad(p_name, 30, '*') AS padded, reverse(p_name) AS rev, " +
        "translate(p_name, 'aeiou', '12345') AS xlat, " +
        "CAST(levenshtein(p_name, 'widget') AS BIGINT) AS edit_dist, " +
        "split_part(p_name, ' ', 1) AS first_word " +
        "FROM part ORDER BY p_partkey"),

    // D-family breadth — extract ALL regex matches as an array (joined to a
    // string for the oracle compare)
    Q("q_regex_extract_all", (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        concat_ws(",", expr("regexp_extract_all(props, '(\\\\d+)', 1)"))
          .alias("all_nums"))
        .orderBy("event_id"),
      "SELECT event_id, array_to_string(regexp_extract_all(props, '(\\d+)', 1), ',') AS all_nums " +
        "FROM events ORDER BY event_id"),

    // E-family breadth — calendar arithmetic: month truncation, fixed-day
    // shift, day difference (all string/long outputs — oracle-portable)
    Q("q_date_arith", (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .alias("month_start"),
        date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd")
          .alias("due_date"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").alias("days_to_eoy"))
        .orderBy("o_orderkey"),
      "SELECT o_orderkey, " +
        "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start, " +
        "strftime(o_orderdate::DATE + 30, '%Y-%m-%d') AS due_date, " +
        "CAST(date_diff('day', o_orderdate::DATE, DATE '1998-12-31') AS BIGINT) AS days_to_eoy " +
        "FROM orders ORDER BY o_orderkey"),

    // distinct
    Q("q_distinct", (s, d) =>
      Tables.lineitem(s, d).select(col("l_returnflag").alias("flag"))
        .distinct().orderBy("flag"),
      "SELECT DISTINCT l_returnflag AS flag FROM lineitem ORDER BY flag"),

    // set op — INTERSECT
    Q("q_set_intersect", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").alias("nk"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").alias("nk")))
        .orderBy("nk"),
      "SELECT c_nationkey AS nk FROM customer INTERSECT " +
        "SELECT s_nationkey AS nk FROM supplier ORDER BY nk"),

    // D4/E6 — multi-group regex runtime parse ("N hours M" / "N minutes")
    Q("q_runtime_minutes", (s, d) => {
      val k = col("p_partkey") % 3
      val sz = col("p_size")
      val raw = when(k === 0, concat(sz.cast("string"), lit(" hours "),
          (sz % 60).cast("string")))
        .when(k === 1, concat((sz * 10).cast("string"), lit(" minutes")))
        .otherwise(concat(sz.cast("string"), lit(" h")))
      Tables.part(s, d).select(col("p_partkey"), raw.alias("raw"))
        .withColumn("minutes", TextParse.parseRuntimeMinutes(col("raw")))
        .orderBy("p_partkey")
    },
      {
        val pat = """(\d+)\s*ho?u?r?s?\s*(\d*)|(\d+)\s*m"""
        "WITH t AS (SELECT p_partkey, CASE CAST(p_partkey % 3 AS INT) " +
          "WHEN 0 THEN p_size || ' hours ' || (p_size % 60) " +
          "WHEN 1 THEN (p_size * 10) || ' minutes' " +
          "ELSE p_size || ' h' END AS raw FROM part), " +
          s"g AS (SELECT p_partkey, raw, " +
          s"COALESCE(TRY_CAST(regexp_extract(raw, '$pat', 1) AS DOUBLE), 0.0) AS h, " +
          s"COALESCE(TRY_CAST(regexp_extract(raw, '$pat', 2) AS DOUBLE), 0.0) AS m, " +
          s"COALESCE(TRY_CAST(regexp_extract(raw, '$pat', 3) AS DOUBLE), 0.0) AS mm FROM t) " +
          "SELECT p_partkey, raw, CASE WHEN mm = 0.0 THEN h * 60 + m ELSE mm END AS minutes " +
          "FROM g ORDER BY p_partkey"
      }),

    // D5 — list→string join (concat_ws over a token array)
    Q("q_join_tokens", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextParse.joinTokens(slice(split(col("text"), " "), 1, 5)).alias("head5"))
        .orderBy("doc_id"),
      "SELECT doc_id, array_to_string(string_split(text, ' ')[1:5], ' ') AS head5 " +
        "FROM documents ORDER BY doc_id"),

    // E2 — lenient single-format date parse
    Q("q_date_lenient", (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").alias("raw"))
        .withColumn("parsed", to_date(col("raw")))
        .orderBy("o_orderkey"),
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS raw, " +
        "CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS parsed " +
        "FROM orders ORDER BY o_orderkey"),

    // E5 — strict numeric coercion as a validation pass (corrupt-row finder)
    Q("q_strict_cast", (s, d) => {
      val raw = when(col("event_id") % 7 === 0,
          concat(lit("x"), col("user_id").cast("string")))
        .otherwise(col("user_id").cast("string"))
      Tables.events(s, d).select(col("event_id"), raw.alias("raw"))
        .withColumn("parsed", col("raw").cast("long"))
        .withColumn("corrupt", col("parsed").isNull)
        .orderBy("event_id")
    },
      "WITH t AS (SELECT event_id, CASE WHEN event_id % 7 = 0 " +
        "THEN 'x' || user_id ELSE CAST(user_id AS VARCHAR) END AS raw FROM events) " +
        "SELECT event_id, raw, TRY_CAST(raw AS BIGINT) AS parsed, " +
        "TRY_CAST(raw AS BIGINT) IS NULL AS corrupt FROM t ORDER BY event_id"),

    // E7 — boolean derivation from a string column
    Q("q_bool_derive", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          DatesNums.boolFromString(col("event_type"), "purchase").alias("is_purchase"))
        .orderBy("event_id"),
      "SELECT event_id, event_type = 'purchase' AS is_purchase " +
        "FROM events ORDER BY event_id"),

    // F1 — key consolidation into one MapType column (alt_titles shape)
    Q("q_consolidate_map", (s, d) => {
      val base = Tables.documents(s, d)
        .withColumn("alt_a", when(col("doc_id") % 3 === 0, col("lang")))
        .withColumn("alt_b", when(col("doc_id") % 5 === 0, upper(col("source"))))
      Cleaning.consolidateToMap(base, Seq("alt_a", "alt_b"), "alts")
        .select(col("doc_id"), to_json(col("alts")).alias("alts_json"))
        .orderBy("doc_id")
    },
      "SELECT doc_id, '{' || concat_ws(',', " +
        "CASE WHEN doc_id % 3 = 0 AND lang IS NOT NULL " +
        "THEN '\"alt_a\":\"' || lang || '\"' END, " +
        "CASE WHEN doc_id % 5 = 0 AND source IS NOT NULL " +
        "THEN '\"alt_b\":\"' || upper(source) || '\"' END) || '}' AS alts_json " +
        "FROM documents ORDER BY doc_id"),

    // H3 — count rows
    Q("q_count_rows", (s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).alias("n")),
      "SELECT count(*) AS n FROM lineitem"),

    // C4 — data-dependent null-ratio column pruning (survivor list)
    Q("q_prune_columns", (s, d) => {
      val df = Tables.documents(s, d)
        .withColumn("mostly_null", when(col("doc_id") % 100 === 0, lit("x")))
      val pruned = Dedup.pruneMostlyNullColumns(df, 0.9)
      import s.implicits._
      pruned.columns.sorted.toSeq.toDF("col_name")
    },
      "WITH r AS (" +
        "SELECT 'doc_id' AS col_name, avg(CASE WHEN doc_id IS NULL THEN 1.0 ELSE 0.0 END) AS nr FROM documents " +
        "UNION ALL SELECT 'text', avg(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END) FROM documents " +
        "UNION ALL SELECT 'lang', avg(CASE WHEN lang IS NULL THEN 1.0 ELSE 0.0 END) FROM documents " +
        "UNION ALL SELECT 'source', avg(CASE WHEN source IS NULL THEN 1.0 ELSE 0.0 END) FROM documents " +
        "UNION ALL SELECT 'n_chars', avg(CASE WHEN n_chars IS NULL THEN 1.0 ELSE 0.0 END) FROM documents " +
        "UNION ALL SELECT 'mostly_null', avg(CASE WHEN doc_id % 100 = 0 THEN 0.0 ELSE 1.0 END) FROM documents" +
        ") SELECT col_name FROM r WHERE nr < 0.9 ORDER BY col_name"),

    // §1.2 — from_json over a stringified-JSON blob column
    Q("q_from_json", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").alias("k"))
        .orderBy("event_id"),
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k " +
        "FROM events ORDER BY event_id"),

    // set op — EXCEPT
    Q("q_set_except", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").alias("nk"))
        .except(Tables.supplier(s, d).filter(col("s_suppkey") % 2 === 0)
          .select(col("s_nationkey").alias("nk")))
        .orderBy("nk"),
      "SELECT c_nationkey AS nk FROM customer EXCEPT " +
        "SELECT s_nationkey AS nk FROM supplier WHERE s_suppkey % 2 = 0 ORDER BY nk"),

    // cross join (small × small)
    Q("q_cross_join", (s, d) =>
      Tables.region(s, d).select(col("r_name"))
        .crossJoin(Tables.nation(s, d).select(col("n_name")))
        .orderBy("r_name", "n_name"),
      "SELECT r_name, n_name FROM region CROSS JOIN nation " +
        "ORDER BY r_name, n_name"),

    // G-extra — upsert/merge by key (the MERGE INTO dataflow): every 10th
    // customer's balance zeroed (row replace), every 100th key re-inserted
    // under a new id (append) — one full-outer join, no driver loop
    Q("q_upsert", (s, d) => {
      val t = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      val upd = t.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"), lit(0.0).alias("c_acctbal"))
      val novel = t.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 10000000L).alias("c_custkey"),
          concat(lit("new_"), col("c_custkey").cast("string")).alias("c_name"),
          lit(1.0).alias("c_acctbal"))
      Joins.upsert(t, upd.unionByName(novel), Seq("c_custkey"))
        .orderBy("c_custkey")
    },
      // Row-wise replace semantics (matched ⇒ ENTIRE update row wins), so the
      // mirror uses CASE on the update key's presence, not per-column COALESCE.
      "WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer), " +
        "u AS (SELECT c_custkey, c_name, CAST(0.0 AS DOUBLE) AS c_acctbal FROM t " +
        "WHERE c_custkey % 10 = 0 " +
        "UNION ALL SELECT c_custkey + 10000000, 'new_' || c_custkey, " +
        "CAST(1.0 AS DOUBLE) FROM t WHERE c_custkey % 100 = 0) " +
        "SELECT CASE WHEN u.c_custkey IS NOT NULL THEN u.c_custkey ELSE t.c_custkey END AS c_custkey, " +
        "CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name, " +
        "CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal " +
        "FROM t FULL JOIN u ON t.c_custkey = u.c_custkey ORDER BY c_custkey"),

    // set op — UNION (distinct)
    Q("q_set_union", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").alias("nk"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").alias("nk")))
        .distinct().orderBy("nk"),
      "SELECT c_nationkey AS nk FROM customer UNION " +
        "SELECT s_nationkey AS nk FROM supplier ORDER BY nk"),

    // as-of join — latest prior view value per purchase (union+window plan)
    Q("q_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").alias("vval"))
      Joins.asOf(purchases, views, Seq("user_id"), "ts", "ts", Seq("vval"))
        .select(col("event_id"), col("user_id"), round(col("vval"), 6).alias("vval"))
        .orderBy("event_id")
    },
      "WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), " +
        "v AS (SELECT user_id, ts, max(value) AS vval FROM events WHERE event_type = 'view' GROUP BY 1, 2) " +
        "SELECT p.event_id, p.user_id, round(v.vval, 6) AS vval " +
        "FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts " +
        "ORDER BY event_id"),

    // join family: NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM) —
    // null keys match each other instead of silently dropping (the
    // semantics corner plain equi-joins get wrong on nullable keys)
    Q("q_join_nullsafe", (s, d) => {
      val ev = Tables.events(s, d)
      // 1-in-100 slices keep the null-key group's cross product bounded
      // (the query exists for its join semantics, not its volume)
      val l = ev.filter(col("event_id") % 100 === 0)
        .select(col("event_id").alias("l_id"),
          nullif(col("event_type"), lit("error")).alias("k"))
      val r = ev.filter(col("event_id") % 100 === 1)
        .select(col("event_id").alias("r_id"),
          nullif(col("event_type"), lit("error")).alias("k"))
      l.join(r, l("k") <=> r("k"))
        .groupBy(l("k").alias("k"))
        .agg(count(lit(1)).alias("n_pairs"))
        .orderBy(col("k").asc_nulls_first)
    },
      "WITH l AS (SELECT event_id AS l_id, nullif(event_type, 'error') AS k " +
        "FROM events WHERE event_id % 100 = 0), " +
        "r AS (SELECT event_id AS r_id, nullif(event_type, 'error') AS k " +
        "FROM events WHERE event_id % 100 = 1) " +
        "SELECT l.k, count(*) AS n_pairs FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k " +
        "GROUP BY l.k ORDER BY l.k NULLS FIRST"),

    // schema evolution: UNION BY NAME with missing columns null-filled —
    // how two batches with drifted schemas append safely
    Q("q_union_by_name", (s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val b = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy("event_id")
    },
      "SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0 " +
        "UNION ALL BY NAME " +
        "SELECT event_id, user_id, event_type FROM events WHERE event_id % 2 = 1 " +
        "ORDER BY event_id"),

    // Dictionary (categorical) encoding (ops/Cleaning.dictEncode):
    // value → dense id, dictionary broadcast back onto the data.
    Q("q_dict_encode", (s, d) => {
      val (enc, _) = graft.ops.Cleaning.dictEncode(
        Tables.customer(s, d), "c_mktsegment", "seg_id")
      enc.select("c_custkey", "c_mktsegment", "seg_id").orderBy("c_custkey")
    },
      "WITH dict AS (SELECT c_mktsegment AS v, " +
        "row_number() OVER (ORDER BY c_mktsegment) AS seg_id " +
        "FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL)) " +
        "SELECT c_custkey, c_mktsegment, seg_id FROM customer " +
        "LEFT JOIN dict ON c_mktsegment = v ORDER BY c_custkey"),

    // Keyless band join (Joins.bandJoin): clicks paired with purchases
    // within 30 s across ALL users — the proximity join that would plan
    // as a nested loop without the bucket rewrite (plan-asserted in
    // OpsSpec). The oracle runs the plain theta join.
    Q("q_band_join", (s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").alias("click_id"),
          unix_micros(col("ts")).alias("__cm"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("event_id").alias("purchase_id"),
          unix_micros(col("ts")).alias("__pm"))
      graft.ops.Joins.bandJoin(clicks, buys, "__cm", "__pm", 30000000L)
        .select(col("click_id"), col("purchase_id"),
          (col("__pm") - col("__cm")).alias("delta_us"))
        .orderBy("click_id", "purchase_id")
    },
      "WITH c AS (SELECT event_id AS click_id, epoch_us(ts) AS cm FROM events " +
        "WHERE event_type = 'click'), " +
        "p AS (SELECT event_id AS purchase_id, epoch_us(ts) AS pm FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT click_id, purchase_id, pm - cm AS delta_us FROM c JOIN p " +
        "ON abs(cm - pm) <= 30000000 ORDER BY click_id, purchase_id"),

    // Interval-overlap join (Joins.intervalOverlapJoin): click intervals
    // × view intervals of VARIABLE deterministic length (60–359 s from
    // event_id) — the theta join a fixed band can't express, rewritten to
    // one equi-shuffle with exactly-once pair emission (plan-asserted
    // nested-loop-free in OpsSpec). The oracle runs the plain theta join.
    Q("q_interval_join", (s, d) => {
      val e = Tables.events(s, d)
      def iv(t: String, id: String, st: String, en: String) =
        e.filter(col("event_type") === t)
          .select(col("event_id").alias(id),
            unix_micros(col("ts")).alias(st),
            (unix_micros(col("ts")) +
              (col("event_id") % 300 + 60) * 1000000L).alias(en))
      graft.ops.Joins.intervalOverlapJoin(
          iv("click", "click_id", "cs", "ce"),
          iv("view", "view_id", "vs", "ve"),
          "cs", "ce", "vs", "ve", 300000000L)
        .select(col("click_id"), col("view_id"),
          (least(col("ce"), col("ve")) - greatest(col("cs"), col("vs")))
            .alias("overlap_us"))
        .orderBy("click_id", "view_id")
    },
      "WITH c AS (SELECT event_id AS click_id, epoch_us(ts) AS cs, " +
        "epoch_us(ts) + (event_id % 300 + 60) * 1000000 AS ce FROM events " +
        "WHERE event_type = 'click'), " +
        "v AS (SELECT event_id AS view_id, epoch_us(ts) AS vs, " +
        "epoch_us(ts) + (event_id % 300 + 60) * 1000000 AS ve FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT click_id, view_id, " +
        "least(ce, ve) - greatest(cs, vs) AS overlap_us " +
        "FROM c JOIN v ON cs <= ve AND vs <= ce " +
        "ORDER BY click_id, view_id"),

    // Grid-bucketed geospatial neighbor join (Joins.geoNeighborPairs):
    // customer pairs within 200 km over deterministic synthetic
    // coordinates — one cell equi-join with 3×3 fan-out, never n².
    Q("q_geo_neighbors", (s, d) => {
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        (((col("c_custkey") * 37) % 12000) / lit(100.0) - lit(60.0)).alias("lat"),
        (((col("c_custkey") * 91) % 36000) / lit(100.0) - lit(180.0)).alias("lon"))
      graft.ops.Joins.geoNeighborPairs(pts, "c_custkey", "lat", "lon",
        radiusKm = 200.0)
    },
      // Brute-force haversine over the same synthetic points — the grid
      // join must find exactly the all-pairs answer; association pinned
      // to the engine's (x * (pi/180)) ordering.
      "WITH p AS (SELECT c_custkey AS k, " +
        "((c_custkey * 37) % 12000) / 100.0 - 60.0 AS lat, " +
        "((c_custkey * 91) % 36000) / 100.0 - 180.0 AS lon FROM customer), " +
        "f AS (SELECT * FROM p WHERE abs(lat) <= 60.0), " +
        "pr AS (SELECT a.k AS k1, b.k AS k2, 2.0 * 6371.0 * asin(sqrt(" +
        "sin((b.lat - a.lat) * (pi() / 180.0) / 2.0) * " +
        "sin((b.lat - a.lat) * (pi() / 180.0) / 2.0) + " +
        "cos(a.lat * (pi() / 180.0)) * cos(b.lat * (pi() / 180.0)) * " +
        "sin((b.lon - a.lon) * (pi() / 180.0) / 2.0) * " +
        "sin((b.lon - a.lon) * (pi() / 180.0) / 2.0))) AS d " +
        "FROM f a JOIN f b ON a.k < b.k) " +
        "SELECT k1, k2, round(d, 6) AS dist_km FROM pr WHERE d <= 200.0 " +
        "ORDER BY k1, k2"),

    // Anchored-literal regex filter: RegexAnchorSimplification rewrites
    // the RLIKE into a pushed StringStartsWith (RegexRewriteSpec asserts
    // the plan; this query asserts the answers survive the rewrite).
    Q("q_filter_prefix_rlike", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.customer(s, d)
        .filter(col("c_name").rlike("^Customer#00000001"))
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE regexp_matches(c_name, '^Customer#00000001') " +
        "ORDER BY c_custkey"),
  )

  /** Shared oracle for q_parse_dollars and q_parse_dollars_native (the
    * when-chain and native-Expression implementations must agree with the
    * same SQL). */
  private lazy val parseDollarsOracle: String =
    "WITH t AS (SELECT p_partkey, CASE CAST(p_size % 3 AS INT) " +
      "WHEN 0 THEN '$' || p_size || ' million' " +
      "WHEN 1 THEN '$' || p_size || '.5 billion' " +
      "ELSE '$' || (p_size * 1000) END AS raw FROM part) " +
      "SELECT p_partkey, raw, CASE " +
      "WHEN regexp_matches(raw, '(?i)\\$\\s*\\d+(\\.\\d+)?\\s*milli?on') " +
      "THEN CAST(regexp_extract(raw, '(?i)\\$\\s*(\\d+(?:\\.\\d+)?)\\s*milli?on', 1) AS DOUBLE) * 1e6 " +
      "WHEN regexp_matches(raw, '(?i)\\$\\s*\\d+(\\.\\d+)?\\s*billion') " +
      "THEN CAST(regexp_extract(raw, '(?i)\\$\\s*(\\d+(?:\\.\\d+)?)\\s*billion', 1) AS DOUBLE) * 1e9 " +
      "WHEN regexp_matches(raw, '\\$\\s*\\d{1,3}([,.]\\d{3})+') " +
      "THEN CAST(regexp_replace(regexp_extract(raw, '\\$\\s*(\\d{1,3}(?:[,.]\\d{3})+)', 1), '[,.]', '', 'g') AS DOUBLE) " +
      "WHEN regexp_matches(raw, '\\$\\s*\\d+(\\.\\d+)?') " +
      "THEN CAST(regexp_extract(raw, '\\$\\s*(\\d+(?:\\.\\d+)?)', 1) AS DOUBLE) " +
      "ELSE NULL END AS amount FROM t ORDER BY p_partkey"
}

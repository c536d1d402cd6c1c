package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._

/** Statistical tests, estimators and models (ops Stats), with the
  * portable exp/ln parity probes their oracles depend on. */
object StatsQueries {
  val all: Seq[Q] = Seq(
    // Segmented trend-break regression (Stats.segmentedTrend): daily
    // order volume with a hinge at 1998-01-01 — slope before, slope
    // change at the break, and the recomposed after-slope.
    Q("q_segmented_trend", (s, d) =>
      graft.ops.Stats.segmentedTrend(Tables.orders(s, d),
        to_date(col("o_orderdate")), "1998-01-01"),
      // The ols2 nine-moment chain over the daily series with the hinge
      // feature; slope_after recomposes the 6-dp coefficients.
      "WITH sd AS (SELECT CAST(o_orderdate AS DATE) AS dte, " +
        "CAST(count(*) AS DOUBLE) AS y FROM orders GROUP BY 1), " +
        "f AS (SELECT y, CAST(date_diff('day', DATE '1970-01-01', dte) AS DOUBLE) AS x1, " +
        "greatest(CAST(0 AS DOUBLE), " +
        "CAST(date_diff('day', DATE '1970-01-01', dte) AS DOUBLE) - " +
        "CAST(date_diff('day', DATE '1970-01-01', DATE '1998-01-01') AS DOUBLE)) AS x2 " +
        "FROM sd), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(x1 AS DECIMAL(38,12))) AS DOUBLE) AS s1, " +
        "CAST(SUM(CAST(x2 AS DECIMAL(38,12))) AS DOUBLE) AS s2, " +
        "CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,12))) AS DOUBLE) AS s11, " +
        "CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,12))) AS DOUBLE) AS s22, " +
        "CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,12))) AS DOUBLE) AS s12, " +
        "CAST(SUM(CAST(x1 * y AS DECIMAL(38,12))) AS DOUBLE) AS s1y, " +
        "CAST(SUM(CAST(x2 * y AS DECIMAL(38,12))) AS DOUBLE) AS s2y, " +
        "CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy FROM f), " +
        "d AS (SELECT n, CAST(n AS DOUBLE) AS nd, s1, s2, sy, s11, s22, s12, " +
        "s1y, s2y, syy, " +
        "CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + " +
        "s2 * (s1 * s12 - s11 * s2) AS det, " +
        "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + " +
        "s2 * (s1y * s12 - s11 * s2y) AS d0, " +
        "CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + " +
        "s2 * (s1 * s2y - s1y * s2) AS d1, " +
        "CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + " +
        "sy * (s1 * s12 - s11 * s2) AS d2 FROM m), " +
        "c AS (SELECT n, nd, sy, s1y, s2y, syy, " +
        "d0 / det AS b0, d1 / det AS b1, d2 / det AS b2 FROM d) " +
        "SELECT n AS n_days, round(b0, 6) AS b0, round(b1, 6) AS slope_before, " +
        "round(b2, 6) AS slope_change, " +
        "round(round(b1, 6) + round(b2, 6), 6) AS slope_after, " +
        "round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / " +
        "(syy - sy * sy / nd), 6) AS r2 FROM c"),

    // Split-conformal coverage (Stats.conformalCoverage): per-type mean
    // model on the 60% train hash slice, 90%-residual-quantile band from
    // the 20% calibration slice, achieved coverage on the 20% test slice.
    Q("q_conformal", (s, d) =>
      graft.ops.Stats.conformalCoverage(Tables.events(s, d), "event_type",
        "value", col("user_id") % 10 <= 5,
        col("user_id") % 10 === 6 || col("user_id") % 10 === 7,
        col("user_id") % 10 >= 8, alpha = 0.1),
      // Same hash slices, 9-dp DECIMAL model means, quantile_cont band
      // (the proven percentileTwoPass equivalence), identical coverage
      // comparison.
      "WITH b AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v, " +
        "user_id % 10 AS m FROM events WHERE value IS NOT NULL), " +
        "mo AS (SELECT g, round(CAST(sum(CAST(v AS DECIMAL(28,9))) AS DOUBLE) / " +
        "count(*), 9) AS mu FROM b WHERE m <= 5 GROUP BY 1), " +
        "r AS (SELECT b.m, abs(b.v - mo.mu) AS r FROM b JOIN mo USING (g)), " +
        "q AS (SELECT round(quantile_cont(r, 0.9), 6) AS qhat, " +
        "count(*) AS n_cal FROM r WHERE m IN (6, 7)), " +
        "t AS (SELECT count(*) AS n_test, " +
        "sum(CASE WHEN r.r <= q.qhat THEN 1 ELSE 0 END) AS inb FROM r, q " +
        "WHERE m >= 8) " +
        "SELECT CAST(q.n_cal AS BIGINT) AS n_cal, " +
        "CAST(t.n_test AS BIGINT) AS n_test, q.qhat, " +
        "round(CAST(t.inb AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6) AS coverage " +
        "FROM q, t"),

    // Dickey-Fuller stationarity stat (Stats.adfStat): Δy on lagged y
    // over the daily order-volume series.
    Q("q_adf_stat", (s, d) =>
      graft.ops.Stats.adfStat(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same lag pair construction and five-moment regression with the
      // identical parenthesization chain.
      s"WITH sd AS ${dailyCounts("y")}, " +
        "l AS (SELECT y, lag(y) OVER (ORDER BY d) AS yl FROM sd), " +
        "p AS (SELECT yl AS x, y - yl AS z FROM l WHERE yl IS NOT NULL), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx, " +
        "CAST(sum(CAST(z AS DECIMAL(38,12))) AS DOUBLE) AS sz, " +
        "CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(x * z AS DECIMAL(38,12))) AS DOUBLE) AS sxz, " +
        "CAST(sum(CAST(z * z AS DECIMAL(38,12))) AS DOUBLE) AS szz FROM p), " +
        "c AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx, sz, sxx, sxz, szz, " +
        "sxx - sx * sx / CAST(n AS DOUBLE) AS sxxc FROM m), " +
        "e AS (SELECT n, nd, sz, sxz, szz, sxxc, sx, " +
        "(sxz - sx * sz / nd) / sxxc AS beta FROM c), " +
        "f AS (SELECT n, nd, sxz, szz, sxxc, beta, " +
        "sz / nd - beta * (sx / nd) AS a, sz FROM e) " +
        "SELECT n, round(a, 6) AS alpha_hat, round(beta, 6) AS beta, " +
        "round(beta / sqrt(((szz - a * sz - beta * sxz) / (nd - 2.0)) / sxxc), 6) AS t_stat " +
        "FROM f"),

    // Wilcoxon signed-rank (Stats.wilcoxonSignedRank): 1996 vs 1997
    // daily revenue paired by (month, day) — the paired nonparametric
    // year-over-year shift test.
    Q("q_wilcoxon", (s, d) => {
      val daily = Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).alias("dt"), col("o_totalprice"))
        .groupBy(year(col("dt")).alias("y"), month(col("dt")).alias("m"),
          dayofmonth(col("dt")).alias("dd"))
        .agg(sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
          .alias("rev"))
      val a = daily.filter(col("y") === 1996)
        .select(col("m"), col("dd"), col("rev").alias("rev_a"))
      val b = daily.filter(col("y") === 1997)
        .select(col("m"), col("dd"), col("rev").alias("rev_b"))
      graft.ops.Stats.wilcoxonSignedRank(a.join(b, Seq("m", "dd")),
        "rev_a", "rev_b")
    },
      // Same per-|d| count-table ranks (q_mannwhitney's cumulative shape),
      // DECIMAL rank sums, identical tie-corrected z parenthesization.
      "WITH daily AS (SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, " +
        "day(o_orderdate) AS dd, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS rev " +
        "FROM orders GROUP BY 1, 2, 3), " +
        "pr AS (SELECT a.rev - b.rev AS d FROM daily a JOIN daily b " +
        "ON a.m = b.m AND a.dd = b.dd AND a.y = 1996 AND b.y = 1997), " +
        "nz AS (SELECT abs(d) AS v, CASE WHEN d > 0 THEN 1 ELSE 0 END AS p " +
        "FROM pr WHERE d <> 0), " +
        "pv AS (SELECT v, SUM(p) AS cp, SUM(1 - p) AS cn, " +
        "SUM(p) + SUM(1 - p) AS t FROM nz GROUP BY 1), " +
        "r AS (SELECT cp, cn, t, COALESCE(SUM(t) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pv), " +
        "c AS (SELECT CAST(SUM(cp + cn) AS BIGINT) AS n, " +
        "CAST(SUM(CAST((CAST(bef AS DOUBLE) + (t + 1) / 2.0) * cp AS DECIMAL(28,8))) AS DOUBLE) AS wp, " +
        "CAST(SUM(CAST((CAST(bef AS DOUBLE) + (t + 1) / 2.0) * cn AS DECIMAL(28,8))) AS DOUBLE) AS wm, " +
        "CAST(SUM(CAST(t * t * t - t AS DECIMAL(28,8))) AS DOUBLE) AS ties FROM r) " +
        "SELECT coalesce(n, 0) AS n, round(wp, 6) AS w_plus, " +
        "round(wm, 6) AS w_minus, " +
        "round(CASE WHEN sqrt(n::DOUBLE * (n::DOUBLE + 1.0) * (2.0 * n::DOUBLE + 1.0) / 24.0 " +
        "- ties / 48.0) > 0 THEN " +
        "(wp - n::DOUBLE * (n::DOUBLE + 1.0) / 4.0) / " +
        "sqrt(n::DOUBLE * (n::DOUBLE + 1.0) * (2.0 * n::DOUBLE + 1.0) / 24.0 " +
        "- ties / 48.0) END, 6) AS z FROM c"),

    // Multiple testing: per-hour purchase-share z sweep (24 hypotheses)
    // → Benjamini-Hochberg step-up adjustment. The surrogate
    // p = exp(−z²/2) is the Gaussian tail bound — monotone in |z|, so
    // the BH ordering/adjustment under test is exercised faithfully
    // while both engines evaluate the identical closed form (no erf).
    Q("q_bh_fdr", (s, d) => {
      val ev = Tables.events(s, d)
      val hyp = ev.groupBy(hour(col("ts")).cast("long").alias("hour"))
        .agg(count(lit(1)).alias("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .alias("x"))
      val pool = ev.agg(
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).alias("p0"))
      val z = (col("x").cast("double") / col("n").cast("double") -
        col("p0")) /
        sqrt(col("p0") * (lit(1.0) - col("p0")) / col("n").cast("double"))
      val h = hyp.crossJoin(broadcast(pool))
        .select(col("hour"), col("n"), col("x"), round(z, 6).alias("z"))
        .select(col("hour"), col("n"), col("x"), col("z"),
          round(exp(lit(-0.5) * col("z") * col("z")), 6).alias("p"))
      graft.ops.Stats.bhAdjust(h, "hour", "p").orderBy("rank")
    },
      // Same z sweep, same exp(−z²/2) surrogate, same step-up reverse min.
      bhFdrOracle),

    // Sample autocorrelation of the daily order-count series, lags 1–7
    // (weekly structure shows as a lag-7 spike). The table reduces to a
    // calendar-bounded series before the one ordered window.
    Q("q_acf", (s, d) =>
      graft.ops.Stats.autocorrelation(Tables.orders(s, d),
        to_date(col("o_orderdate")), maxLag = 7),
      // Same calendar-grain series, same DECIMAL(28,8) moment sums.
      s"WITH s AS ${dailyCounts("x")}, " +
        "m AS (SELECT sum(x) / count(*) AS m FROM s), " +
        "c AS (SELECT x - m.m AS c0, " +
        (1 to 7).map(l =>
          s"lead(x, $l) OVER (ORDER BY d) - m.m AS c$l").mkString(", ") +
        " FROM s CROSS JOIN m), " +
        "a AS (SELECT sum(CAST(c0 * c0 AS DECIMAL(28,8))) AS den, " +
        (1 to 7).map(l =>
          s"sum(CAST(c0 * c$l AS DECIMAL(28,8))) AS n$l").mkString(", ") +
        " FROM c) SELECT lag, acf FROM (" +
        (1 to 7).map(l =>
          s"SELECT $l AS lag, round(CAST(n$l AS DOUBLE) / CAST(den AS DOUBLE), 6) " +
          s"AS acf FROM a").mkString(" UNION ALL ") +
        ") ORDER BY lag"),

    // Partial autocorrelation lags 1-3 (Stats.pacf): Durbin-Levinson on
    // the pinned ACF values — the AR-order readout.
    Q("q_pacf", (s, d) =>
      graft.ops.Stats.pacf(Tables.orders(s, d), to_date(col("o_orderdate"))),
      // The q_acf chain truncated to 3 lags, then the same unrolled
      // Durbin-Levinson scalar arithmetic on the 6-dp ρ values.
      s"WITH s AS ${dailyCounts("x")}, " +
        "m AS (SELECT sum(x) / count(*) AS m FROM s), " +
        "c AS (SELECT x - m.m AS c0, " +
        (1 to 3).map(l =>
          s"lead(x, $l) OVER (ORDER BY d) - m.m AS c$l").mkString(", ") +
        " FROM s CROSS JOIN m), " +
        "a AS (SELECT sum(CAST(c0 * c0 AS DECIMAL(28,8))) AS den, " +
        (1 to 3).map(l =>
          s"sum(CAST(c0 * c$l AS DECIMAL(28,8))) AS n$l").mkString(", ") +
        " FROM a0), ".replace("a0", "c") +
        "rr AS (SELECT " +
        (1 to 3).map(l =>
          s"round(CAST(n$l AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r$l")
          .mkString(", ") +
        " FROM a), " +
        "p1 AS (SELECT r1, r2, r3, 1.0 - r1 * r1 AS d2 FROM rr), " +
        "p2 AS (SELECT *, (r2 - r1 * r1) / d2 AS p22 FROM p1), " +
        "p3 AS (SELECT *, r1 - p22 * r1 AS p21 FROM p2), " +
        "p4 AS (SELECT *, 1.0 - (p21 * r1 + p22 * r2) AS d3 FROM p3), " +
        "p5 AS (SELECT *, (r3 - (p21 * r2 + p22 * r1)) / d3 AS p33 FROM p4) " +
        "SELECT lag, pacf FROM (" +
        "SELECT 1 AS lag, round(r1, 6) AS pacf FROM p5 " +
        "UNION ALL SELECT 2, round(CASE WHEN d2 <> 0 THEN p22 END, 6) FROM p5 " +
        "UNION ALL SELECT 3, round(CASE WHEN d2 <> 0 AND d3 <> 0 THEN p33 END, 6) FROM p5" +
        ") ORDER BY lag"),

    // Ljung-Box portmanteau Q over q_acf's first 7 autocorrelations
    // (Stats.ljungBox): the one-number white-noise check.
    Q("q_ljung_box", (s, d) =>
      graft.ops.Stats.ljungBox(Tables.orders(s, d),
        to_date(col("o_orderdate")), maxLag = 7),
      // Same calendar-bounded ACF as q_acf; rho^2/(n-k) terms round to
      // 9 dp into a DECIMAL(38,9) sum, n(n+2) factor applied once.
      s"WITH s AS ${dailyCounts("x")}, " +
        "m AS (SELECT sum(x) / count(*) AS m FROM s), " +
        "c AS (SELECT x - m.m AS c0, " +
        (1 to 7).map(l =>
          s"lead(x, $l) OVER (ORDER BY d) - m.m AS c$l").mkString(", ") +
        " FROM s CROSS JOIN m), " +
        "a AS (SELECT sum(CAST(c0 * c0 AS DECIMAL(28,8))) AS den, " +
        (1 to 7).map(l =>
          s"sum(CAST(c0 * c$l AS DECIMAL(28,8))) AS n$l").mkString(", ") +
        " FROM c), " +
        "acf AS (SELECT lag, acf FROM (" +
        (1 to 7).map(l =>
          s"SELECT $l AS lag, round(CAST(n$l AS DOUBLE) / CAST(den AS DOUBLE), 6) " +
          s"AS acf FROM a").mkString(" UNION ALL ") +
        ")), nn AS (SELECT count(*) AS n FROM s), " +
        "q AS (SELECT max(n) AS n, SUM(CAST(CASE WHEN n > 7 THEN " +
        "round(acf * acf / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)), 9) " +
        "ELSE 0.0 END AS DECIMAL(38,9))) AS s FROM acf CROSS JOIN nn) " +
        "SELECT CAST(n AS BIGINT) AS n_buckets, 7 AS df, " +
        "CASE WHEN n > 7 THEN round(CAST(n AS DOUBLE) * " +
        "(CAST(n AS DOUBLE) + 2.0) * CAST(s AS DOUBLE), 6) + 0.0 " +
        "END AS q_stat FROM q"),

    // Wald-Wolfowitz runs test (Stats.runsTest): randomness of the daily
    // order-count series from the sign pattern of day-over-day deltas.
    Q("q_runs_test", (s, d) =>
      graft.ops.Stats.runsTest(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same zero-delta drop, same integer run count, same fixed
      // parenthesization of the mu/sigma normal approximation.
      s"WITH s AS ${dailyCounts("x")}, " +
        "dx AS (SELECT d, x - lag(x) OVER (ORDER BY d) AS dx FROM s), " +
        "sg AS (SELECT d, CASE WHEN dx > 0 THEN 1 ELSE -1 END AS sg " +
        "FROM dx WHERE dx IS NOT NULL AND dx <> 0), " +
        "r AS (SELECT sg, lag(sg) OVER (ORDER BY d) AS pr FROM sg), " +
        "c AS (SELECT CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up, " +
        "CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down, " +
        "CAST(1 + sum(CASE WHEN pr IS NOT NULL AND sg <> pr THEN 1 ELSE 0 END) AS BIGINT) AS runs FROM r) " +
        "SELECT n_up, n_down, runs, " +
        "round(2.0 * n_up::DOUBLE * n_down::DOUBLE / (n_up::DOUBLE + n_down::DOUBLE) + 1.0, 6) AS expected_runs, " +
        "round((runs::DOUBLE - (2.0 * n_up::DOUBLE * n_down::DOUBLE / (n_up::DOUBLE + n_down::DOUBLE) + 1.0)) / " +
        "sqrt((2.0 * n_up::DOUBLE * n_down::DOUBLE * (2.0 * n_up::DOUBLE * n_down::DOUBLE - (n_up::DOUBLE + n_down::DOUBLE))) / " +
        "((n_up::DOUBLE + n_down::DOUBLE) * (n_up::DOUBLE + n_down::DOUBLE) * ((n_up::DOUBLE + n_down::DOUBLE) - 1.0))), 6) AS z " +
        "FROM c"),

    // Brown-Forsythe homogeneity of variance (Stats.brownForsythe):
    // Levene's W on |value - group median| across event types — the
    // equal-spread gatekeeper in front of q_anova.
    Q("q_brown_forsythe", (s, d) =>
      graft.ops.Stats.brownForsythe(Tables.events(s, d), "event_type",
        "value"),
      // Same quantile_cont group medians, DECIMAL deviation sums, same
      // two-pass SSB/SSW with fixed parenthesization.
      "WITH b AS (SELECT event_type AS g, value AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "m AS (SELECT g, quantile_cont(v, 0.5) AS med FROM b GROUP BY 1), " +
        "z AS (SELECT b.g, abs(b.v - m.med) AS z FROM b JOIN m ON b.g = m.g), " +
        "grp AS (SELECT g, count(*) AS n, " +
        "sum(CAST(z AS DECIMAL(28,10))) AS sz FROM z GROUP BY 1), " +
        "gm AS (SELECT g, n, sz, CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS mz FROM grp), " +
        "ww AS (SELECT sum(CAST((z.z - gm.mz) * (z.z - gm.mz) AS DECIMAL(28,10))) AS ssw " +
        "FROM z JOIN gm ON z.g = gm.g), " +
        "tt AS (SELECT sum(n) AS nt, count(*) AS k, sum(sz) AS szt FROM gm), " +
        "bb AS (SELECT max(tt.nt) AS nt, max(tt.k) AS k, " +
        "sum(CAST(CAST(gm.n AS DOUBLE) * ((gm.mz - CAST(tt.szt AS DOUBLE) / CAST(tt.nt AS DOUBLE)) * " +
        "(gm.mz - CAST(tt.szt AS DOUBLE) / CAST(tt.nt AS DOUBLE))) AS DECIMAL(28,10))) AS ssb " +
        "FROM gm CROSS JOIN tt) " +
        "SELECT CAST(k AS BIGINT) AS k_groups, CAST(nt AS BIGINT) AS n_total, " +
        "round(((CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)) * " +
        "(CAST(ssb AS DOUBLE) / CAST(ssw AS DOUBLE)), 6) AS w_stat " +
        "FROM bb CROSS JOIN ww"),

    // McNemar paired-binary test (Stats.mcnemarTest): per user, clicked
    // vs purchased — the discordant-cell readout marginal rates hide.
    Q("q_mcnemar", (s, d) =>
      graft.ops.Stats.mcnemarTest(Tables.events(s, d), "user_id",
        col("event_type") === "click", col("event_type") === "purchase"),
      // Same per-entity max flags, same Edwards-corrected statistic with
      // the NULL pin on zero discordance.
      "WITH per AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b " +
        "FROM events GROUP BY 1), " +
        "c AS (SELECT " +
        "CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00, " +
        "CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01, " +
        "CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10, " +
        "CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11 FROM per) " +
        "SELECT n00, n01, n10, n11, " +
        "CASE WHEN n01 + n10 = 0 THEN NULL ELSE " +
        "round(greatest(CAST(abs(n01 - n10) AS DOUBLE) - 1.0, 0.0) * " +
        "greatest(CAST(abs(n01 - n10) AS DOUBLE) - 1.0, 0.0) / " +
        "CAST(n01 + n10 AS DOUBLE), 6) END AS chi2 FROM c"),

    // Theil's uncertainty coefficient (Stats.theilsU): the asymmetric
    // entropy-based association between return flag and line status —
    // the directional complement of q_cramers_v on the same columns.
    Q("q_theils_u", (s, d) =>
      graft.ops.Stats.theilsU(Tables.lineitem(s, d),
        "l_returnflag", "l_linestatus"),
      // Same observed-cells-only entropy sums in DECIMAL, same marginal
      // H tables, same NULL pin on a constant column.
      "WITH obs AS (SELECT l_returnflag AS a, l_linestatus AS b, " +
        "count(*) AS o FROM lineitem GROUP BY 1, 2), " +
        "rt AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1), " +
        "ct AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1), " +
        "nn AS (SELECT sum(o) AS n FROM obs), " +
        "ha AS (SELECT -CAST(sum(CAST(round((CAST(rt AS DOUBLE) / CAST(nn.n AS DOUBLE)) * " +
        "ln(CAST(rt AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS ha " +
        "FROM rt CROSS JOIN nn), " +
        "hb AS (SELECT -CAST(sum(CAST(round((CAST(ct AS DOUBLE) / CAST(nn.n AS DOUBLE)) * " +
        "ln(CAST(ct AS DOUBLE) / CAST(nn.n AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS hb " +
        "FROM ct CROSS JOIN nn), " +
        "cond AS (SELECT " +
        "-CAST(sum(CAST(round((CAST(o AS DOUBLE) / CAST(nn.n AS DOUBLE)) * " +
        "ln(CAST(o AS DOUBLE) / CAST(ct.ct AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS hab, " +
        "-CAST(sum(CAST(round((CAST(o AS DOUBLE) / CAST(nn.n AS DOUBLE)) * " +
        "ln(CAST(o AS DOUBLE) / CAST(rt.rt AS DOUBLE)), 9) AS DECIMAL(28,14))) AS DOUBLE) AS hba, " +
        "CAST(max(nn.n) AS BIGINT) AS n " +
        "FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nn) " +
        "SELECT n, round(ha, 6) AS h_a, round(hb, 6) AS h_b, " +
        "CASE WHEN ha = 0.0 THEN NULL ELSE round((ha - hab) / ha, 6) END AS u_a_given_b, " +
        "CASE WHEN hb = 0.0 THEN NULL ELSE round((hb - hba) / hb, 6) END AS u_b_given_a " +
        "FROM cond CROSS JOIN ha CROSS JOIN hb"),

    // Cohen's kappa (Stats.cohensKappa) between two rule raters of
    // document length: char-length > 800 vs letter-word-count > 150 —
    // chance-corrected agreement of correlated heuristics.
    Q("q_cohens_kappa", (s, d) => {
      val t = col("text")
      graft.ops.Stats.cohensKappa(Tables.documents(s, d),
        when(length(t) > 800, "long").otherwise("short"),
        when(regexp_count(t, lit("[A-Za-z]+")) > 150, "long")
          .otherwise("short"))
    },
      // Same rule raters, same full-outer marginal join for the chance
      // term, DECIMAL p_e sum, NULL pin at p_e = 1.
      "WITH r AS (SELECT " +
        "CASE WHEN length(text) > 800 THEN 'long' ELSE 'short' END AS r1, " +
        "CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+')) > 150 THEN 'long' ELSE 'short' END AS r2 " +
        "FROM documents), " +
        "obs AS (SELECT r1, r2, count(*) AS o FROM r GROUP BY 1, 2), " +
        "tot AS (SELECT sum(o) AS n, " +
        "sum(CASE WHEN r1 = r2 THEN o ELSE 0 END) AS diag FROM obs), " +
        "rt AS (SELECT r1 AS k, sum(o) AS rt FROM obs GROUP BY 1), " +
        "ct AS (SELECT r2 AS k, sum(o) AS ct FROM obs GROUP BY 1), " +
        "pe AS (SELECT CAST(sum(CAST((CAST(coalesce(rt, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE)) * " +
        "(CAST(coalesce(ct, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE) AS pe " +
        "FROM rt FULL OUTER JOIN ct ON rt.k = ct.k CROSS JOIN tot) " +
        "SELECT CAST(n AS BIGINT) AS n, " +
        "round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed, " +
        "round(pe, 6) AS p_chance, " +
        "CASE WHEN pe = 1.0 THEN NULL ELSE " +
        "round((CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) - pe) / (1.0 - pe), 6) END AS kappa " +
        "FROM tot CROSS JOIN pe"),

    // Gumbel block-maxima fit (Stats.gumbelFit): monthly maxima of the
    // daily order count, method-of-moments location/scale and the
    // 10-block return level — the provisioning-peak readout.
    Q("q_gumbel_fit", (s, d) =>
      graft.ops.Stats.gumbelFit(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same monthly block maxima, DECIMAL moment sums, same pinned
      // pi/Euler-gamma literals and fixed parenthesization.
      s"WITH s AS ${dailyCounts("x")}, " +
        "b AS (SELECT date_trunc('month', d) AS m, max(x) AS mx FROM s GROUP BY 1), " +
        "mo AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks, " +
        "sum(CAST(mx AS DECIMAL(28,8))) AS s1, " +
        "sum(CAST(mx * mx AS DECIMAL(28,8))) AS s2 FROM b) " +
        "SELECT n_blocks, " +
        "round(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE), 6) AS mean_max, " +
        "round(sqrt((CAST(s2 AS DOUBLE) - CAST(n_blocks AS DOUBLE) * " +
        "(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE))) / " +
        "(CAST(n_blocks AS DOUBLE) - 1.0)) * sqrt(6.0) / 3.141592653589793, 6) AS beta, " +
        "round(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE) - 0.5772156649015329 * " +
        "(sqrt((CAST(s2 AS DOUBLE) - CAST(n_blocks AS DOUBLE) * " +
        "(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE))) / " +
        "(CAST(n_blocks AS DOUBLE) - 1.0)) * sqrt(6.0) / 3.141592653589793), 6) AS mu, " +
        "round((CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE) - 0.5772156649015329 * " +
        "(sqrt((CAST(s2 AS DOUBLE) - CAST(n_blocks AS DOUBLE) * " +
        "(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE))) / " +
        "(CAST(n_blocks AS DOUBLE) - 1.0)) * sqrt(6.0) / 3.141592653589793)) - " +
        "(sqrt((CAST(s2 AS DOUBLE) - CAST(n_blocks AS DOUBLE) * " +
        "(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE))) / " +
        "(CAST(n_blocks AS DOUBLE) - 1.0)) * sqrt(6.0) / 3.141592653589793) * " +
        "ln(-ln(0.9)), 6) AS return_level_10 FROM mo"),

    // Exact-margin permutation test (Stats.permutationTest): 100
    // md5-dealt re-labelings of the odd/even-user split — the
    // distribution-free p-value beside q_ab_test's normal z. Cost is
    // linear in reps (the documented x-reps multiplier); 100 keeps the
    // engine's heaviest deliberate op inside the sweep budget.
    Q("q_permutation_test", (s, d) =>
      graft.ops.Stats.permutationTest(Tables.events(s, d), "event_id",
        col("user_id") % 2 === 1, "value", reps = 100),
      // Same md5 deal, same per-replicate rank windows and 2-cell DECIMAL
      // sums, same add-one p with the reps+1 literal.
      "WITH b AS (SELECT CAST(event_id AS VARCHAR) AS id, " +
        "CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g, value AS x " +
        "FROM events WHERE value IS NOT NULL), " +
        "t AS (SELECT sum(1 - g) AS na, sum(g) AS nb, " +
        "sum(CAST(CASE WHEN g = 0 THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS sa, " +
        "sum(CAST(CASE WHEN g = 1 THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS sb FROM b), " +
        "r AS (SELECT id, x, unnest(range(100)) AS rep FROM b), " +
        "h AS (SELECT rep, x, id, ('0x' || substr(md5(id || ':' || " +
        "CAST(rep AS VARCHAR) || '#1'), 1, 8))::BIGINT AS hh FROM r), " +
        "rk AS (SELECT rep, x, row_number() OVER " +
        "(PARTITION BY rep ORDER BY hh, id) AS rk FROM h), " +
        "pm AS (SELECT rep, x, rk <= t.nb AS isb FROM rk CROSS JOIN t), " +
        "d AS (SELECT rep, " +
        "CAST(sum(CAST(CASE WHEN isb THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS DOUBLE) / " +
        "CAST(sum(CASE WHEN isb THEN 1 ELSE 0 END) AS DOUBLE) - " +
        "CAST(sum(CAST(CASE WHEN NOT isb THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS DOUBLE) / " +
        "CAST(sum(CASE WHEN isb THEN 0 ELSE 1 END) AS DOUBLE) AS dd " +
        "FROM pm GROUP BY 1) " +
        "SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b, " +
        "round(max(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) - " +
        "CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)), 6) + 0.0 AS diff_obs, " +
        "CAST(max(100) AS BIGINT) AS reps, " +
        "round((1.0 + CAST(sum(CASE WHEN abs(dd) >= " +
        "abs(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) - " +
        "CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) THEN 1 ELSE 0 END) AS DOUBLE)) / " +
        "101.0, 6) AS p_perm FROM d CROSS JOIN t"),

    // Method agreement (Stats.methodAgreement): Lin's CCC + Bland-Altman
    // limits between daily order count and daily shipped-line count —
    // the two-channels-same-metric migration readout.
    Q("q_method_agreement", (s, d) => {
      val a = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).alias("d"))
        .agg(count(lit(1)).alias("x"))
      val b = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).alias("d"))
        .agg(count(lit(1)).alias("y"))
      graft.ops.Stats.methodAgreement(a.join(b, "d"), col("x"), col("y"))
    },
      // Same paired daily series, DECIMAL moments, pinned z literal.
      methodAgreementOracle),

    // Log-rank test (Stats.logRankTest): odd vs even users'
    // time-to-purchase curves compared at every event time — the
    // two-curve companion to q_survival_km, same censoring.
    Q("q_logrank", (s, d) => {
      val subj = Tables.events(s, d).groupBy("user_id").agg(
        min(col("ts")).alias("__first"),
        min(when(col("event_type") === "purchase", col("ts"))).alias("__conv"),
        max(col("ts")).alias("__last"))
        .select(col("user_id"),
          datediff(to_date(coalesce(col("__conv"), col("__last"))),
            to_date(col("__first"))).cast("long").alias("dur"),
          col("__conv").isNotNull.alias("observed"))
      graft.ops.Stats.logRankTest(subj, "dur", "observed",
        col("user_id") % 2 === 1)
    },
      // Same duration-grain per-group cells, reverse-cumulative risk sets,
      // DECIMAL expectation/variance sums.
      "WITH subj AS (SELECT user_id, " +
        "datediff('day', CAST(min(ts) AS DATE), " +
        "CAST(coalesce(min(CASE WHEN event_type = 'purchase' THEN ts END), " +
        "max(ts)) AS DATE)) AS t, " +
        "CASE WHEN min(CASE WHEN event_type = 'purchase' THEN ts END) " +
        "IS NOT NULL THEN 1 ELSE 0 END AS o, " +
        "CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g " +
        "FROM events GROUP BY 1), " +
        "pt AS (SELECT t, " +
        "sum(CASE WHEN g = 0 THEN o ELSE 0 END) AS d1, " +
        "sum(CASE WHEN g = 1 THEN o ELSE 0 END) AS d2, " +
        "sum(1 - g) AS l1, sum(g) AS l2 FROM subj GROUP BY 1), " +
        "rk AS (SELECT t, d1, d2, " +
        "sum(l1) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND " +
        "UNBOUNDED FOLLOWING) AS n1, " +
        "sum(l2) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND " +
        "UNBOUNDED FOLLOWING) AS n2 FROM pt), " +
        "f AS (SELECT t, d1, d2, n1, n2, d1 + d2 AS d, n1 + n2 AS n FROM rk " +
        "WHERE d1 + d2 > 0 AND n1 + n2 > 1), " +
        "ag AS (SELECT CAST(sum(d1) AS BIGINT) AS o1, " +
        "sum(CAST(CAST(n1 AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE) " +
        "AS DECIMAL(28,10))) AS e1, " +
        "sum(CAST(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "CAST(n - d AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) " +
        "AS DECIMAL(28,10))) AS v FROM f) " +
        "SELECT o1 AS observed_a, round(CAST(e1 AS DOUBLE), 6) AS expected_a, " +
        "CASE WHEN CAST(v AS DOUBLE) = 0.0 THEN NULL ELSE " +
        "round((CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE)) * " +
        "(CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE)) / CAST(v AS DOUBLE), 6) " +
        "END AS chi2 FROM ag"),

    // Ratio-metric delta CI (Stats.ratioMetricCI): revenue per event
    // with per-user correlated numerator/denominator — the inference a
    // naive mean-of-ratios gets wrong.
    Q("q_ratio_ci", (s, d) =>
      graft.ops.Stats.ratioMetricCI(Tables.events(s, d), col("user_id"),
        coalesce(col("value"), lit(0.0)), lit(1)),
      // Same per-unit DECIMAL totals, sample moments, pinned z literal.
      ratioCiOracle),

    // Empirical-Bayes rate shrinkage (Stats.ebShrinkage): per-user
    // purchase rates under a moment-fitted beta prior — the "3/3 beats
    // 950/1000" fix by learned prior rather than Wilson pessimism.
    Q("q_eb_shrinkage", (s, d) =>
      graft.ops.Stats.ebShrinkage(Tables.events(s, d), col("user_id"),
        col("event_type") === "purchase"),
      // Same moment-fitted beta prior over >= 5-trial keys, same shrunken
      // rate arithmetic and (rate DESC, key) order.
      ebShrinkageOracle),

    // Hurst exponent (Stats.hurstExponent): R/S long-memory of daily
    // order volume over block sizes 8..64 — persistent vs mean-reverting.
    Q("q_hurst", (s, d) =>
      graft.ops.Stats.hurstExponent(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same full-block R/S per (size, block) with DECIMAL cumulative
      // deviations, 9-dp block values, DECIMAL log-log OLS.
      hurstOracle),

    // Mantel-Haenszel pooled OR (Stats.mantelHaenszel): purchase odds by
    // user parity pooled across hour strata, beside the crude OR — the
    // Simpson-reversal detector for binary outcomes.
    Q("q_mantel_haenszel", (s, d) =>
      graft.ops.Stats.mantelHaenszel(Tables.events(s, d),
        col("user_id") % 2 === 1, col("event_type") === "purchase",
        hour(col("ts"))),
      // Same stratum 2x2 cells, DECIMAL MH sums, same crude-OR contrast.
      "WITH b AS (SELECT hour(ts) AS s, " +
        "CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS e, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events), " +
        "c AS (SELECT s, " +
        "sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS aa, " +
        "sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS bb, " +
        "sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS cc, " +
        "sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS dd FROM b GROUP BY 1), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n_strata, " +
        "sum(aa) AS ta, sum(bb) AS tb, sum(cc) AS tc, sum(dd) AS td, " +
        "sum(CAST(CAST(aa AS DOUBLE) * CAST(dd AS DOUBLE) / " +
        "CAST(aa + bb + cc + dd AS DOUBLE) AS DECIMAL(28,10))) AS num, " +
        "sum(CAST(CAST(bb AS DOUBLE) * CAST(cc AS DOUBLE) / " +
        "CAST(aa + bb + cc + dd AS DOUBLE) AS DECIMAL(28,10))) AS den FROM c) " +
        "SELECT n_strata, " +
        "CASE WHEN tb * tc = 0 THEN NULL ELSE " +
        "round(CAST(ta AS DOUBLE) * CAST(td AS DOUBLE) / " +
        "(CAST(tb AS DOUBLE) * CAST(tc AS DOUBLE)), 6) END AS or_crude, " +
        "CASE WHEN CAST(den AS DOUBLE) = 0.0 THEN NULL ELSE " +
        "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS or_mh FROM g"),

    // Theil T decomposition (Stats.theilIndex): per-customer revenue
    // inequality split into between-nation and within-nation components
    // — the decomposable concentration readout beside q_gini.
    Q("q_theil_index", (s, d) => {
      val perCust = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_nationkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .alias("rev"))
      graft.ops.Stats.theilIndex(perCust, col("c_nationkey"), col("rev"))
    },
      // Same per-customer DECIMAL revenue, same entity/between DECIMAL
      // term sums, within = total - between on both sides.
      "WITH j AS (SELECT c_custkey, c_nationkey, o_totalprice FROM orders " +
        "JOIN customer ON o_custkey = c_custkey), " +
        "pc AS (SELECT c_custkey, c_nationkey AS g, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x " +
        "FROM j GROUP BY 1, 2), " +
        "b AS (SELECT g, x FROM pc WHERE x IS NOT NULL AND x > 0), " +
        "gr AS (SELECT g, count(*) AS ng, sum(CAST(x AS DECIMAL(38,10))) AS sg " +
        "FROM b GROUP BY 1), " +
        "t AS (SELECT sum(ng) AS n, sum(sg) AS st FROM gr), " +
        "tm AS (SELECT g, sum(CAST(round((x / CAST(t.st AS DOUBLE)) * " +
        "ln(x / (CAST(t.st AS DOUBLE) / CAST(t.n AS DOUBLE))), 9) AS DECIMAL(28,14))) AS tt " +
        "FROM b CROSS JOIN t GROUP BY 1), " +
        "o AS (SELECT CAST(max(t.n) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS n_groups, sum(tt) AS total, " +
        "sum(CAST(round((CAST(sg AS DOUBLE) / CAST(t.st AS DOUBLE)) * " +
        "ln((CAST(sg AS DOUBLE) / CAST(gr.ng AS DOUBLE)) / " +
        "(CAST(t.st AS DOUBLE) / CAST(t.n AS DOUBLE))), 9) AS DECIMAL(28,14))) AS betw " +
        "FROM gr JOIN tm USING (g) CROSS JOIN t) " +
        "SELECT n, n_groups, round(CAST(total AS DOUBLE), 6) AS theil_total, " +
        "round(CAST(betw AS DOUBLE), 6) AS theil_between, " +
        "round(CAST(total AS DOUBLE) - CAST(betw AS DOUBLE), 6) AS theil_within FROM o"),

    // Distribution overlap (Stats.overlapCoefficient): do odd and even
    // users' value distributions share support — the positivity
    // diagnostic in front of the causal estimators.
    Q("q_overlap_coefficient", (s, d) =>
      graft.ops.Stats.overlapCoefficient(Tables.events(s, d),
        col("user_id") % 2 === 1, "value"),
      // Same pooled-span bins, DECIMAL min-mass sum.
      "WITH b AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g, " +
        "CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL), " +
        "bo AS (SELECT min(v) AS lo, max(v) AS hi FROM b), " +
        "c AS (SELECT CASE WHEN hi = lo THEN 0 ELSE " +
        "least(greatest(CAST(floor((v - lo) / ((hi - lo) / 20.0)) AS BIGINT), 0), 19) END AS bin, " +
        "sum(1 - g) AS ca, sum(g) AS cb FROM b CROSS JOIN bo GROUP BY 1), " +
        "t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c) " +
        "SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b, " +
        "CAST(count(*) AS BIGINT) AS n_bins_used, " +
        "round(CAST(sum(CAST(least(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), " +
        "CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE), 6) AS overlap " +
        "FROM c CROSS JOIN t"),

    // STL strength (Stats.stlStrength): Hyndman's F_trend/F_seasonal
    // over the decomposition — does the weekly shape mean anything?
    Q("q_stl_strength", (s, d) =>
      graft.ops.Stats.stlStrength(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same decomposition CTEs as q_stl_decompose, then the component
      // variances off DECIMAL moments of the 6-dp-pinned columns.
      stlStrengthOracle),

    // Histogram-bin advisor (Stats.binAdvisor): Freedman-Diaconis width
    // and count beside Sturges over the extended-price column.
    Q("q_bin_advisor", (s, d) =>
      graft.ops.Stats.binAdvisor(Tables.lineitem(s, d), "l_extendedprice"),
      // Same exact quartiles, pinned -1/3 exponent, ln-ratio Sturges.
      "WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, min(v) AS lo, max(v) AS hi, " +
        "quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3 FROM b) " +
        "SELECT n, round(lo, 6) AS lo, round(hi, 6) AS hi, " +
        "round(q3 - q1, 6) AS iqr, " +
        "CASE WHEN q3 - q1 = 0.0 THEN NULL ELSE " +
        "round(2.0 * (q3 - q1) * pow(CAST(n AS DOUBLE), -1.0 / 3.0), 6) END AS fd_width, " +
        "CASE WHEN q3 - q1 = 0.0 THEN NULL ELSE " +
        "CAST(ceil(round((hi - lo) / (2.0 * (q3 - q1) * pow(CAST(n AS DOUBLE), -1.0 / 3.0)), 9)) AS BIGINT) END AS fd_bins, " +
        "CAST(ceil(round(ln(CAST(n AS DOUBLE)) / ln(2.0), 9)) AS BIGINT) + 1 AS sturges_bins FROM m"),

    // Wald IV estimator (Stats.ivWald): ITT / first stage on a synthetic
    // odd-user instrument — the unobserved-confounder leg of the causal
    // family.
    Q("q_iv_wald", (s, d) =>
      graft.ops.Stats.ivWald(Tables.events(s, d),
        col("user_id") % 2 === 1,
        col("user_id") % 2 === 1 && col("value") > 50, col("value")),
      // Same conditional DECIMAL moments, same ITT / first-stage ratio.
      "WITH b AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS z, " +
        "CASE WHEN user_id % 2 = 1 AND value > 50 THEN 1 ELSE 0 END AS t, " +
        "value AS y FROM events WHERE value IS NOT NULL), " +
        "m AS (SELECT CAST(sum(z) AS BIGINT) AS n_z1, " +
        "CAST(sum(1 - z) AS BIGINT) AS n_z0, " +
        "sum(CAST(CASE WHEN z = 1 THEN y ELSE 0.0 END AS DECIMAL(38,10))) AS y1, " +
        "sum(CAST(CASE WHEN z = 0 THEN y ELSE 0.0 END AS DECIMAL(38,10))) AS y0, " +
        "sum(CASE WHEN z = 1 THEN t ELSE 0 END) AS t1, " +
        "sum(CASE WHEN z = 0 THEN t ELSE 0 END) AS t0 FROM b) " +
        "SELECT n_z1, n_z0, " +
        "round(CAST(y1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) - " +
        "CAST(y0 AS DOUBLE) / CAST(n_z0 AS DOUBLE), 6) AS itt, " +
        "round(CAST(t1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) - " +
        "CAST(t0 AS DOUBLE) / CAST(n_z0 AS DOUBLE), 6) AS first_stage, " +
        "round((CAST(y1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) - " +
        "CAST(y0 AS DOUBLE) / CAST(n_z0 AS DOUBLE)) / " +
        "(CAST(t1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) - " +
        "CAST(t0 AS DOUBLE) / CAST(n_z0 AS DOUBLE)), 6) AS late FROM m"),

    // Best-split changepoint (Stats.bestSplit): the single day that
    // maximizes between-segment variance of daily order volume — binary
    // segmentation's first step beside the fixed-hinge q_segmented_trend.
    Q("q_best_split", (s, d) =>
      graft.ops.Stats.bestSplit(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same DECIMAL prefix sums over the calendar-bounded series, same
      // between-variance gain with fixed parenthesization.
      bestSplitOracle),

    // Minimum detectable effect (Stats.mdeReport): what lift could the
    // odd/even-user split even see at alpha .05 / power .80 — the
    // experiment-design readout beside q_ab_test.
    Q("q_mde", (s, d) =>
      graft.ops.Stats.mdeReport(Tables.events(s, d),
        col("user_id") % 2 === 1, "value"),
      // Same conditional DECIMAL moments, same pooled-sd and z-literal
      // arithmetic with fixed parenthesization.
      mdeOracle),

    // Kruskal-Wallis H (Stats.kruskalWallis): do the five event types'
    // value distributions differ? — the k-group rank ANOVA beside
    // q_anova, on the mann-whitney rank machinery.
    Q("q_kruskal_wallis", (s, d) =>
      graft.ops.Stats.kruskalWallis(Tables.events(s, d),
        col("event_type"), "value"),
      "WITH b AS (SELECT event_type AS g, value FROM events " +
        "WHERE value IS NOT NULL), " +
        "pv AS (SELECT g, value, count(*) AS c FROM b GROUP BY 1, 2), " +
        "pt AS (SELECT value, sum(c) AS t FROM pv GROUP BY 1), " +
        "r AS (SELECT value, t, coalesce(sum(t) OVER (ORDER BY value " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pt), " +
        "rk AS (SELECT value, CAST(bef AS DOUBLE) + (t + 1) / 2.0 AS rnk FROM r), " +
        "gg AS (SELECT pv.g, sum(c) AS ng, " +
        "sum(CAST(CAST(c AS DOUBLE) * rnk AS DECIMAL(28,8))) AS rg " +
        "FROM pv JOIN rk USING (value) GROUP BY 1), " +
        "tt AS (SELECT sum(t) AS n, " +
        "sum(CAST(t * t * t - t AS DECIMAL(28,8))) AS tc FROM pt), " +
        "cc AS (SELECT CAST(count(*) AS BIGINT) AS k_groups, " +
        "CAST(max(tt.n) AS BIGINT) AS n_total, " +
        "sum(CAST(CAST(rg AS DOUBLE) * CAST(rg AS DOUBLE) / " +
        "CAST(ng AS DOUBLE) AS DECIMAL(28,8))) AS s, max(tc) AS tc " +
        "FROM gg CROSS JOIN tt) " +
        "SELECT k_groups, n_total, " +
        "CASE WHEN 1.0 - CAST(tc AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)) = 0.0 " +
        "THEN NULL ELSE round(12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0)) * CAST(s AS DOUBLE) - " +
        "3.0 * (CAST(n_total AS DOUBLE) + 1.0), 6) END AS h, " +
        "CASE WHEN 1.0 - CAST(tc AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)) = 0.0 " +
        "THEN NULL ELSE round((12.0 / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0)) * CAST(s AS DOUBLE) - " +
        "3.0 * (CAST(n_total AS DOUBLE) + 1.0)) / " +
        "(1.0 - CAST(tc AS DOUBLE) / " +
        "(CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))), 6) " +
        "END AS h_tie_corrected FROM cc"),

    // Friedman repeated-measures test: 40 order-key blocks x return-flag
    // treatments over per-cell mean extended price, with Kendall's W.
    Q("q_friedman", (s, d) =>
      graft.ops.Stats.friedmanTest(Tables.lineitem(s, d),
        col("l_orderkey") % 40, col("l_returnflag"), "l_extendedprice"),
      // Same per-value mid-ranks off the cumulative, DECIMAL R_g and tie
      // sums, same fixed H parenthesization with the C = 0 NULL pin.
      // Mirrors Stats.friedmanTest: 6-dp DECIMAL cell means, complete-block
      // restriction, within-block average-tie pairwise ranks, Q and W with
      // the same tie divisor 1 - sum(t^3-t)/(n*k*(k^2-1)) (NULL at 0).
      "WITH cells AS (SELECT l_orderkey % 40 AS b, l_returnflag AS t, " +
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) " +
        "/ count(*), 6) AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2), " +
        "kk AS (SELECT count(DISTINCT t) AS k FROM cells), " +
        "comp AS (SELECT b FROM cells GROUP BY b " +
        "HAVING count(*) = (SELECT k FROM kk)), " +
        "cc AS (SELECT cells.* FROM cells JOIN comp USING (b)), " +
        "tg AS (SELECT b, v, count(*) AS t FROM cc GROUP BY b, v), " +
        "tts AS (SELECT coalesce(sum(t * t * t - t), 0) AS tt FROM tg), " +
        "rk AS (SELECT a.b, a.t, " +
        "sum(CASE WHEN o.v < a.v THEN 1 ELSE 0 END) + " +
        "(sum(CASE WHEN o.v = a.v THEN 1 ELSE 0 END) + 1) / 2.0 AS r " +
        "FROM cc a JOIN cc o ON a.b = o.b GROUP BY a.b, a.t), " +
        "mr AS (SELECT t, count(*) AS n, " +
        "CAST(sum(CAST(r AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS rbar " +
        "FROM rk GROUP BY t), " +
        "s AS (SELECT max(n) AS n_blocks, max(kk.k) AS k, " +
        "CAST(sum(CAST((rbar - (CAST(kk.k AS DOUBLE) + 1.0) / 2.0) * " +
        "(rbar - (CAST(kk.k AS DOUBLE) + 1.0) / 2.0) AS DECIMAL(28,8))) " +
        "AS DOUBLE) AS ss FROM mr CROSS JOIN kk), " +
        "f AS (SELECT n_blocks, k, " +
        "12.0 * CAST(n_blocks AS DOUBLE) / (CAST(k AS DOUBLE) * " +
        "(CAST(k AS DOUBLE) + 1.0)) * ss AS qraw, " +
        "1.0 - CAST(tt AS DOUBLE) / (CAST(n_blocks AS DOUBLE) * " +
        "CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)) " +
        "AS corr FROM s CROSS JOIN tts) " +
        "SELECT n_blocks, k AS k_treatments, " +
        "round(CASE WHEN corr = 0.0 THEN NULL ELSE qraw / corr END, 6) " +
        "+ 0.0 AS q, " +
        "round(CASE WHEN corr = 0.0 THEN NULL ELSE qraw / corr END / " +
        "(CAST(n_blocks AS DOUBLE) * (CAST(k AS DOUBLE) - 1.0)), 6) " +
        "+ 0.0 AS kendalls_w FROM f"),

    // Grubbs single-outlier statistic per market segment on acctbal.
    Q("q_grubbs", (s, d) =>
      graft.ops.Stats.grubbsTest(Tables.customer(s, d),
        col("c_mktsegment"), "c_acctbal").orderBy("grp"),
      // Mirrors Stats.grubbsTest: DECIMAL moments, 6-dp |dev| argmax with
      // (dev, x) tie order, sample sd, G guarded on n>=3 and sd>0.
      "WITH m AS (SELECT c_mktsegment AS grp, count(*) AS n, " +
        "CAST(sum(CAST(c_acctbal AS DECIMAL(28,8))) AS DOUBLE) AS s, " +
        "CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(28,8))) AS DOUBLE) AS s2 " +
        "FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1), " +
        "v AS (SELECT grp, n, s / CAST(n AS DOUBLE) AS mean, " +
        "sqrt(greatest((s2 - s * s / CAST(n AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) - 1.0), 0.0)) AS sd FROM m), " +
        "d AS (SELECT v.grp, round(abs(c.c_acctbal - v.mean), 6) AS dev, " +
        "c.c_acctbal AS x FROM customer c JOIN v ON c.c_mktsegment = v.grp " +
        "WHERE c.c_acctbal IS NOT NULL), " +
        "su AS (SELECT grp, x AS suspect FROM (SELECT grp, x, " +
        "row_number() OVER (PARTITION BY grp ORDER BY dev DESC, x DESC) AS rn " +
        "FROM d) WHERE rn = 1) " +
        "SELECT v.grp, v.n, round(v.mean, 6) + 0.0 AS mean, " +
        "round(v.sd, 6) + 0.0 AS sd, " +
        "CASE WHEN v.n >= 3 AND v.sd > 0 THEN " +
        "round(abs(su.suspect - v.mean) / v.sd, 6) + 0.0 END AS g, " +
        "su.suspect FROM v JOIN su USING (grp) ORDER BY grp"),

    // Stratified ATE (Stats.stratifiedATE): odd vs even users' value
    // gap, hour-of-day strata — the naive-vs-adjusted causal contrast.
    Q("q_stratified_ate", (s, d) =>
      graft.ops.Stats.stratifiedATE(Tables.events(s, d),
        col("user_id") % 2 === 1, col("value"), hour(col("ts"))),
      "WITH b AS (SELECT hour(ts) AS s, " +
        "CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS tr, value AS y " +
        "FROM events WHERE value IS NOT NULL), " +
        "c AS (SELECT s, sum(tr) AS nt, sum(1 - tr) AS nc, " +
        "sum(CAST(CASE WHEN tr = 1 THEN y ELSE 0.0 END AS DECIMAL(28,10))) AS st, " +
        "sum(CAST(CASE WHEN tr = 0 THEN y ELSE 0.0 END AS DECIMAL(28,10))) AS sc " +
        "FROM b GROUP BY 1 HAVING sum(tr) > 0 AND sum(1 - tr) > 0), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_strata, " +
        "CAST(sum(nt + nc) AS BIGINT) AS n_used, " +
        "sum(nt) AS tnt, sum(nc) AS tnc, sum(st) AS tst, sum(sc) AS tsc, " +
        "sum(CAST(CAST(nt + nc AS DOUBLE) * " +
        "(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) - " +
        "CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) AS DECIMAL(28,10))) AS wsum FROM c) " +
        "SELECT n_strata, n_used, " +
        "round(CAST(tst AS DOUBLE) / CAST(tnt AS DOUBLE) - " +
        "CAST(tsc AS DOUBLE) / CAST(tnc AS DOUBLE), 6) AS diff_naive, " +
        "round(CAST(wsum AS DOUBLE) / CAST(n_used AS DOUBLE), 6) AS ate_stratified " +
        "FROM a"),

    // Sequential probability ratio test (Stats.sprt): per-arm purchase
    // Bernoulli stream in (ts, event_id) order, Wald boundaries, first
    // crossing + end-of-stream state — the always-valid A/B readout.
    Q("q_sprt", (s, d) =>
      graft.ops.Stats.sprt(Tables.events(s, d), col("user_id") % 2,
        "ts", "event_id", col("event_type") === "purchase",
        p0 = 0.15, p1 = 0.22),
      // Mirrors Stats.sprt (p0=.15, p1=.22, alpha=beta=.05): integer k/n
      // cumulative windows, per-row LLR from the same literal ratios,
      // first boundary crossing via row_number, end state via max-n row.
      "WITH b AS (SELECT user_id % 2 AS arm, ts, event_id, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s FROM events), " +
        "c AS (SELECT arm, count(*) OVER w AS n, " +
        "CAST(sum(s) OVER w AS BIGINT) AS k FROM b " +
        "WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "r AS (SELECT arm, n, k, CAST(k AS DOUBLE) * ln(0.22 / 0.15) + " +
        "CAST(n - k AS DOUBLE) * ln((1.0 - 0.22) / (1.0 - 0.15)) AS llr FROM c), " +
        "f AS (SELECT arm, n AS n_total, k AS k_total, llr AS llrf FROM " +
        "(SELECT r.*, row_number() OVER (PARTITION BY arm ORDER BY n DESC) AS rn " +
        "FROM r) WHERE rn = 1), " +
        "st AS (SELECT arm, n AS stop_n, llr AS llrs FROM " +
        "(SELECT r.*, row_number() OVER (PARTITION BY arm ORDER BY n) AS rn " +
        "FROM r WHERE llr >= ln((1.0 - 0.05) / 0.05) " +
        "OR llr <= ln(0.05 / (1.0 - 0.05))) WHERE rn = 1) " +
        "SELECT f.arm, f.n_total, f.k_total, " +
        "round(f.llrf, 6) + 0.0 AS llr_final, st.stop_n, " +
        "round(st.llrs, 6) + 0.0 AS stop_llr, " +
        "CASE WHEN st.stop_n IS NULL THEN 'continue' " +
        "WHEN st.llrs >= ln((1.0 - 0.05) / 0.05) THEN 'reject_h0' " +
        "ELSE 'accept_h0' END AS decision " +
        "FROM f LEFT JOIN st USING (arm) ORDER BY arm"),

    // Propensity-score matching ATT (Stats.psmAtt): per-user activity
    // features, shared Newton propensity fit, caliper-bucketed 1-NN
    // match, ATT beside the naive conversion gap.
    Q("q_psm_att", (s, d) => {
      val perUser = Tables.events(s, d).groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
            .alias("tv"),
          count(lit(1)).alias("ne"),
          max(when(col("event_type") === "purchase", 1.0).otherwise(0.0))
            .alias("conv"))
      graft.ops.Stats.psmAtt(perUser, col("user_id"),
        col("user_id") % 10 < 3, col("conv"),
        graft.functions.PortableMath.pin9(
          graft.functions.PortableMath.pln(lit(1.0) + col("tv"))),
        graft.functions.PortableMath.pin9(
          graft.functions.PortableMath.pln(lit(1.0) + col("ne").cast("double"))))
    },
      // Same positivity-filtered stratum cells, DECIMAL outcome sums, same
      // share-weighted difference arithmetic.
      psmAttOracle),

    // Kernel-at-fit-arguments probe for the PSM features:
    // q_psm_att's x1 = pin9(pln(1+Σvalue)) is
    // the ONE remaining covariate with a non-enumerable domain (the sum
    // is non-integer), still kernel-computed on both engines — so digest
    // the RAW pln outputs at those exact arguments, bit-chunked and
    // BIGINT-summed per user-mod-20 group. A red compare here names the
    // diverging feature class before any fit machinery runs.
    Q("q_psm_diag_kln", (s, d) => {
      val P = graft.functions.PortableMath
      val perUser = Tables.events(s, d).groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
            .alias("tv"),
          count(lit(1)).alias("ne"))
        .filter(col("tv").isNotNull)
        .select(col("user_id"),
          P.pln(lit(1.0) + col("tv")).alias("__plv"),
          P.pln(lit(1.0) + col("ne").cast("double")).alias("__plw"))
      val chunked = bitChunks(bitChunks(perUser, "__plv", "a_"),
        "__plw", "b_")
      val sums = Seq("a_", "b_").flatMap(p =>
        Seq("hi", "c1", "c2", "c3").map(c =>
          sum(org.apache.spark.sql.functions.col(s"$p$c").cast("long"))
            .alias(s"$p$c")))
      chunked.groupBy((col("user_id") % 20).alias("grp"))
        .agg(count(lit(1)).alias("n"), sums: _*)
        .orderBy("grp")
    },
      psmDiagKLnOracle),

    // Mann-Kendall trend test (Stats.mannKendall): monotone-trend
    // hypothesis readout over the daily order series — the significance
    // companion to q_theil_sen's slope.
    Q("q_mann_kendall", (s, d) =>
      graft.ops.Stats.mannKendall(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Mirrors Stats.mannKendall: same pairwise sign sum over the daily
      // table, tie-corrected variance, continuity-corrected z.
      s"WITH daily AS ${dailyCounts("y")}, " +
        "nd AS (SELECT count(*) AS n FROM daily), " +
        "sa AS (SELECT CAST(coalesce(sum(CASE WHEN b.y > a.y THEN 1 " +
        "WHEN b.y < a.y THEN -1 ELSE 0 END), 0) AS BIGINT) AS s " +
        "FROM daily a JOIN daily b ON a.d < b.d), " +
        "tm AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) " +
        "AS BIGINT) AS tm FROM " +
        "(SELECT count(*) AS t FROM daily GROUP BY y)), " +
        "f AS (SELECT nd.n AS n_days, sa.s AS s, " +
        "(CAST(nd.n AS DOUBLE) * (CAST(nd.n AS DOUBLE) - 1.0) * " +
        "(2.0 * CAST(nd.n AS DOUBLE) + 5.0) - CAST(tm.tm AS DOUBLE)) / 18.0 " +
        "AS vs FROM nd CROSS JOIN sa CROSS JOIN tm) " +
        "SELECT n_days, s, round(vs, 6) + 0.0 AS var_s, " +
        "CASE WHEN vs > 0 THEN round(CASE WHEN s > 0 THEN " +
        "(CAST(s AS DOUBLE) - 1.0) / sqrt(vs) WHEN s < 0 THEN " +
        "(CAST(s AS DOUBLE) + 1.0) / sqrt(vs) ELSE 0.0 END, 6) + 0.0 END " +
        "AS z FROM f"),

    // Jarque-Bera normality statistic per market segment on acctbal
    // (Stats.jarqueBera): skewness/kurtosis/JB from one DECIMAL
    // power-sum pass — the is-it-even-Gaussian pre-flight.
    Q("q_jarque_bera", (s, d) =>
      graft.ops.Stats.jarqueBera(Tables.customer(s, d),
        col("c_mktsegment"), "c_acctbal").orderBy("grp"),
      // Mirrors Stats.jarqueBera: DECIMAL(38,8) raw power sums, the same
      // fixed-parenthesization central-moment expansion, n>=4 / m2>0 pins.
      "WITH m AS (SELECT c_mktsegment AS grp, count(*) AS n, " +
        "CAST(sum(CAST(c_acctbal AS DECIMAL(38,8))) AS DOUBLE) AS s1, " +
        "CAST(sum(CAST(c_acctbal * c_acctbal AS DECIMAL(38,8))) AS DOUBLE) AS s2, " +
        "CAST(sum(CAST(c_acctbal * c_acctbal * c_acctbal AS DECIMAL(38,8))) " +
        "AS DOUBLE) AS s3, " +
        "CAST(sum(CAST(c_acctbal * c_acctbal * c_acctbal * c_acctbal " +
        "AS DECIMAL(38,8))) AS DOUBLE) AS s4 " +
        "FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1), " +
        "v AS (SELECT grp, n, CAST(n AS DOUBLE) AS nd, " +
        "s1 / CAST(n AS DOUBLE) AS mean, s2, s3, s4 FROM m), " +
        "c AS (SELECT grp, n, nd, " +
        "s2 / nd - mean * mean AS m2, " +
        "s3 / nd - 3.0 * mean * (s2 / nd) + 2.0 * mean * mean * mean AS m3, " +
        "s4 / nd - 4.0 * mean * (s3 / nd) + 6.0 * mean * mean * (s2 / nd) " +
        "- 3.0 * mean * mean * mean * mean AS m4 FROM v), " +
        "r AS (SELECT grp, n, nd, m2, m3 / (m2 * sqrt(m2)) AS skew, " +
        "m4 / (m2 * m2) AS kurt FROM c) " +
        "SELECT grp, n, " +
        "CASE WHEN n >= 4 AND m2 > 0 THEN round(skew, 6) + 0.0 END AS skewness, " +
        "CASE WHEN n >= 4 AND m2 > 0 THEN round(kurt, 6) + 0.0 END AS kurtosis, " +
        "CASE WHEN n >= 4 AND m2 > 0 THEN round(nd / 6.0 * (skew * skew + " +
        "(kurt - 3.0) * (kurt - 3.0) / 4.0), 6) + 0.0 END AS jb " +
        "FROM r ORDER BY grp"),

    // Cochran's Q (Stats.cochranQ): user-bucket blocks x event-type
    // treatments, success = saw a value>50 event of that type — the
    // k-treatment binary repeated-measures test beside q_friedman.
    Q("q_cochran_q", (s, d) =>
      graft.ops.Stats.cochranQ(Tables.events(s, d),
        col("user_id") % 60, col("event_type"), col("value") > 50),
      // Mirrors Stats.cochranQ: same max-per-cell binaries, complete-block
      // restriction, exact integer row/column sums, zero-denominator pin.
      "WITH cells AS (SELECT user_id % 60 AS b, event_type AS t, " +
        "max(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS x " +
        "FROM events GROUP BY 1, 2), " +
        "kk AS (SELECT count(DISTINCT t) AS k FROM cells), " +
        "comp AS (SELECT b FROM cells GROUP BY b " +
        "HAVING count(*) = (SELECT k FROM kk)), " +
        "cc AS (SELECT cells.* FROM cells JOIN comp USING (b)), " +
        "cs AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS nn, " +
        "CAST(coalesce(sum(c * c), 0) AS BIGINT) AS sc2 FROM " +
        "(SELECT sum(x) AS c FROM cc GROUP BY t)), " +
        "rs AS (SELECT count(*) AS n_blocks, " +
        "CAST(coalesce(sum(r * r), 0) AS BIGINT) AS sr2 FROM " +
        "(SELECT sum(x) AS r FROM cc GROUP BY b)) " +
        "SELECT rs.n_blocks, kk.k AS k_treatments, cs.nn AS n_success, " +
        "CASE WHEN CAST(kk.k AS DOUBLE) * CAST(cs.nn AS DOUBLE) - " +
        "CAST(rs.sr2 AS DOUBLE) > 0 THEN " +
        "round((CAST(kk.k AS DOUBLE) - 1.0) * (CAST(kk.k AS DOUBLE) * " +
        "CAST(cs.sc2 AS DOUBLE) - CAST(cs.nn AS DOUBLE) * CAST(cs.nn AS DOUBLE)) " +
        "/ (CAST(kk.k AS DOUBLE) * CAST(cs.nn AS DOUBLE) - " +
        "CAST(rs.sr2 AS DOUBLE)), 6) + 0.0 END AS q " +
        "FROM rs CROSS JOIN cs CROSS JOIN kk"),

    // TOST equivalence (Stats.tost): odd vs even users' event value,
    // +/-5.0 margin — evidence of NO effect, with Cohen's d beside.
    Q("q_tost", (s, d) =>
      graft.ops.Stats.tost(Tables.events(s, d),
        col("user_id") % 2 === 1, "value", margin = 5.0),
      // Mirrors Stats.tost (margin 5.0, alpha 0.05): Welch se on DECIMAL
      // conditional moments, 6-dp z first, then the A&S 26.2.17 polynomial
      // (phiCdf's pinned literals) on the ROUNDED z, 9-dp p each side.
      "WITH b AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g, " +
        "value AS x FROM events WHERE value IS NOT NULL), " +
        "m AS (SELECT CAST(sum(1 - g) AS BIGINT) AS n_a, " +
        "CAST(sum(g) AS BIGINT) AS n_b, " +
        "sum(CAST(CASE WHEN g = 0 THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS sa, " +
        "sum(CAST(CASE WHEN g = 1 THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS sb, " +
        "sum(CAST(CASE WHEN g = 0 THEN x * x ELSE 0.0 END AS DECIMAL(38,10))) AS qa, " +
        "sum(CAST(CASE WHEN g = 1 THEN x * x ELSE 0.0 END AS DECIMAL(38,10))) AS qb " +
        "FROM b), " +
        "c AS (SELECT n_a, n_b, CAST(n_a AS DOUBLE) AS na, " +
        "CAST(n_b AS DOUBLE) AS nb, " +
        "CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma, " +
        "CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb, qa, qb FROM m), " +
        "v AS (SELECT n_a, n_b, na, nb, ma, mb, " +
        "(CAST(qa AS DOUBLE) - na * ma * ma) / (na - 1.0) AS va, " +
        "(CAST(qb AS DOUBLE) - nb * mb * mb) / (nb - 1.0) AS vb FROM c), " +
        "s AS (SELECT n_a, n_b, na, nb, mb - ma AS diff, " +
        "sqrt(va / na + vb / nb) AS se, " +
        "sqrt(((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0)) AS sp " +
        "FROM v), " +
        "z AS (SELECT n_a, n_b, diff, se, sp, " +
        "round((diff + 5.0) / se, 6) + 0.0 AS zlo, " +
        "round((5.0 - diff) / se, 6) + 0.0 AS zhi FROM s), " +
        "t AS (SELECT z.*, 1.0 / (1.0 + 0.2316419 * abs(zlo)) AS tlo, " +
        "1.0 / (1.0 + 0.2316419 * abs(zhi)) AS thi FROM z), " +
        "u AS (SELECT t.*, " +
        "1.0 - exp(abs(zlo) * abs(zlo) * (-0.5)) * 0.3989422804014327 * " +
        "(tlo * (0.319381530 + tlo * (-0.356563782 + tlo * (1.781477937 + " +
        "tlo * (-1.821255978 + tlo * 1.330274429))))) AS uplo, " +
        "1.0 - exp(abs(zhi) * abs(zhi) * (-0.5)) * 0.3989422804014327 * " +
        "(thi * (0.319381530 + thi * (-0.356563782 + thi * (1.781477937 + " +
        "thi * (-1.821255978 + thi * 1.330274429))))) AS uphi FROM t), " +
        "p AS (SELECT u.*, " +
        "round(1.0 - CASE WHEN zlo >= 0 THEN uplo ELSE 1.0 - uplo END, 9) AS plo, " +
        "round(1.0 - CASE WHEN zhi >= 0 THEN uphi ELSE 1.0 - uphi END, 9) AS phi " +
        "FROM u) " +
        "SELECT n_a, n_b, round(diff, 6) + 0.0 AS diff, " +
        "CASE WHEN se > 0 THEN round(diff / sp, 6) + 0.0 END AS cohens_d, " +
        "CASE WHEN se > 0 THEN zlo END AS z_lower, " +
        "CASE WHEN se > 0 THEN zhi END AS z_upper, " +
        "CASE WHEN se > 0 THEN greatest(plo, phi) END AS p_tost, " +
        "CASE WHEN se > 0 THEN greatest(plo, phi) < 0.05 END AS equivalent " +
        "FROM p"),

    // Per-segment two-proportion tests with REAL normal-tail p-values
    // (Stats.proportionPValues via the A&S phiCdf) pushed through the
    // existing BH step-up (Stats.bhAdjust) at alpha = 0.1 — the
    // full-fidelity sibling of q_bh_fdr's surrogate-p sweep.
    Q("q_prop_ztest_fdr", (s, d) =>
      graft.ops.Stats.bhAdjust(
        graft.ops.Stats.proportionPValues(Tables.customer(s, d),
          col("c_mktsegment"), col("c_nationkey") % 2 === 1,
          col("c_acctbal") > 5000).filter(col("p").isNotNull),
        "grp", "p", alpha = 0.1).orderBy("grp"),
      // Mirrors Stats.bhAdjust over Stats.proportionPValues: grouped
      // conditional counters, 6-dp z, A&S p, rank + reverse running min.
      "WITH c AS (SELECT c_mktsegment AS grp, " +
        "CAST(sum(CASE WHEN c_nationkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN c_nationkey % 2 = 0 AND c_acctbal > 5000 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS x_a, " +
        "CAST(sum(CASE WHEN c_nationkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN c_nationkey % 2 = 1 AND c_acctbal > 5000 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS x_b FROM customer GROUP BY 1), " +
        "e AS (SELECT c.*, " +
        "(CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE)) / " +
        "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pooled FROM c), " +
        "se AS (SELECT e.*, sqrt(pooled * (1.0 - pooled) * " +
        "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS sev FROM e), " +
        "zz AS (SELECT se.*, round((CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) - " +
        "CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / sev, 6) + 0.0 AS z FROM se), " +
        "pv AS (SELECT grp, n_a, x_a, n_b, x_b, " +
        "CASE WHEN sev > 0 THEN z END AS z, " +
        "CASE WHEN sev > 0 THEN round(2.0 * (1.0 - (1.0 - " +
        "exp(abs(z) * abs(z) * (-0.5)) * 0.3989422804014327 * " +
        "((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 + " +
        "(1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 + " +
        "(1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 + " +
        "(1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 + " +
        "(1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))))), 9) END AS p " +
        "FROM zz), " +
        "ok AS (SELECT * FROM pv WHERE p IS NOT NULL), " +
        "mm AS (SELECT count(*) AS m FROM ok), " +
        "rk AS (SELECT ok.*, CAST(row_number() OVER (ORDER BY p, grp) " +
        "AS BIGINT) AS rank FROM ok), " +
        "rw AS (SELECT rk.*, CAST(mm.m AS DOUBLE) * p / " +
        "CAST(rank AS DOUBLE) AS raw FROM rk CROSS JOIN mm), " +
        "ad AS (SELECT grp, n_a, x_a, n_b, x_b, z, p, rank, " +
        "round(least(1.0, min(raw) OVER (ORDER BY rank ROWS BETWEEN " +
        "CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS p_adj FROM rw) " +
        "SELECT grp, n_a, x_a, n_b, x_b, z, p, rank, p_adj, " +
        "p_adj <= 0.1 AS signif FROM ad ORDER BY grp"),

    // Page-Hinkley drift alarm (Stats.pageHinkley): running-mean
    // deviation monitor over the daily order series, lambda = 25.
    Q("q_page_hinkley", (s, d) =>
      graft.ops.Stats.pageHinkley(Tables.orders(s, d),
        to_date(col("o_orderdate")), lambda = 25.0),
      // Mirrors Stats.pageHinkley (lambda 25, delta 0): calendar-bounded
      // daily windows, 9-dp terms into DECIMAL(38,9) cumulatives.
      s"WITH daily AS ${dailyCounts("x")}, " +
        "t AS (SELECT d, x, count(*) OVER w AS i, " +
        "sum(CAST(x AS DECIMAL(38,9))) OVER w AS cum FROM daily " +
        "WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW)), " +
        "tt AS (SELECT d, round(x - CAST(cum AS DOUBLE) / " +
        "CAST(i AS DOUBLE) - 0.0, 9) + 0.0 AS term FROM t), " +
        "ph AS (SELECT d, sum(CAST(term AS DECIMAL(38,9))) OVER w AS v " +
        "FROM tt WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW)), " +
        "g AS (SELECT d, CAST(v - min(v) OVER w AS DOUBLE) AS gap FROM ph " +
        "WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW)), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_alarms, " +
        "min(d) AS first_alarm FROM g WHERE gap > 25.0), " +
        "s AS (SELECT count(*) AS n_days, round(max(gap), 6) + 0.0 " +
        "AS max_gap FROM g) " +
        "SELECT s.n_days, s.max_gap, coalesce(a.n_alarms, 0) AS n_alarms, " +
        "a.first_alarm FROM s CROSS JOIN a"),

    // Cronbach's alpha (Stats.cronbachAlpha): do per-user view/click/
    // purchase counts cohere as one engagement scale? One moment pass
    // over the per-user item table.
    Q("q_cronbach_alpha", (s, d) => {
      val per = Tables.events(s, d).groupBy("user_id").agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .alias("views"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .alias("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .alias("purchases"))
      graft.ops.Stats.cronbachAlpha(per, Seq(
        "views" -> col("views"), "clicks" -> col("clicks"),
        "purchases" -> col("purchases")))
    },
      // Mirrors Stats.cronbachAlpha over the per-user 3-item engagement
      // table: one DECIMAL moment pass, (ss - (s*s)/n)/(n-1) variances.
      "WITH per AS (SELECT user_id, " +
        "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views, " +
        "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks, " +
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases " +
        "FROM events GROUP BY 1), " +
        "b AS (SELECT CAST(views AS DOUBLE) AS iv, CAST(clicks AS DOUBLE) AS ic, " +
        "CAST(purchases AS DOUBLE) AS ip, " +
        "CAST(views AS DOUBLE) + CAST(clicks AS DOUBLE) + " +
        "CAST(purchases AS DOUBLE) AS tot FROM per), " +
        "m AS (SELECT count(*) AS n, " +
        "SUM(CAST(iv AS DECIMAL(38,9))) AS sv, " +
        "SUM(CAST(iv * iv AS DECIMAL(38,9))) AS ssv, " +
        "SUM(CAST(ic AS DECIMAL(38,9))) AS sc, " +
        "SUM(CAST(ic * ic AS DECIMAL(38,9))) AS ssc, " +
        "SUM(CAST(ip AS DECIMAL(38,9))) AS sp, " +
        "SUM(CAST(ip * ip AS DECIMAL(38,9))) AS ssp, " +
        "SUM(CAST(tot AS DECIMAL(38,9))) AS st, " +
        "SUM(CAST(tot * tot AS DECIMAL(38,9))) AS sst FROM b), " +
        "k AS (SELECT n, " +
        "(CAST(ssv AS DOUBLE) - (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) / " +
        "CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vv, " +
        "(CAST(ssc AS DOUBLE) - (CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / " +
        "CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vc, " +
        "(CAST(ssp AS DOUBLE) - (CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)) / " +
        "CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vp, " +
        "(CAST(sst AS DOUBLE) - (CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / " +
        "CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS vt FROM m) " +
        "SELECT n, CAST(3 AS BIGINT) AS k_items, " +
        "CASE WHEN n > 1 AND vt > 0.0 THEN " +
        "round((3.0 / 2.0) * (1.0 - (vv + vc + vp) / vt), 6) + 0.0 END AS alpha, " +
        "CASE WHEN n > 1 THEN round(vv + vc + vp, 6) + 0.0 END AS item_var_sum, " +
        "CASE WHEN n > 1 THEN round(vt, 6) + 0.0 END AS total_var FROM k"),

    // Tukey HSD (Stats.tukeyHsd): which order priorities differ in
    // mean total price, pairwise, after the omnibus ANOVA — k-row
    // summary self-join, q = 3.86 (k=5, df=inf, alpha=.05).
    Q("q_tukey_hsd", (s, d) =>
      graft.ops.Stats.tukeyHsd(Tables.orders(s, d),
        col("o_orderpriority"), "o_totalprice", qCrit = 3.86),
      // Mirrors Stats.tukeyHsd (q crit 3.86): k-row group moments,
      // DECIMAL within-SS sum, Tukey-Kramer q over the pair self-join.
      "WITH g AS (SELECT o_orderpriority AS g, count(*) AS ng, " +
        "SUM(CAST(o_totalprice AS DECIMAL(38,9))) AS sg, " +
        "SUM(CAST(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE) " +
        "AS DECIMAL(38,9))) AS ssg FROM orders " +
        "WHERE o_totalprice IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT SUM(ng) AS nn, count(*) AS k, " +
        "SUM(CAST(CAST(ssg AS DOUBLE) - (CAST(sg AS DOUBLE) * " +
        "CAST(sg AS DOUBLE)) / CAST(ng AS DOUBLE) AS DECIMAL(38,9))) AS wss " +
        "FROM g), " +
        "s AS (SELECT g, ng, CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS m " +
        "FROM g) " +
        "SELECT a.g AS g1, b.g AS g2, round(a.m - b.m, 6) + 0.0 AS mean_diff, " +
        "CASE WHEN nn > k AND CAST(wss AS DOUBLE) > 0.0 THEN " +
        "round(abs(a.m - b.m) / sqrt(((CAST(wss AS DOUBLE) / " +
        "CAST(nn - k AS DOUBLE)) / 2.0) * (1.0 / CAST(a.ng AS DOUBLE) + " +
        "1.0 / CAST(b.ng AS DOUBLE))), 6) + 0.0 END AS q_stat, " +
        "CASE WHEN nn > k AND CAST(wss AS DOUBLE) > 0.0 THEN " +
        "abs(a.m - b.m) / sqrt(((CAST(wss AS DOUBLE) / " +
        "CAST(nn - k AS DOUBLE)) / 2.0) * (1.0 / CAST(a.ng AS DOUBLE) + " +
        "1.0 / CAST(b.ng AS DOUBLE))) > 3.86 END AS significant " +
        "FROM s a JOIN s b ON a.g < b.g CROSS JOIN t ORDER BY g1, g2"),

    // Holdout forecast scorecard (Stats.holdoutForecast): last-28-day
    // holdout of the daily order series, naive-last vs seasonal-naive
    // with MAE/RMSE/sMAPE/MASE — the evaluation protocol beside the
    // in-sample q_forecast_baseline.
    Q("q_holdout_forecast", (s, d) =>
      graft.ops.Stats.holdoutForecast(Tables.orders(s, d),
        to_date(col("o_orderdate")), horizon = 28, season = 7),
      // Mirrors Stats.holdoutForecast (horizon 28, season 7): weekday is
      // the engine's own consistent key (isodow here, dayofweek in
      // Spark) — only the test-to-train-week MATCHING must agree.
      s"WITH daily AS ${dailyCounts("y")}, " +
        "c AS (SELECT max(d) - 28 AS cut FROM daily), " +
        "tr AS (SELECT d, y FROM daily CROSS JOIN c WHERE d <= cut), " +
        "te AS (SELECT d, y FROM daily CROSS JOIN c WHERE d > cut), " +
        "ts AS (SELECT max_by(y, d) AS lasty, " +
        "CAST(SUM(CAST(abs(y - l1) AS DECIMAL(38,9))) AS DOUBLE) / " +
        "CAST(count(l1) AS DOUBLE) AS maen FROM " +
        "(SELECT d, y, lag(y) OVER (ORDER BY d) AS l1 FROM tr)), " +
        "lw AS (SELECT isodow(d) AS dow, y AS ysn FROM tr CROSS JOIN c " +
        "WHERE d > cut - 7), " +
        "sc AS (SELECT te.y AS y, ts.lasty, lw.ysn, ts.maen FROM te " +
        "LEFT JOIN lw ON isodow(te.d) = lw.dow CROSS JOIN ts) " +
        "SELECT count(*) AS n_test, " +
        "round(CAST(SUM(CAST(round(abs(y - lasty), 9) + 0.0 AS DECIMAL(38,9))) " +
        "AS DOUBLE) / CAST(count(lasty) AS DOUBLE), 6) + 0.0 AS mae_naive, " +
        "round(sqrt(CAST(SUM(CAST(round((y - lasty) * (y - lasty), 9) + 0.0 " +
        "AS DECIMAL(38,9))) AS DOUBLE) / CAST(count(lasty) AS DOUBLE)), 6) " +
        "+ 0.0 AS rmse_naive, " +
        "round(CAST(SUM(CAST(round(2.0 * abs(y - lasty) / " +
        "(abs(y) + abs(lasty)), 9) + 0.0 AS DECIMAL(38,9))) AS DOUBLE) / " +
        "CAST(count(lasty) AS DOUBLE), 6) + 0.0 AS smape_naive, " +
        "CASE WHEN max(maen) > 0.0 THEN " +
        "round((CAST(SUM(CAST(round(abs(y - lasty), 9) + 0.0 " +
        "AS DECIMAL(38,9))) AS DOUBLE) / CAST(count(lasty) AS DOUBLE)) / " +
        "max(maen), 6) + 0.0 END AS mase_naive, " +
        "round(CAST(SUM(CAST(round(abs(y - ysn), 9) + 0.0 AS DECIMAL(38,9))) " +
        "AS DOUBLE) / CAST(count(ysn) AS DOUBLE), 6) + 0.0 AS mae_snaive, " +
        "round(sqrt(CAST(SUM(CAST(round((y - ysn) * (y - ysn), 9) + 0.0 " +
        "AS DECIMAL(38,9))) AS DOUBLE) / CAST(count(ysn) AS DOUBLE)), 6) " +
        "+ 0.0 AS rmse_snaive, " +
        "round(CAST(SUM(CAST(round(2.0 * abs(y - ysn) / " +
        "(abs(y) + abs(ysn)), 9) + 0.0 AS DECIMAL(38,9))) AS DOUBLE) / " +
        "CAST(count(ysn) AS DOUBLE), 6) + 0.0 AS smape_snaive, " +
        "CASE WHEN max(maen) > 0.0 THEN " +
        "round((CAST(SUM(CAST(round(abs(y - ysn), 9) + 0.0 " +
        "AS DECIMAL(38,9))) AS DOUBLE) / CAST(count(ysn) AS DOUBLE)) / " +
        "max(maen), 6) + 0.0 END AS mase_snaive FROM sc"),

    // Cox proportional hazards (Stats.coxPh): does per-user activity
    // scale the time-to-purchase hazard? Same subjects construction as
    // q_survival_km plus the ln(events) covariate; 3 Newton steps on
    // the Breslow partial likelihood, risk sets from duration-grain
    // suffix sums. The row emits the practitioner readout
    // (n/β/se/z/HR); the partial_loglik scalar rides its own
    // q_cox_loglik row. Integer counts are BIGINT-cast on both sides: an
    // uncast SUM-of-integers is DuckDB HUGEINT on the wire (see
    // Stats.coxPh scaladoc).
    Q("q_cox_ph", (s, d) =>
      graft.ops.Stats.coxPh(coxSubjects(s, d), "dur", "observed",
        "activity", iters = 3)
        .select("n", "n_events", "beta", "se", "z", "hazard_ratio"),
      coxOracle),

    Q("q_cox_loglik", (s, d) =>
      graft.ops.Stats.coxPh(coxSubjects(s, d), "dur", "observed",
        "activity", iters = 3)
        .select("n_events", "partial_loglik"),
      coxLoglikOracle),

    // Cox diagnostic probes: the kernel-at-live-argument sentinel (kln),
    // the argument transport (kargs) and its column, row and window
    // splits — each localizes a cross-engine divergence to one stage.
    Q("q_cox_diag_kln", (s, d) =>
      graft.ops.Stats.coxDiagKernelLn(coxSubjects(s, d), "dur",
        "observed", "activity", iters = 3),
      coxDiagKLnOracle),

    // kln's ARGUMENT-ONLY twin: the same (t, ne, s0h, s0l) rows with the
    // pln chunks removed, pure integer transport. The splits below check
    // it per column class and per row range.
    Q("q_cox_diag_kargs", (s, d) =>
      graft.ops.Stats.coxDiagKArgs(coxSubjects(s, d), "dur",
        "observed", "activity", iters = 3),
      coxDiagKArgsOracle),

    // column split: duration/event half vs risk-sum half
    Q("q_cox_diag_kargs_tn", (s, d) =>
      graft.ops.Stats.coxDiagKArgsTn(coxSubjects(s, d), "dur",
        "observed", "activity", iters = 3),
      coxDiagKArgsTnOracle),

    Q("q_cox_diag_kargs_s0", (s, d) =>
      graft.ops.Stats.coxDiagKArgsS0(coxSubjects(s, d), "dur",
        "observed", "activity", iters = 3),
      coxDiagKArgsS0Oracle),

    // row bisect: rank-quartile restriction
    Q("q_cox_diag_kargs_q1", (s, d) =>
      graft.ops.Stats.coxDiagKArgsQuart(coxSubjects(s, d), "dur",
        "observed", "activity", quart = 1, iters = 3),
      coxDiagKArgsQuartOracle(1)),

    Q("q_cox_diag_kargs_q2", (s, d) =>
      graft.ops.Stats.coxDiagKArgsQuart(coxSubjects(s, d), "dur",
        "observed", "activity", quart = 2, iters = 3),
      coxDiagKArgsQuartOracle(2)),

    Q("q_cox_diag_kargs_q3", (s, d) =>
      graft.ops.Stats.coxDiagKArgsQuart(coxSubjects(s, d), "dur",
        "observed", "activity", quart = 3, iters = 3),
      coxDiagKArgsQuartOracle(3)),

    Q("q_cox_diag_kargs_q4", (s, d) =>
      graft.ops.Stats.coxDiagKArgsQuart(coxSubjects(s, d), "dur",
        "observed", "activity", quart = 4, iters = 3),
      coxDiagKArgsQuartOracle(4)),

    // window-boundary split: per-duration pre-window (a0h, a0l) pairs
    Q("q_cox_diag_kargs_a0", (s, d) =>
      graft.ops.Stats.coxDiagKArgsA0(coxSubjects(s, d), "dur",
        "observed", "activity", iters = 3),
      coxDiagKArgsA0Oracle),

    // per-term live-chain probe: pinned ex terms +
    // their pair decomposition through the LIVE final-risk context
    Q("q_cox_diag_kterms", (s, d) =>
      graft.ops.Stats.coxDiagKTerms(coxSubjects(s, d), "dur",
        "observed", "activity", iters = 3),
      coxDiagKTermsOracle),

    // Portable-exp bit-parity probe (functions/PortableMath.scala): a
    // deterministic integer-derived grid of ~|events| arguments across
    // [-20, 20] whose outputs are decomposed EXACTLY into integer bit
    // chunks (floor + power-of-two scaling, every step IEEE-exact) and
    // BIGINT-summed — one flipped mantissa bit in ANY row flips a sum —
    // plus raw min/max doubles across [-80, 80] (big-stage ladder,
    // bit-level compare; raw doubles ride parquet/arrow untouched).
    // Raw-double→DECIMAL casts are deliberately absent: Spark casts via
    // shortest-repr (BigDecimal.valueOf) while DuckDB scales by 10^s in
    // double, so sub-repr digits differ by ALGORITHM, not libm. The
    // oracle runs the mirrored SQL arithmetic in DuckDB, so a
    // green here proves the kernel is bit-identical cross-engine — the
    // guarantee the Cox/GMM/logistic replay chains stand on.
    Q("q_portable_exp", (s, d) => {
      val ev = Tables.events(s, d)
      val x = (col("event_id") * 37 % 40001).cast("double") / 1000.0 - 20.0
      val x8 = (col("event_id") * 41 % 160001).cast("double") / 1000.0 - 80.0
      val base = bitChunks(ev.select(col("event_id"),
        graft.functions.PortableMath.pexp(x).alias("__v"),
        graft.functions.PortableMath.pexp(x8).alias("__v8")), "__v", "e_")
      base.groupBy((col("event_id") % 20).alias("grp"))
        .agg(count(lit(1)).alias("n"),
          sum(col("e_hi")).alias("e_hi"), sum(col("e_c1")).alias("e_c1"),
          sum(col("e_c2")).alias("e_c2"), sum(col("e_c3")).alias("e_c3"),
          min(col("__v8")).alias("mn"), max(col("__v8")).alias("mx"))
    },
      // Bit-parity probes for the portable exp/ln kernel: the SQL is the
      // generated arithmetic mirror (PortableMathSql) of the Scala kernel
      // — no libm call on either engine.
      {
        val pm = graft.functions.PortableMathSql
        val inner1 = pm.expFrom("events",
          "((event_id * 37) % 40001) / 1000.0e0 - 20.0e0", "__v", "pm")
        val inner2 = pm.expFrom(inner1,
          "((event_id * 41) % 160001) / 1000.0e0 - 80.0e0", "__v8", "ph")
        val chunked = pm.chunkFrom(inner2, "__v", "e_")
        def s(c: String) = s"CAST(SUM(CAST(e_$c AS BIGINT)) AS BIGINT) AS e_$c"
        "SELECT event_id % 20 AS grp, count(*) AS n, " +
          s"${s("hi")}, ${s("c1")}, ${s("c2")}, ${s("c3")}, " +
          "MIN(__v8) AS mn, MAX(__v8) AS mx " +
          s"FROM $chunked GROUP BY 1"
      }),

    // Portable-ln bit-parity probe: ln over three integer-derived
    // ranges (mid [0.06, 6250], cubed up to 2.4e11, reciprocal down to
    // 4e-12 — every normalize stage incl. the below-1 up-shift), each
    // output exactly bit-chunked and BIGINT-summed as above.
    Q("q_portable_ln", (s, d) => {
      val ev = Tables.events(s, d)
      var base = ev.select(col("event_id"),
        ((col("event_id") * 53 % 100003 + 1).cast("double") / 16.0).alias("__y"))
        .select(col("event_id"), col("__y"),
          (col("__y") * col("__y") * col("__y")).alias("__y2"))
        .select(col("event_id"), col("__y"), col("__y2"),
          (lit(1.0) / col("__y2")).alias("__y3"))
        .select(col("event_id"),
          graft.functions.PortableMath.pln(col("__y")).alias("__l1"),
          graft.functions.PortableMath.pln(col("__y2")).alias("__l2"),
          graft.functions.PortableMath.pln(col("__y3")).alias("__l3"))
      base = bitChunks(base, "__l1", "a_")
      base = bitChunks(base, "__l2", "b_")
      base = bitChunks(base, "__l3", "c_")
      val sums = Seq("a_", "b_", "c_").flatMap(p =>
        Seq("hi", "c1", "c2", "c3").map(c => sum(col(s"$p$c")).alias(s"$p$c")))
      base.groupBy((col("event_id") % 20).alias("grp"))
        .agg(count(lit(1)).alias("n"), sums: _*)
    },
      {
        val pm = graft.functions.PortableMathSql
        val base = "(SELECT event_id, __y, __y2, 1.0e0 / __y2 AS __y3 FROM " +
          "(SELECT event_id, __y, (__y * __y) * __y AS __y2 FROM " +
          "(SELECT event_id, ((event_id * 53) % 100003 + 1) / 16.0e0 AS __y " +
          "FROM events) pba) pbb)"
        var rel = pm.lnFrom(base, "__y", "__l1", "pa")
        rel = pm.lnFrom(rel, "__y2", "__l2", "pb")
        rel = pm.lnFrom(rel, "__y3", "__l3", "pc")
        rel = pm.chunkFrom(rel, "__l1", "a_")
        rel = pm.chunkFrom(rel, "__l2", "b_")
        rel = pm.chunkFrom(rel, "__l3", "c_")
        val sums = Seq("a_", "b_", "c_").flatMap(p =>
          Seq("hi", "c1", "c2", "c3").map(c =>
            s"CAST(SUM(CAST($p$c AS BIGINT)) AS BIGINT) AS $p$c")).mkString(", ")
        s"SELECT event_id % 20 AS grp, count(*) AS n, $sums FROM $rel GROUP BY 1"
      }),

    // Portable-ln parity at the LIVE cox argument shape: the
    // q_portable_ln grid above is 1/16-quantized, so
    // its fraction bits are sparse — while the cox partial-loglik feeds
    // pln(S0) with S0 = H + L/1e9, H ∈ [1, ~10⁴], L any 1e-9 quantum.
    // This probe runs the kernel over ~|events| arguments of EXACTLY
    // that pair-rebuild form (k ∈ [1, 10⁴] dense × full-range quanta),
    // bit-chunked and BIGINT-summed per group: a red compare localizes a
    // build-dependent pln divergence inside the live S0 domain that the
    // synthetic grid misses; green retires "the grid missed it" as an
    // explanation for a q_cox_diag_kln red.
    Q("q_portable_ln_s0", (s, d) => {
      val ev = Tables.events(s, d)
      val k = (col("event_id") * 37 % 10000 + 1).cast("double")
      val q = (col("event_id") * 1000003 % 1000000000).cast("double")
      val base = bitChunks(ev.select(col("event_id"),
        graft.functions.PortableMath.pln(k + q / lit(1e9)).alias("__v")),
        "__v", "s_")
      base.groupBy((col("event_id") % 20).alias("grp"))
        .agg(count(lit(1)).alias("n"),
          sum(col("s_hi")).alias("s_hi"), sum(col("s_c1")).alias("s_c1"),
          sum(col("s_c2")).alias("s_c2"), sum(col("s_c3")).alias("s_c3"))
    },
      // Live-S0-shape ln parity: arguments k + q/1e9 rebuilt exactly as
      // the cox readout rebuilds its pair sums.
      {
        val pm = graft.functions.PortableMathSql
        val base = "(SELECT event_id, " +
          "CAST((event_id * 37) % 10000 + 1 AS DOUBLE) + " +
          "CAST((event_id * 1000003) % 1000000000 AS DOUBLE) / 1.0e9 " +
          "AS __arg FROM events)"
        val rel = pm.chunkFrom(pm.lnFrom(base, "__arg", "__v", "ps"),
          "__v", "s_")
        val sums = Seq("hi", "c1", "c2", "c3").map(c =>
          s"CAST(SUM(CAST(s_$c AS BIGINT)) AS BIGINT) AS s_$c").mkString(", ")
        s"SELECT event_id % 20 AS grp, count(*) AS n, $sums FROM $rel GROUP BY 1"
      }),

    // Live-shape ln parity, WIDE quanta: q_portable_ln_s0 probes
    // k + q/1e9 only for q < 1e9, while an un-normalized suffix-sum
    // L ~ n·1e9 (~4e12 at the gate SFs) rounds L/1e9 at a different ulp
    // scale. Two arms, both exact integer-derived so the arguments are
    // bit-identical cross-engine by construction:
    //  (w) wide-quanta: k + q/1e9 with q spanning [0, 4e12) — the
    //      un-normalized S0l range;
    //  (m) pin9-midpoint band: arg = pexp((m + 0.5)/1e9) nudged by
    //      j ∈ {-2..2} ulp-scale factors — pln(arg) lands within ~1 ulp
    //      of a pin9 midpoint, the only 1-ulp-sensitive region of the
    //      loglik readout, in the exact mantissa neighborhoods where a
    //      build-dependent kernel flip would cross a pin.
    Q("q_portable_ln_s0_wide", (s, d) => {
      val ev = Tables.events(s, d)
      val P = graft.functions.PortableMath
      val k = (col("event_id") * 37 % 10000 + 1).cast("double")
      // Pre-mod event_id so both arm multiplies stay inside int64 for
      // ANY event_id — the raw 2654435761·id overflows past id ≈ 3.5e9,
      // where Spark wraps silently while DuckDB raises. Below 1e8 the
      // pre-mod is the identity.
      val eid = col("event_id") % 100000007L
      val qw = (eid * 73856093L % 4000000000000L).cast("double")
      val wide = k + qw / lit(1e9)
      val m = (eid * 2654435761L % 10000000000L).cast("double")
      val mid = (m + lit(0.5)) / lit(1e9)
      val j = (col("event_id") % 5 - lit(2)).cast("double")
      val argm = P.pexp(mid) *
        (lit(1.0) + j * lit(2.220446049250313e-16))
      var base = bitChunks(ev.select(col("event_id"),
        P.pln(wide).alias("__vw"), P.pln(argm).alias("__vm")), "__vw", "w_")
      base = bitChunks(base, "__vm", "m_")
      val sums = Seq("w_", "m_").flatMap(p =>
        Seq("hi", "c1", "c2", "c3").map(c => sum(col(s"$p$c")).alias(s"$p$c")))
      base.groupBy((col("event_id") % 20).alias("grp"))
        .agg(count(lit(1)).alias("n"), sums: _*)
    },
      // Wide-quanta + pin9-midpoint-band ln parity: the SQL is the
      // generated arithmetic mirror of the two arms built above.
      {
        val pm = graft.functions.PortableMathSql
        // event_id pre-mod mirrors the Spark arm: int64-safe at any id,
        // identity below 1e8 (all fixture SFs)
        val base = "(SELECT event_id, " +
          "CAST((event_id * 37) % 10000 + 1 AS DOUBLE) + " +
          "CAST(((event_id % 100000007) * 73856093) % 4000000000000 " +
          "AS DOUBLE) / 1.0e9 AS __aw, " +
          "(CAST(((event_id % 100000007) * 2654435761) % 10000000000 " +
          "AS DOUBLE) + 0.5e0) / 1.0e9 AS __mid, " +
          "CAST(event_id % 5 - 2 AS DOUBLE) AS __j FROM events)"
        val withExp = pm.expFrom(base, "__mid", "__em", "pwe")
        val withArg = "(SELECT *, __em * (1.0e0 + __j * " +
          s"2.220446049250313e-16) AS __am FROM $withExp pwa)"
        var rel = pm.lnFrom(withArg, "__aw", "__vw", "pww")
        rel = pm.lnFrom(rel, "__am", "__vm", "pwm")
        rel = pm.chunkFrom(rel, "__vw", "w_")
        rel = pm.chunkFrom(rel, "__vm", "m_")
        val sums = Seq("w_", "m_").flatMap(p =>
          Seq("hi", "c1", "c2", "c3").map(c =>
            s"CAST(SUM(CAST($p$c AS BIGINT)) AS BIGINT) AS $p$c")).mkString(", ")
        s"SELECT event_id % 20 AS grp, count(*) AS n, $sums FROM $rel GROUP BY 1"
      }),

    // 1-D Gaussian mixture (Stats.gmmEm1d): 3 unrolled EM passes over
    // the log document-length distribution — one population or two?
    // Nine integer-pair moments shuffle per pass; the corpus never moves.
    Q("q_gmm_doclen", (s, d) =>
      // covariate pin9(pln(1+n_chars)) from the INJECTED literal grid —
      // never computed by an engine
      graft.ops.Stats.gmmEm1d(Tables.documents(s, d),
        lnGridX((col("n_chars") + 1).cast("long"), "q_gmm_doclen"),
        iters = 3),
      gmmOracle),

    // Kernel-at-fit-arguments probe for the GMM: bit-chunk digests of
    // the RAW density pexps and
    // the loglik pln at the exact final-params arguments.
    Q("q_gmm_diag_kernel", (s, d) =>
      graft.ops.Stats.gmmDiagKernel(Tables.documents(s, d),
        lnGridX((col("n_chars") + 1).cast("long"), "q_gmm_diag_kernel"),
        iters = 3),
      gmmDiagKernelOracle),

    // Isotonic calibration (Stats.isotonicCalibration): PAV via the
    // minimax identity over the same 10 min-max score bins as
    // q_calibration — the monotone-fitted reliability curve.
    Q("q_isotonic", (s, d) =>
      graft.ops.Stats.isotonicCalibration(Tables.events(s, d),
        col("event_type") === "purchase", "value", bins = 10),
      // Mirrors Stats.isotonicCalibration: same min-max 10-bin table as
      // q_calibration_decomp, then the PAV minimax identity
      // fit_i = max_{j<=i} min_{k>=i} mean(y over bins j..k) — every
      // interval mean is an exact long/long ratio, so min/max are
      // engine-exact.
      "WITH b AS (SELECT CAST(value AS DOUBLE) AS s, CASE WHEN " +
        "event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b), " +
        "sc AS (SELECT CASE WHEN hi = lo THEN 0.5 ELSE (s - lo) / (hi - lo) " +
        "END AS p, y FROM b CROSS JOIN mm), " +
        "g AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, " +
        "count(*) AS nb, SUM(y) AS ny FROM sc GROUP BY 1), " +
        "c AS (SELECT bin, nb, ny, SUM(nb) OVER w AS cn, SUM(ny) OVER w AS cy " +
        "FROM g WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW)), " +
        "iv AS (SELECT j.bin AS j, k.bin AS k, " +
        "CAST(k.cy - (j.cy - j.ny) AS DOUBLE) / " +
        "CAST(k.cn - (j.cn - j.nb) AS DOUBLE) AS avg " +
        "FROM c j JOIN c k ON j.bin <= k.bin), " +
        "mn AS (SELECT i.bin AS bin, i.nb, i.ny, iv.j, min(iv.avg) AS m " +
        "FROM c i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin " +
        "GROUP BY 1, 2, 3, 4), " +
        "f AS (SELECT bin, nb, ny, max(m) AS fit FROM mn GROUP BY 1, 2, 3) " +
        "SELECT bin, nb AS n, " +
        "round(CAST(ny AS DOUBLE) / CAST(nb AS DOUBLE), 6) + 0.0 AS rate_raw, " +
        "round(fit, 6) + 0.0 AS rate_isotonic FROM f ORDER BY bin"),

    // Count overdispersion (Stats.overdispersion): per event type, are
    // per-user event counts Poisson-like or clumped? D = s²/x̄ + χ².
    Q("q_overdispersion", (s, d) =>
      graft.ops.Stats.overdispersion(Tables.events(s, d),
        col("event_type"), col("user_id")),
      // Mirrors Stats.overdispersion: exact long moments, the same
      // ((n * mean) * mean) parenthesization, NULL pin on n <= 1.
      "WITH per AS (SELECT event_type AS g, user_id AS e, count(*) AS c " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT g, count(*) AS n_entities, " +
        "SUM(CAST(c AS DECIMAL(38,0))) AS s, " +
        "SUM(CAST(c * c AS DECIMAL(38,0))) AS ss FROM per GROUP BY 1), " +
        "k AS (SELECT g, n_entities, CAST(n_entities AS DOUBLE) AS nd, " +
        "CAST(s AS DOUBLE) / CAST(n_entities AS DOUBLE) AS mean, " +
        "CAST(ss AS DOUBLE) AS ssd, s FROM m), " +
        "v AS (SELECT g, n_entities, nd, mean, s, " +
        "(ssd - nd * mean * mean) / (nd - 1.0) AS var FROM k) " +
        "SELECT g AS \"group\", n_entities, round(mean, 6) + 0.0 AS mean_count, " +
        "CASE WHEN n_entities > 1 AND s > 0 THEN round(var, 6) + 0.0 END " +
        "AS var_count, " +
        "CASE WHEN n_entities > 1 AND s > 0 THEN round(var / mean, 6) + 0.0 " +
        "END AS dispersion, " +
        "CASE WHEN n_entities > 1 AND s > 0 THEN " +
        "round((nd - 1.0) * (var / mean), 6) + 0.0 END AS chi2 " +
        "FROM v ORDER BY g"),

    // Schuster periodogram (Stats.periodogram): which period dominates
    // the daily order series — the frequency-domain view beside
    // q_autocorr's lag view (weekly structure spikes at period 7).
    Q("q_periodogram", (s, d) =>
      graft.ops.Stats.periodogram(Tables.orders(s, d),
        to_date(col("o_orderdate")), maxPeriod = 14),
      // Mirrors Stats.periodogram (maxPeriod 14 over the daily order
      // series): 9-dp-rounded centered counts and cos/sin of
      // (2pi * (t mod p)) / p — at most sum(p) < 120 distinct angle
      // constants — with DECIMAL(38,12) product sums.
      s"WITH daily AS ${dailyCounts("x")}, " +
        "m AS (SELECT CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS mraw, min(d) AS d0 FROM daily), " +
        "c AS (SELECT CAST(date_diff('day', d0, d) AS BIGINT) AS t, " +
        "round(x - round(mraw, 9), 9) + 0.0 AS cc FROM daily CROSS JOIN m), " +
        "tm AS (SELECT t, cc, period FROM c CROSS JOIN " +
        "(SELECT unnest(range(2, 15)) AS period)), " +
        "th AS (SELECT period, cc, (6.283185307179586 * " +
        "CAST(t % period AS DOUBLE)) / CAST(period AS DOUBLE) AS theta FROM tm), " +
        "tr AS (SELECT period, cc, round(cos(theta), 9) + 0.0 AS co, " +
        "round(sin(theta), 9) + 0.0 AS si FROM th), " +
        "tot AS (SELECT count(*) AS n, " +
        "SUM(CAST(cc * cc AS DECIMAL(38,12))) AS css FROM c), " +
        "ag AS (SELECT period, " +
        "SUM(CAST(cc * co AS DECIMAL(38,12))) AS sc, " +
        "SUM(CAST(cc * si AS DECIMAL(38,12))) AS ss FROM tr GROUP BY 1) " +
        "SELECT CAST(period AS BIGINT) AS period, " +
        "round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) + " +
        "CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / CAST(n AS DOUBLE), 6) " +
        "+ 0.0 AS power, " +
        "CASE WHEN CAST(css AS DOUBLE) > 0 THEN " +
        "round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) + " +
        "CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(css AS DOUBLE)), 6) + 0.0 END " +
        "AS var_share FROM ag CROSS JOIN tot ORDER BY period"),

    // HBOS density outliers (Stats.hbosTopK): top-50 line items whose
    // quantity/price/discount all sit in rare histogram bins — the
    // independence-density gate beside Mahalanobis.
    Q("q_hbos", (s, d) =>
      graft.ops.Stats.hbosTopK(Tables.lineitem(s, d),
        col("l_orderkey") * 10 + col("l_linenumber"),
        Seq(("qty", col("l_quantity")), ("price", col("l_extendedprice")),
          ("disc", col("l_discount")))),
      // Same equi-width bins off the global span, same -log10 bin-share
      // surprisal in DECIMAL, same (score DESC, id) top-50.
      "WITH b AS (SELECT l_orderkey * 10 + l_linenumber AS id, " +
        "CAST(l_quantity AS DOUBLE) AS f_qty, " +
        "CAST(l_extendedprice AS DOUBLE) AS f_price, " +
        "CAST(l_discount AS DOUBLE) AS f_disc FROM lineitem " +
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL " +
        "AND l_discount IS NOT NULL), " +
        "bo AS (SELECT min(f_qty) AS lo_qty, max(f_qty) AS hi_qty, " +
        "min(f_price) AS lo_price, max(f_price) AS hi_price, " +
        "min(f_disc) AS lo_disc, max(f_disc) AS hi_disc FROM b), " +
        "e AS (" +
        Seq("qty", "price", "disc").map(f =>
          s"SELECT id, '$f' AS fn, CASE WHEN hi_$f = lo_$f THEN 0 ELSE " +
          s"least(greatest(CAST(floor((f_$f - lo_$f) / " +
          s"((hi_$f - lo_$f) / 10.0)) AS BIGINT), 0), 9) END AS bin " +
          "FROM b CROSS JOIN bo").mkString(" UNION ALL ") +
        "), " +
        "c AS (SELECT fn, bin, count(*) AS nb FROM e GROUP BY 1, 2), " +
        "n AS (SELECT count(*) AS n FROM b), " +
        "s AS (SELECT id, sum(CAST(round(-log10(CAST(nb AS DOUBLE) / " +
        "CAST(n.n AS DOUBLE)), 9) AS DECIMAL(28,14))) AS sc " +
        "FROM e JOIN c USING (fn, bin) CROSS JOIN n GROUP BY 1) " +
        "SELECT id, round(CAST(sc AS DOUBLE), 6) AS score FROM s " +
        "ORDER BY score DESC, id LIMIT 50"),

    // Mann-Whitney rank-sum test (Stats.mannWhitneyU): do odd users'
    // event values stochastically dominate even users'? Tie-corrected
    // normal approximation, ranks from the distributed per-value
    // cumulative — the nonparametric twin of q_ab_test.
    Q("q_mannwhitney", (s, d) =>
      graft.ops.Stats.mannWhitneyU(Tables.events(s, d),
        col("user_id") % 2 === 1, "value"),
      // Same per-value rank cumulative, same tie-corrected variance with
      // fixed parenthesization.
      "WITH v AS (SELECT value, CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END " +
        "AS b FROM events WHERE value IS NOT NULL), " +
        "pv AS (SELECT value, SUM(1 - b) AS ca, SUM(b) AS cb, " +
        "SUM(1 - b) + SUM(b) AS t FROM v GROUP BY 1), " +
        "r AS (SELECT ca, cb, t, COALESCE(SUM(t) OVER (ORDER BY value " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pv), " +
        "c AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, " +
        "CAST(SUM(cb) AS BIGINT) AS n_b, " +
        "SUM(CAST((CAST(bef AS DOUBLE) + (t + 1) / 2.0) * ca AS DECIMAL(28,8))) AS ra, " +
        "SUM(CAST(t * t * t - t AS DECIMAL(28,8))) AS ties FROM r) " +
        "SELECT n_a, n_b, " +
        "round(CAST(ra AS DOUBLE) - n_a::DOUBLE * (n_a::DOUBLE + 1.0) / 2.0, 6) AS u_a, " +
        "round(n_a::DOUBLE * n_b::DOUBLE - (CAST(ra AS DOUBLE) - " +
        "n_a::DOUBLE * (n_a::DOUBLE + 1.0) / 2.0), 6) AS u_b, " +
        "round(CASE WHEN sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0 * " +
        "((n_a::DOUBLE + n_b::DOUBLE + 1.0) - CAST(ties AS DOUBLE) / " +
        "((n_a::DOUBLE + n_b::DOUBLE) * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))) > 0 THEN " +
        "(CAST(ra AS DOUBLE) - n_a::DOUBLE * (n_a::DOUBLE + 1.0) / 2.0 - " +
        "n_a::DOUBLE * n_b::DOUBLE / 2.0) / " +
        "sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0 * " +
        "((n_a::DOUBLE + n_b::DOUBLE + 1.0) - CAST(ties AS DOUBLE) / " +
        "((n_a::DOUBLE + n_b::DOUBLE) * (n_a::DOUBLE + n_b::DOUBLE - 1.0)))) " +
        "END, 6) AS z FROM c"),

    // Benford first-digit audit of the extended-price column: observed
    // vs log10(1+1/d) share with per-digit chi-square contributions.
    Q("q_benford", (s, d) =>
      graft.ops.Stats.benfordDigits(Tables.lineitem(s, d), "l_extendedprice"),
      // Same DECIMAL(18,2)-string leading digit, same chi-square expansion.
      "WITH f AS (SELECT CAST(substr(CAST(CAST(abs(l_extendedprice) AS " +
        "DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS digit FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) >= 1), " +
        "c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1), " +
        "t AS (SELECT sum(n) AS tot FROM c) " +
        "SELECT digit, n, round(n::DOUBLE / tot::DOUBLE, 6) AS obs_share, " +
        "round(log10(1.0 + 1.0 / digit::DOUBLE), 6) AS exp_share, " +
        "round((n::DOUBLE / tot::DOUBLE - log10(1.0 + 1.0 / digit::DOUBLE)) * " +
        "(n::DOUBLE / tot::DOUBLE - log10(1.0 + 1.0 / digit::DOUBLE)) / " +
        "log10(1.0 + 1.0 / digit::DOUBLE) * tot::DOUBLE, 6) AS chi2_term " +
        "FROM c CROSS JOIN t ORDER BY digit"),

    // Exact 10% trimmed mean of acctbal per market segment
    // (Stats.trimmedMean): the robust location readout between mean and
    // median, scipy's floor(alpha*n)-each-end convention.
    Q("q_trimmed_mean", (s, d) =>
      graft.ops.Stats.trimmedMean(Tables.customer(s, d),
        "c_mktsegment", "c_acctbal", alpha = 0.1),
      // Mirrors Stats.trimmedMean (alpha 0.1): distinct-value cumulative,
      // integer rank-range overlap weights, DECIMAL kept-value sum.
      "WITH per AS (SELECT c_mktsegment AS g, CAST(c_acctbal AS DOUBLE) AS v, " +
        "count(*) AS c FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1, 2), " +
        "r AS (SELECT g, v, c, coalesce(sum(c) OVER (PARTITION BY g ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef, " +
        "sum(c) OVER (PARTITION BY g) AS n FROM per), " +
        "k AS (SELECT g, v, c, bef, n, " +
        "CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT) AS k FROM r), " +
        "wgt AS (SELECT g, n, k, v, greatest(0, least(bef + c, n - k) - " +
        "greatest(bef + 1, k + 1) + 1) AS w FROM k) " +
        "SELECT g AS c_mktsegment, CAST(max(n) AS BIGINT) AS n, " +
        "max(k) AS n_trimmed_each, " +
        "CASE WHEN sum(w) > 0 THEN round(CAST(sum(CAST(v * CAST(w AS DOUBLE) " +
        "AS DECIMAL(38,9))) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) + 0.0 END " +
        "AS trimmed_mean FROM wgt GROUP BY g ORDER BY g"),

    // Shannon-entropy column profile beside the null/distinct profiles:
    // bits per column over four lineitem columns of very different
    // cardinality (flag ≈ 1.5 bits, suppkey ≈ log2 n).
    Q("q_entropy_profile", (s, d) =>
      graft.ops.Stats.entropyProfile(Tables.lineitem(s, d),
        Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_quantity")),
      // Same per-column count reduction, same n·log2(n) DECIMAL sums.
      "WITH " +
        Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_quantity")
          .zipWithIndex.map { case (c, i) =>
            s"c$i AS (SELECT $c AS v, count(*) AS n FROM lineitem GROUP BY 1), " +
            s"e$i AS (SELECT CAST(count(*) AS BIGINT) AS nd, sum(n) AS tot, " +
            s"SUM(CAST(n * log2(n) AS DECIMAL(28,8))) AS nl FROM c$i)"
          }.mkString(", ") +
        " SELECT col_name, n_distinct, entropy FROM (" +
        Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_quantity")
          .zipWithIndex.map { case (c, i) =>
            s"SELECT '$c' AS col_name, nd AS n_distinct, " +
            s"round(log2(tot) - CAST(nl AS DOUBLE) / CAST(tot AS DOUBLE), 6) " +
            s"AS entropy FROM e$i"
          }.mkString(" UNION ALL ") +
        ") ORDER BY col_name"),

    // Kaplan-Meier time-to-purchase curve: per-user duration from first
    // event to first purchase (censored at the last event when no
    // purchase), survival over day-grain event times.
    Q("q_survival_km", (s, d) => {
      val subj = Tables.events(s, d).groupBy("user_id").agg(
        min(col("ts")).alias("__first"),
        min(when(col("event_type") === "purchase", col("ts"))).alias("__conv"),
        max(col("ts")).alias("__last"))
        .select(
          datediff(to_date(coalesce(col("__conv"), col("__last"))),
            to_date(col("__first"))).cast("long").alias("dur"),
          col("__conv").isNotNull.alias("observed"))
      graft.ops.Stats.kaplanMeier(subj, "dur", "observed")
    },
      // Same censoring rule, same exp(Σ ln(1−d/n)) product.
      "WITH s AS (SELECT user_id, min(ts) AS f, " +
        "min(CASE WHEN event_type = 'purchase' THEN ts END) AS c, " +
        "max(ts) AS l FROM events GROUP BY 1), " +
        "subj AS (SELECT CAST(date_diff('day', CAST(f AS DATE), " +
        "CAST(coalesce(c, l) AS DATE)) AS BIGINT) AS t, " +
        "(c IS NOT NULL) AS obs FROM s), " +
        "pt AS (SELECT t, CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d, " +
        "count(*) AS lv FROM subj GROUP BY 1), " +
        "r AS (SELECT t, d, SUM(lv) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW " +
        "AND UNBOUNDED FOLLOWING) AS n_risk FROM pt), " +
        "k AS (SELECT t, d, n_risk, " +
        "max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER " +
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead, " +
        "exp(SUM(CASE WHEN d > 0 AND d < n_risk THEN " +
        "ln(1.0 - d::DOUBLE / n_risk::DOUBLE) ELSE 0.0 END) OVER " +
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS surv " +
        "FROM r) SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, " +
        "round(CASE WHEN dead = 1 THEN 0.0 ELSE surv END, 6) AS surv " +
        "FROM k WHERE d > 0 ORDER BY t"),

    // Nelson-Aalen cumulative hazard over the same time-to-purchase
    // construction as q_survival_km — the when-does-risk-spike view.
    Q("q_hazard_na", (s, d) => {
      val subj = Tables.events(s, d).groupBy("user_id").agg(
        min(col("ts")).alias("__first"),
        min(when(col("event_type") === "purchase", col("ts"))).alias("__conv"),
        max(col("ts")).alias("__last"))
        .select(
          datediff(to_date(coalesce(col("__conv"), col("__last"))),
            to_date(col("__first"))).cast("long").alias("dur"),
          col("__conv").isNotNull.alias("observed"))
      graft.ops.Stats.nelsonAalen(subj, "dur", "observed")
    },
      // Same risk sets as q_survival_km, DECIMAL hazard term sums.
      "WITH s AS (SELECT user_id, min(ts) AS f, " +
        "min(CASE WHEN event_type = 'purchase' THEN ts END) AS c, " +
        "max(ts) AS l FROM events GROUP BY 1), " +
        "subj AS (SELECT CAST(date_diff('day', CAST(f AS DATE), " +
        "CAST(coalesce(c, l) AS DATE)) AS BIGINT) AS t, " +
        "(c IS NOT NULL) AS obs FROM s), " +
        "pt AS (SELECT t, CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d, " +
        "count(*) AS lv FROM subj GROUP BY 1), " +
        "r AS (SELECT t, d, SUM(lv) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW " +
        "AND UNBOUNDED FOLLOWING) AS n_risk FROM pt), " +
        "k AS (SELECT t, d, n_risk, " +
        "SUM(CAST(d::DOUBLE / n_risk::DOUBLE AS DECIMAL(28,14))) OVER " +
        "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch " +
        "FROM r) SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, " +
        "round(CAST(ch AS DOUBLE), 6) AS cum_hazard " +
        "FROM k WHERE d > 0 ORDER BY t"),

    // Joint-distribution outliers (Stats.mahalanobisTopK): the 25 rows
    // farthest off the quantity/price covariance ridge.
    Q("q_mahalanobis", (s, d) =>
      graft.ops.Stats.mahalanobisTopK(Tables.lineitem(s, d),
        "l_quantity", "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), k = 25),
      // Same exact-DECIMAL moments, same closed-form 2x2 inverse with
      // pinned parenthesization.
      "WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "SUM(CAST(l_quantity AS DECIMAL(38,8))) AS sx, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(38,8))) AS sy, " +
        "SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS sxx, " +
        "SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS syy, " +
        "SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS sxy " +
        "FROM lineitem), " +
        "s AS (SELECT CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx, " +
        "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my, " +
        "CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - " +
        "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS vxx, " +
        "CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - " +
        "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vyy, " +
        "CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - " +
        "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vxy FROM m), " +
        "s2 AS (SELECT mx, my, vxx, vyy, vxy, " +
        "vxx * vyy - vxy * vxy AS det FROM s) " +
        "SELECT l_orderkey, l_linenumber, " +
        "round((vyy * (l_quantity - mx) * (l_quantity - mx) - " +
        "2.0 * vxy * (l_quantity - mx) * (l_extendedprice - my) + " +
        "vxx * (l_extendedprice - my) * (l_extendedprice - my)) / det, 6) AS d2 " +
        "FROM lineitem CROSS JOIN s2 " +
        "ORDER BY d2 DESC, l_orderkey, l_linenumber LIMIT 25"),

    // Cramér's V: the [0,1] effect-size readout over the q_chi_square
    // contingency shape.
    Q("q_cramers_v", (s, d) =>
      graft.ops.Stats.cramersV(Tables.lineitem(s, d),
        "l_returnflag", "l_linestatus"),
      // Same contingency cells and DECIMAL chi-square sum as q_chi_square,
      // plus the LEAST-normalized V.
      "WITH j AS (SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem), " +
        "obs AS (SELECT a, b, count(*) AS o FROM j GROUP BY 1, 2), " +
        "rt AS (SELECT a, sum(o) AS rt FROM obs GROUP BY 1), " +
        "ct AS (SELECT b, sum(o) AS ct FROM obs GROUP BY 1), " +
        "n AS (SELECT sum(o) AS n FROM obs), " +
        "cells AS (SELECT obs.o, CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) " +
        "/ CAST(n.n AS DOUBLE) AS e, obs.a, obs.b, n.n AS nn " +
        "FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN n), " +
        "agg AS (SELECT CAST(SUM(CAST((CAST(o AS DOUBLE) - e) * " +
        "(CAST(o AS DOUBLE) - e) / e AS DECIMAL(28,10))) AS DOUBLE) + " +
        "(CAST(max(nn) AS DOUBLE) - " +
        "CAST(SUM(CAST(e AS DECIMAL(28,10))) AS DOUBLE)) AS chi2d, " +
        "count(DISTINCT a) AS r, count(DISTINCT b) AS c, max(nn) AS n FROM cells) " +
        "SELECT round(chi2d, 6) AS chi2, CAST(n AS BIGINT) AS n, " +
        "round(sqrt(chi2d / CAST(n AS DOUBLE) / " +
        "CAST(LEAST(r - 1, c - 1) AS DOUBLE)), 6) AS cramers_v FROM agg"),

    // Symmetric mutual information (Stats.mutualInfo) over the
    // q_cramers_v contingency shape: MI, marginal entropies, and the
    // min-entropy-normalized NMI.
    Q("q_mutual_info", (s, d) =>
      graft.ops.Stats.mutualInfo(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_linestatus")),
      // Same joint-count collapse as q_cramers_v; marginals/total as
      // window sums of exact longs over the cell table, per-cell MI and
      // entropy terms round to 9 dp into DECIMAL(38,9) sums, NMI pinned
      // NULL when min(H) = 0.
      "WITH j AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS c " +
        "FROM lineitem GROUP BY 1, 2), " +
        "g AS (SELECT c, SUM(c) OVER (PARTITION BY x) AS cx, " +
        "SUM(c) OVER (PARTITION BY y) AS cy, SUM(c) OVER () AS n FROM j), " +
        "k AS (SELECT n, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS pxy, " +
        "CAST(cx AS DOUBLE) / CAST(n AS DOUBLE) AS px, " +
        "CAST(cy AS DOUBLE) / CAST(n AS DOUBLE) AS py FROM g), " +
        "a AS (SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells, " +
        "SUM(CAST(round(pxy * log2(pxy / (px * py)), 9) AS DECIMAL(38,9))) AS mi, " +
        "SUM(CAST(round(pxy * log2(px), 9) AS DECIMAL(38,9))) AS hx, " +
        "SUM(CAST(round(pxy * log2(py), 9) AS DECIMAL(38,9))) AS hy FROM k) " +
        "SELECT n, n_cells, round(CAST(mi AS DOUBLE), 6) + 0.0 AS mi, " +
        "round(-CAST(hx AS DOUBLE), 6) + 0.0 AS h_x, " +
        "round(-CAST(hy AS DOUBLE), 6) + 0.0 AS h_y, " +
        "CASE WHEN least(-CAST(hx AS DOUBLE), -CAST(hy AS DOUBLE)) > 0 THEN " +
        "round(CAST(mi AS DOUBLE) / least(-CAST(hx AS DOUBLE), " +
        "-CAST(hy AS DOUBLE)), 6) + 0.0 END AS nmi FROM a"),

    // Two-feature OLS (Stats.olsFit2): price ~ quantity + discount in
    // one exact-DECIMAL moment pass, Cramer closed form, R² readout.
    Q("q_ols2", (s, d) =>
      graft.ops.Stats.olsFit2(Tables.lineitem(s, d),
        "l_extendedprice", "l_quantity", "l_discount"),
      // Same nine DECIMAL moments, same Cramer determinants with pinned
      // association.
      "WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS s1, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(38,12))) AS DOUBLE) AS s2, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS s11, " +
        "CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS s22, " +
        "CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS s12, " +
        "CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS s1y, " +
        "CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS s2y, " +
        "CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS syy " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL " +
        "AND l_quantity IS NOT NULL AND l_discount IS NOT NULL), " +
        "d AS (SELECT n, CAST(n AS DOUBLE) AS nd, s1, s2, sy, s11, s22, s12, " +
        "s1y, s2y, syy, " +
        "CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + " +
        "s2 * (s1 * s12 - s11 * s2) AS det, " +
        "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + " +
        "s2 * (s1y * s12 - s11 * s2y) AS d0, " +
        "CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + " +
        "s2 * (s1 * s2y - s1y * s2) AS d1, " +
        "CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + " +
        "sy * (s1 * s12 - s11 * s2) AS d2 FROM m), " +
        "c AS (SELECT n, nd, sy, s1y, s2y, syy, " +
        "d0 / det AS b0, d1 / det AS b1, d2 / det AS b2 FROM d) " +
        "SELECT n, round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2, " +
        "round(1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / " +
        "(syy - sy * sy / nd), 6) AS r2 FROM c"),

    // A-priori frequent triples over order baskets: pair-frequency
    // pruning before the third join (monotonicity keeps it exact).
    Q("q_basket_triples", (s, d) =>
      graft.ops.Stats.frequentTriples(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2L, topN = 50),
      // Plain three-way basket join — A-priori pruning is count-invariant
      // by monotonicity, so the unpruned oracle is the exact answer.
      "WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it " +
        "FROM lineitem), " +
        "t AS (SELECT a.it AS item1, b.it AS item2, c.it AS item3, " +
        "CAST(count(*) AS BIGINT) AS support " +
        "FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it " +
        "JOIN items c ON a.bk = c.bk AND b.it < c.it GROUP BY 1, 2, 3) " +
        "SELECT item1, item2, item3, support FROM t WHERE support >= 2 " +
        "ORDER BY support DESC, item1, item2, item3 LIMIT 50"),

    // Cross-correlation of daily order count vs daily revenue at lags
    // −3..3 — does volume echo into revenue days later?
    Q("q_ccf", (s, d) =>
      graft.ops.Stats.crossCorrelation(Tables.orders(s, d),
        to_date(col("o_orderdate")), col("o_totalprice"), maxLag = 3),
      // Same daily series, same DECIMAL cross-moment sums, both lag signs.
      "WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
        "CAST(count(*) AS DOUBLE) AS x, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y " +
        "FROM orders GROUP BY 1), " +
        "m AS (SELECT sum(x) / count(*) AS mx, sum(y) / count(*) AS my FROM s), " +
        "c AS (SELECT x - m.mx AS cx, y - m.my AS cy, " +
        (1 to 3).map(l =>
          s"lead(y, $l) OVER (ORDER BY d) - m.my AS cyl$l").mkString(", ") + ", " +
        (1 to 3).map(l =>
          s"lead(x, $l) OVER (ORDER BY d) - m.mx AS cxl$l").mkString(", ") +
        " FROM s CROSS JOIN m), " +
        "a AS (SELECT sum(CAST(cx * cx AS DECIMAL(28,8))) AS dx, " +
        "sum(CAST(cy * cy AS DECIMAL(28,8))) AS dy, " +
        "sum(CAST(cx * cy AS DECIMAL(28,8))) AS n0, " +
        (1 to 3).map(l =>
          s"sum(CAST(cx * cyl$l AS DECIMAL(28,8))) AS np$l").mkString(", ") + ", " +
        (1 to 3).map(l =>
          s"sum(CAST(cy * cxl$l AS DECIMAL(28,8))) AS nm$l").mkString(", ") +
        " FROM c) SELECT lag, ccf FROM (" +
        ((3 to 1 by -1).map(l =>
          s"SELECT -$l AS lag, round(CAST(nm$l AS DOUBLE) / " +
          s"sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS ccf FROM a") ++
         Seq("SELECT 0 AS lag, round(CAST(n0 AS DOUBLE) / " +
          "sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS ccf FROM a") ++
         (1 to 3).map(l =>
          s"SELECT $l AS lag, round(CAST(np$l AS DOUBLE) / " +
          s"sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS ccf FROM a"))
          .mkString(" UNION ALL ") +
        ") ORDER BY lag"),

    // RFM customer-value segmentation: quintile bands per metric via
    // the distributed cumulative, (r,f,m) segment census with spend.
    Q("q_rfm", (s, d) =>
      graft.ops.Stats.rfmSegments(Tables.orders(s, d), "o_custkey",
        to_date(col("o_orderdate")), "o_totalprice", tiles = 5),
      // Same first-position quantile bands over per-value cumulatives.
      "WITH pc AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS lastd, " +
        "CAST(count(*) AS BIGINT) AS freq, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mon " +
        "FROM orders GROUP BY 1), " +
        "ao AS (SELECT max(lastd) AS asof FROM pc), " +
        "b AS (SELECT o_custkey, CAST(date_diff('day', lastd, ao.asof) AS BIGINT) " +
        "AS rec, freq, mon FROM pc CROSS JOIN ao), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b), " +
        "rcv AS (SELECT rec AS v, count(*) AS c FROM b GROUP BY 1), " +
        "rct AS (SELECT v, CAST(floor(CAST(COALESCE(SUM(c) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5 AS DOUBLE) / " +
        "CAST(n.n AS DOUBLE)) AS INT) + 1 AS tile FROM rcv CROSS JOIN n), " +
        "fcv AS (SELECT freq AS v, count(*) AS c FROM b GROUP BY 1), " +
        "fct AS (SELECT v, CAST(floor(CAST(COALESCE(SUM(c) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5 AS DOUBLE) / " +
        "CAST(n.n AS DOUBLE)) AS INT) + 1 AS tile FROM fcv CROSS JOIN n), " +
        "mcv AS (SELECT mon AS v, count(*) AS c FROM b GROUP BY 1), " +
        "mct AS (SELECT v, CAST(floor(CAST(COALESCE(SUM(c) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5 AS DOUBLE) / " +
        "CAST(n.n AS DOUBLE)) AS INT) + 1 AS tile FROM mcv CROSS JOIN n), " +
        "sc AS (SELECT 6 - rct.tile AS r_score, fct.tile AS f_score, " +
        "mct.tile AS m_score, b.mon FROM b " +
        "JOIN rct ON b.rec = rct.v JOIN fct ON b.freq = fct.v " +
        "JOIN mct ON b.mon = mct.v) " +
        "SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers, " +
        "round(CAST(SUM(CAST(mon AS DECIMAL(18,2))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS avg_monetary " +
        "FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),

    // Theil-Sen robust daily-volume trend: median pairwise slope over
    // the calendar-bounded series, through the two-pass percentile.
    Q("q_theil_sen", (s, d) =>
      graft.ops.Stats.theilSenTrend(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same bounded pairwise-slope set, same quantile_cont median.
      s"WITH sd AS ${dailyCounts("y")}, " +
        "s AS (SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS DOUBLE) " +
        "AS x, y FROM sd), " +
        "p AS (SELECT (b.y - a.y) / (b.x - a.x) AS slope FROM s a " +
        "JOIN s b ON a.x < b.x) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(quantile_cont(slope, 0.5), 6) AS slope FROM p"),

    // Kendall tau-b concordance between daily order volume and daily
    // exact revenue — the integer-pair-count rank correlation over the
    // same calendar-bounded pair set as q_theil_sen.
    Q("q_kendall_tau", (s, d) =>
      graft.ops.Stats.kendallTau(Tables.orders(s, d),
        to_date(col("o_orderdate")), col("o_totalprice")),
      // Same calendar-bounded pair set; all counts exact integers, tau_b
      // in the same fixed double arithmetic with the all-tied guard.
      "WITH sd AS (SELECT CAST(o_orderdate AS DATE) AS d, " +
        "CAST(count(*) AS DOUBLE) AS x, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS y " +
        "FROM orders GROUP BY 1), " +
        "p AS (SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS c, " +
        "CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS dd, " +
        "CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx, " +
        "CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty " +
        "FROM sd a JOIN sd b ON a.d < b.d) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(sum(c) AS BIGINT) AS concordant, " +
        "CAST(sum(dd) AS BIGINT) AS discordant, " +
        "CAST(sum(tx) AS BIGINT) AS ties_x, " +
        "CAST(sum(ty) AS BIGINT) AS ties_y, " +
        "CASE WHEN (count(*) - sum(tx)) * (count(*) - sum(ty)) = 0 " +
        "THEN CAST(0 AS DOUBLE) " +
        "ELSE round(CAST(sum(c) - sum(dd) AS DOUBLE) / " +
        "sqrt(CAST((count(*) - sum(tx)) * (count(*) - sum(ty)) AS DOUBLE)), 6) " +
        "END AS tau_b FROM p"),

    // Partial correlation: quantity↔price with the discount channel
    // removed, all three correlations from one moment pass.
    Q("q_partial_corr", (s, d) =>
      graft.ops.Stats.partialCorr(Tables.lineitem(s, d),
        "l_quantity", "l_extendedprice", "l_discount"),
      // Same ten DECIMAL moments, same pinned correlation arithmetic.
      "WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sx, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sz, " +
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sxx, " +
        "CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS syy, " +
        "CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS szz, " +
        "CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS sxy, " +
        "CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS sxz, " +
        "CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,12))) AS DOUBLE) AS syz " +
        "FROM lineitem WHERE l_quantity IS NOT NULL " +
        "AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL), " +
        "r AS (SELECT n, " +
        "(CAST(n AS DOUBLE) * sxy - sx * sy) / " +
        "sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * " +
        "(CAST(n AS DOUBLE) * syy - sy * sy)) AS rxy, " +
        "(CAST(n AS DOUBLE) * sxz - sx * sz) / " +
        "sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * " +
        "(CAST(n AS DOUBLE) * szz - sz * sz)) AS rxz, " +
        "(CAST(n AS DOUBLE) * syz - sy * sz) / " +
        "sqrt((CAST(n AS DOUBLE) * syy - sy * sy) * " +
        "(CAST(n AS DOUBLE) * szz - sz * sz)) AS ryz FROM m) " +
        "SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz, " +
        "round(ryz, 6) AS r_yz, " +
        "round((rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * " +
        "(1.0 - ryz * ryz)), 6) AS r_xy_given_z FROM r"),

    // Zipf rank-frequency fit over the corpus vocabulary: weighted
    // log-log OLS on the count-of-counts table, slope ≈ −1 audit.
    Q("q_zipf_fit", (s, d) =>
      graft.ops.Stats.zipfFit(Tables.documents(s, d), "text"),
      // Same count-of-counts reduction, same min-rank convention, same
      // weighted DECIMAL moments.
      "WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "c AS (SELECT token, count(*) AS cnt FROM t WHERE token <> '' GROUP BY 1), " +
        "pc AS (SELECT cnt, count(*) AS m FROM c GROUP BY 1), " +
        "r AS (SELECT cnt, m, COALESCE(SUM(m) OVER (ORDER BY cnt DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pc), " +
        "p AS (SELECT m, round(ln(CAST(bef AS DOUBLE) + 1.0), 9) AS x, " +
        "round(ln(CAST(cnt AS DOUBLE)), 9) AS y FROM r), " +
        "mm AS (SELECT CAST(SUM(m) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(m * x AS DECIMAL(28,10))) AS DOUBLE) AS sx, " +
        "CAST(SUM(CAST(m * y AS DECIMAL(28,10))) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(m * x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx, " +
        "CAST(SUM(CAST(m * y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy, " +
        "CAST(SUM(CAST(m * x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy FROM p), " +
        "c2 AS (SELECT n, CAST(n AS DOUBLE) AS nd, sx, sy, " +
        "CAST(n AS DOUBLE) * sxy - sx * sy AS covn, " +
        "CAST(n AS DOUBLE) * sxx - sx * sx AS varxn, " +
        "CAST(n AS DOUBLE) * syy - sy * sy AS varyn FROM mm) " +
        "SELECT n AS n_tokens_distinct, round(covn / varxn, 6) AS slope, " +
        "round((sy - covn / varxn * sx) / nd, 6) AS intercept, " +
        "round(covn * covn / (varxn * varyn), 6) AS r2 FROM c2"),

    // XYZ demand-variability bands per part over the full month grid
    // (zero months count), beside q_abc_analysis' value bands.
    Q("q_xyz_analysis", (s, d) =>
      graft.ops.Stats.xyzAnalysis(Tables.lineitem(s, d), "l_partkey",
        to_date(col("l_shipdate")), "l_quantity"),
      // Same full-month-grid fill, same guarded population cv, same bands.
      "WITH mo AS (SELECT l_partkey AS k, " +
        "date_trunc('month', CAST(l_shipdate AS DATE)) AS m, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q " +
        "FROM lineitem GROUP BY 1, 2), " +
        "ms AS (SELECT DISTINCT m FROM mo), ks AS (SELECT DISTINCT k FROM mo), " +
        "g AS (SELECT k, m FROM ks CROSS JOIN ms), " +
        "f AS (SELECT g.k, COALESCE(mo.q, 0.0) AS q FROM g " +
        "LEFT JOIN mo ON g.k = mo.k AND g.m = mo.m), " +
        "st AS (SELECT k, CAST(count(*) AS BIGINT) AS n, " +
        "SUM(CAST(q AS DECIMAL(28,8))) AS s, " +
        "SUM(CAST(q * q AS DECIMAL(28,8))) AS ss FROM f GROUP BY 1), " +
        "cv AS (SELECT k, sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) - " +
        "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) / " +
        "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS cv FROM st WHERE s > 0), " +
        "b AS (SELECT CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y' " +
        "ELSE 'Z' END AS band, cv FROM cv) " +
        "SELECT band, CAST(count(*) AS BIGINT) AS n_keys, " +
        "round(CAST(SUM(CAST(cv AS DECIMAL(28,10))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS avg_cv FROM b GROUP BY 1 ORDER BY 1"),

    // Naive / seasonal-naive forecast error floor over daily volume —
    // the MASE denominator every forecast model must beat.
    Q("q_forecast_baseline", (s, d) =>
      graft.ops.Stats.forecastBaseline(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // Same lag-1/lag-7 error sums over the daily series.
      s"WITH s AS ${dailyCounts("y")}, " +
        "l AS (SELECT y, lag(y, 1) OVER (ORDER BY d) AS l1, " +
        "lag(y, 7) OVER (ORDER BY d) AS l7 FROM s), " +
        "k AS (SELECT " +
        "CAST(SUM(CAST(abs(y - l1) AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(l1) AS DOUBLE) AS a1, " +
        "CAST(SUM(CAST(abs(y - l1) / y AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(l1) AS DOUBLE) AS p1, " +
        "CAST(SUM(CAST(abs(y - l7) AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(l7) AS DOUBLE) AS a7 FROM l) " +
        "SELECT round(a1, 6) AS mae_naive, round(p1, 6) AS mape_naive, " +
        "round(a7, 6) AS mae_snaive, round(a7 / a1, 6) AS snaive_vs_naive FROM k"),

    // ROC AUC by the rank statistic (Stats.rocAuc): does `value`
    // separate purchase events from the rest? Mann-Whitney normalized
    // to P(score⁺ > score⁻), midranks for ties.
    Q("q_auc", (s, d) =>
      graft.ops.Stats.rocAuc(Tables.events(s, d),
        col("event_type") === "purchase", "value"),
      // Same per-value midrank construction as q_mannwhitney, normalized
      // to the AUC probability scale.
      "WITH v AS (SELECT value, CASE WHEN event_type = 'purchase' THEN 1 " +
        "ELSE 0 END AS p FROM events WHERE value IS NOT NULL), " +
        "pv AS (SELECT value, SUM(p) AS cp, SUM(1 - p) AS cn, " +
        "SUM(p) + SUM(1 - p) AS t FROM v GROUP BY 1), " +
        "r AS (SELECT cp, cn, t, COALESCE(SUM(t) OVER (ORDER BY value " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM pv), " +
        "c AS (SELECT CAST(SUM(cp) AS BIGINT) AS n_pos, " +
        "CAST(SUM(cn) AS BIGINT) AS n_neg, " +
        "SUM(CAST((CAST(bef AS DOUBLE) + (t + 1) / 2.0) * cp AS DECIMAL(28,8))) AS rp FROM r) " +
        "SELECT n_pos, n_neg, " +
        "round((CAST(rp AS DOUBLE) - n_pos::DOUBLE * (n_pos::DOUBLE + 1.0) / 2.0) / " +
        "(n_pos::DOUBLE * n_neg::DOUBLE), 6) AS auc, " +
        "round(2.0 * ((CAST(rp AS DOUBLE) - n_pos::DOUBLE * (n_pos::DOUBLE + 1.0) / 2.0) / " +
        "(n_pos::DOUBLE * n_neg::DOUBLE)) - 1.0, 6) AS gini FROM c"),

    // Two-sample Kolmogorov-Smirnov (Stats.ksTest): error-event values
    // vs the rest — sup-norm ECDF drift, no binning choice, beside the
    // binned KL/PSI/JS monitors.
    Q("q_ks_test", (s, d) =>
      graft.ops.Stats.ksTest(Tables.events(s, d),
        col("event_type") === "error", "value"),
      // Inclusive ECDF cumulatives for both slices over the per-value
      // table, sup-norm max, asymptotic two-sided p.
      "WITH v AS (SELECT value, CASE WHEN event_type = 'error' THEN 1 " +
        "ELSE 0 END AS b FROM events WHERE value IS NOT NULL), " +
        "pv AS (SELECT value, SUM(1 - b) AS ca, SUM(b) AS cb FROM v GROUP BY 1), " +
        "c AS (SELECT SUM(ca) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS cuma, SUM(cb) OVER (ORDER BY value " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb FROM pv), " +
        "t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM pv), " +
        "d AS (SELECT max(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) - " +
        "CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS dmax FROM c CROSS JOIN t) " +
        "SELECT na AS n_a, nb AS n_b, round(dmax, 6) AS d_stat, " +
        "round(least(1.0, 2.0 * exp(-2.0 * dmax * dmax * CAST(na AS DOUBLE) * " +
        "CAST(nb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))), 6) " +
        "AS p_approx FROM d CROSS JOIN t"),

    // Exact 1-D Wasserstein-1 drift (Stats.wasserstein1): returned
    // lineitems vs the rest on quantity — the ECDF-area drift metric
    // WITH UNITS beside q_ks_test's sup-norm, same range-bucketed
    // cumulative machinery.
    Q("q_wasserstein", (s, d) =>
      graft.ops.Stats.wasserstein1(Tables.lineitem(s, d),
        col("l_returnflag") === "R", "l_quantity"),
      // Same per-value count collapse as q_ks_test, inclusive-cumulative
      // ECDFs, strip terms round(|Fa-Fb|*dx, 9) into a DECIMAL(38,9) sum;
      // empty-arm CASE pin and the coalesce-to-0 single-value degenerate
      // mirror the engine exactly.
      "WITH v AS (SELECT CAST(l_quantity AS DOUBLE) AS v, CASE WHEN " +
        "l_returnflag = 'R' THEN 1 ELSE 0 END AS a FROM lineitem " +
        "WHERE l_quantity IS NOT NULL), " +
        "pv AS (SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM v GROUP BY 1), " +
        "c AS (SELECT v, SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS cuma, SUM(cb) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb, " +
        "lead(v) OVER (ORDER BY v) AS nxt FROM pv), " +
        "t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb FROM pv), " +
        "s AS (SELECT SUM(CAST(CASE WHEN na > 0 AND nb > 0 THEN " +
        "round(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) - " +
        "CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)) * (nxt - v), 9) " +
        "ELSE 0.0 END AS DECIMAL(38,9))) AS w1 " +
        "FROM c CROSS JOIN t WHERE nxt IS NOT NULL) " +
        "SELECT na AS n_a, nb AS n_b, CASE WHEN na > 0 AND nb > 0 THEN " +
        "round(CAST(coalesce(w1, 0) AS DOUBLE), 6) + 0.0 END AS w1 " +
        "FROM s CROSS JOIN t"),

    // Two-sample Cramér–von Mises (Stats.cramerVonMises): error-event
    // values vs the rest — the integrated-squared ECDF gap on the same
    // slices as q_ks_test's sup-norm.
    Q("q_cramer_von_mises", (s, d) =>
      graft.ops.Stats.cramerVonMises(Tables.events(s, d),
        col("event_type") === "error", "value"),
      // Same per-value collapse and inclusive cumulatives as q_ks_test;
      // per-value (ca+cb)*(Fa-Fb)^2 terms round to 9 dp into a
      // DECIMAL(38,9) sum, the na*nb/(na+nb)^2 factor applied once at
      // readout; empty-arm CASE pin mirrored.
      "WITH v AS (SELECT CAST(value AS DOUBLE) AS v, CASE WHEN " +
        "event_type = 'error' THEN 1 ELSE 0 END AS a FROM events " +
        "WHERE value IS NOT NULL), " +
        "pv AS (SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM v GROUP BY 1), " +
        "c AS (SELECT ca, cb, SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS cuma, SUM(cb) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb FROM pv), " +
        "t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, " +
        "CAST(SUM(cb) AS BIGINT) AS nb FROM pv), " +
        "s AS (SELECT SUM(CAST(CASE WHEN na > 0 AND nb > 0 THEN " +
        "round(CAST(ca + cb AS DOUBLE) * " +
        "((CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) - " +
        "CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)) * " +
        "(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) - " +
        "CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))), 9) " +
        "ELSE 0.0 END AS DECIMAL(38,9))) AS s FROM c CROSS JOIN t) " +
        "SELECT na AS n_a, nb AS n_b, CASE WHEN na > 0 AND nb > 0 THEN " +
        "round((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / " +
        "((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) * " +
        "(CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) * CAST(s AS DOUBLE), 6) " +
        "+ 0.0 END AS t_stat FROM s CROSS JOIN t"),

    // Hill tail-index (Stats.hillTailIndex): mean log-excess of the top
    // 100 extended prices over the 101st — the heavy-tail alpha readout
    // beside q_gumbel_fit's block maxima.
    Q("q_hill_tail", (s, d) =>
      graft.ops.Stats.hillTailIndex(Tables.lineitem(s, d),
        "l_extendedprice", k = 100),
      // Same top-(k+1) value multiset (ties value-deterministic), same
      // 9-dp ln terms into a DECIMAL(38,9) sum; short-input and flat-tail
      // NULL pins mirrored.
      "WITH top AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0 " +
        "ORDER BY v DESC LIMIT 101), " +
        "x AS (SELECT min(v) AS xk, count(*) AS m FROM top), " +
        "s AS (SELECT max(m) AS m, max(xk) AS xk, " +
        "SUM(CAST(round(ln(v / xk), 9) AS DECIMAL(38,9))) AS s " +
        "FROM top CROSS JOIN x) " +
        "SELECT CAST(m - 1 AS BIGINT) AS n_top, " +
        "round(xk, 6) + 0.0 AS x_threshold, " +
        "CASE WHEN m = 101 THEN round(CAST(s AS DOUBLE) / 100.0, 6) + 0.0 " +
        "END AS gamma, " +
        "CASE WHEN m = 101 AND CAST(s AS DOUBLE) > 0 THEN " +
        "round(100.0 / CAST(s AS DOUBLE), 6) + 0.0 END AS alpha FROM s"),

    // Calibration / reliability table (Stats.calibrationReport):
    // min-max-normalized value vs purchase incidence, 10 bins, per-bin
    // Brier contribution.
    Q("q_calibration", (s, d) =>
      graft.ops.Stats.calibrationReport(Tables.events(s, d),
        col("event_type") === "purchase", "value", bins = 10),
      // Min-max scalar CTE, equal-width bins, per-bin reliability + Brier.
      "WITH b AS (SELECT CAST(value AS DOUBLE) AS s, CASE WHEN " +
        "event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b), " +
        "sc AS (SELECT CASE WHEN hi = lo THEN 0.5 ELSE (s - lo) / (hi - lo) " +
        "END AS p, y FROM b CROSS JOIN mm), " +
        "bn AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, p, y FROM sc) " +
        "SELECT bin, count(*) AS n, " +
        "round(CAST(SUM(CAST(p AS DECIMAL(28,10))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mean_pred, " +
        "round(CAST(SUM(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS frac_pos, " +
        "round(CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(28,10))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS brier " +
        "FROM bn GROUP BY 1 ORDER BY 1"),

    // Global classifier scorecard (Stats.classifierMetrics): Brier,
    // clamped log loss, accuracy at the 0.5 cut — the one-row summary
    // beside q_calibration's per-bin reliability table.
    Q("q_classifier_metrics", (s, d) =>
      graft.ops.Stats.classifierMetrics(Tables.events(s, d),
        col("event_type") === "purchase", "value"),
      // Same min-max normalization and hi==lo pin as q_calibration; log
      // loss clamps with the identical double literals and rounds each
      // term through DECIMAL(28,12) before the sum.
      "WITH b AS (SELECT CAST(value AS DOUBLE) AS s, CASE WHEN " +
        "event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b), " +
        "sc AS (SELECT y, CASE WHEN hi = lo THEN 0.5 ELSE (s - lo) / (hi - lo) " +
        "END AS p FROM b CROSS JOIN mm), " +
        "pc AS (SELECT y, p, least(greatest(p, 1e-6), 1 - 1e-6) AS q FROM sc) " +
        "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "round(CAST(sum(CAST((p - y) * (p - y) AS DECIMAL(28,12))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS brier, " +
        "round(CAST(sum(CAST(round(-(y * ln(q) + (1 - y) * ln(1 - q)), 9) AS DECIMAL(28,12))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS log_loss, " +
        "round(CAST(sum(CASE WHEN (p >= 0.5 AND y = 1) OR (p < 0.5 AND y = 0) " +
        "THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS acc_at_half " +
        "FROM pc"),

    // Murphy decomposition + ECE (Stats.calibrationDecomp): the one-row
    // reliability/resolution/uncertainty/ECE split of q_calibration's
    // table — same min-max projection, same 10 bins.
    Q("q_calibration_decomp", (s, d) =>
      graft.ops.Stats.calibrationDecomp(Tables.events(s, d),
        col("event_type") === "purchase", "value", bins = 10),
      // Same min-max projection and 10 bins as q_calibration; bin moments
      // in DECIMAL(28,10), per-bin decomposition terms round to 9 dp
      // before DECIMAL(38,9) sums, readouts /n at 6 dp signed-zero-safe.
      "WITH b AS (SELECT CAST(value AS DOUBLE) AS s, CASE WHEN " +
        "event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events " +
        "WHERE value IS NOT NULL), " +
        "mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b), " +
        "sc AS (SELECT CASE WHEN hi = lo THEN 0.5 ELSE (s - lo) / (hi - lo) " +
        "END AS p, y FROM b CROSS JOIN mm), " +
        "bn AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin, p, y FROM sc), " +
        "g AS (SELECT bin, count(*) AS nb, " +
        "SUM(CAST(p AS DECIMAL(28,10))) AS sp, " +
        "SUM(CAST(p * p AS DECIMAL(28,10))) AS spp, " +
        "SUM(y) AS ny, " +
        "SUM(CAST((p - y) * (p - y) AS DECIMAL(28,10))) AS sbr FROM bn GROUP BY 1), " +
        "w AS (SELECT *, SUM(nb) OVER () AS n, SUM(ny) OVER () AS npos FROM g), " +
        "k AS (SELECT n, npos, CAST(nb AS DOUBLE) AS nbd, " +
        "CAST(sp AS DOUBLE) / CAST(nb AS DOUBLE) AS conf, " +
        "CAST(ny AS DOUBLE) / CAST(nb AS DOUBLE) AS acc, " +
        "CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) AS ybar, " +
        "CAST(spp AS DOUBLE) AS sppd, sbr FROM w), " +
        "t AS (SELECT CAST(max(n) AS BIGINT) AS n, " +
        "CAST(max(npos) AS BIGINT) AS n_pos, " +
        "SUM(CAST(round(nbd * (conf - acc) * (conf - acc), 9) AS DECIMAL(38,9))) AS rel, " +
        "SUM(CAST(round(nbd * (acc - ybar) * (acc - ybar), 9) AS DECIMAL(38,9))) AS res, " +
        "SUM(CAST(round(sppd - nbd * conf * conf, 9) AS DECIMAL(38,9))) AS wbv, " +
        "SUM(CAST(round(nbd * abs(conf - acc), 9) AS DECIMAL(38,9))) AS ece, " +
        "SUM(sbr) AS br FROM k) " +
        "SELECT n, n_pos, " +
        "round(CAST(br AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS brier, " +
        "round(CAST(rel AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS reliability, " +
        "round(CAST(res AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS resolution, " +
        "round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(1.0 - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) + 0.0 AS uncertainty, " +
        "round(CAST(wbv AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS within_bin_var, " +
        "round(CAST(ece AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS ece FROM t"),

    // Trained quality classifier (Stats.logisticFit2): 3 unrolled
    // Newton steps of two-feature logistic regression — is-English vs
    // (ln(1+tokens), chars-per-token) — the GPT-3-style "fit a
    // classifier against a reference slice" training step beside the
    // counting Naive Bayes. Each step is one 10-number moment shuffle;
    // the corpus never moves.
    Q("q_logistic_quality", (s, d) => {
      val P = graft.functions.PortableMath
      val nTok = size(split(col("text"), " ")).cast("double")
      // x1 = pin9(pln(1+tokens)) from the INJECTED literal grid — the
      // integer-domain covariate is computed once on
      // the JVM, never by an engine; x2's division is a single
      // correctly-rounded IEEE op, identical cross-engine by itself
      graft.ops.Stats.logisticFit2(Tables.documents(s, d),
        (col("lang") === "en").cast("double"),
        lnGridX((size(split(col("text"), " ")) + 1).cast("long"),
          "q_logistic_quality"),
        P.pin9(col("n_chars").cast("double") / nTok))
    },
      logisticQualityOracle),

    // Kernel-at-fit-arguments probe for the logistic family: bit-chunk
    // digests of the RAW sigmoid pexp and the two clamped loss plns at
    // the exact final-β arguments over the documents corpus.
    Q("q_logistic_diag_kernel", (s, d) =>
      graft.ops.Stats.logisticDiagKernel(Tables.documents(s, d),
        col("doc_id"), (col("lang") === "en").cast("double"),
        lnGridX((size(split(col("text"), " ")) + 1).cast("long"),
          "q_logistic_diag_kernel"),
        graft.functions.PortableMath.pin9(col("n_chars").cast("double") /
          size(split(col("text"), " ")).cast("double"))),
      logisticDiagKernelOracle),

    // The classifier's FILTERING step (Stats.logisticScore): train the
    // same 3-step β, broadcast the one-row model, score every doc as a
    // narrow projection on the scan — zero corpus shuffles end-to-end.
    Q("q_quality_scores", (s, d) => {
      val P = graft.functions.PortableMath
      val nTok = size(split(col("text"), " ")).cast("double")
      // same grid-injected x1 as q_logistic_quality
      graft.ops.Stats.logisticScore(Tables.documents(s, d), col("doc_id"),
        (col("lang") === "en").cast("double"),
        lnGridX((size(split(col("text"), " ")) + 1).cast("long"),
          "q_quality_scores"),
        P.pin9(col("n_chars").cast("double") / nTok))
        .select(col("id").alias("doc_id"), col("score"))
        .orderBy("doc_id")
    },
      qualityScoresOracle),

    // Information-gain feature ranking (Stats.infoGain): hour-of-day,
    // ISO weekday, and value band against purchase incidence.
    Q("q_info_gain", (s, d) =>
      graft.ops.Stats.infoGain(Tables.events(s, d),
        col("event_type") === "purchase",
        Seq(
          ("hour", hour(col("ts"))),
          ("dow", (weekday(col("ts")) + 1).cast("long")),
          ("value_band",
            least(floor(col("value") / 50.0), lit(9.0)).cast("long")))),
      infoGainOracle),

    // Day-of-week seasonal index (Stats.seasonalIndex) of daily order
    // volume — the multiplicative weekly profile.
    Q("q_seasonal_index", (s, d) =>
      graft.ops.Stats.seasonalIndex(Tables.orders(s, d),
        to_date(col("o_orderdate"))),
      // isodow shares Spark's weekday()+1 numbering (1 = Monday).
      "WITH s AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS y " +
        "FROM orders GROUP BY 1), " +
        "dw AS (SELECT CAST(isodow(d) AS BIGINT) AS dow, count(*) AS n_days, " +
        "SUM(CAST(y AS DECIMAL(28,8))) AS sy FROM s GROUP BY 1), " +
        "o AS (SELECT CAST(SUM(CAST(y AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS avg FROM s) " +
        "SELECT dow, n_days, " +
        "round(CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS avg_count, " +
        "round((CAST(sy AS DOUBLE) / CAST(n_days AS DOUBLE)) / avg, 6) " +
        "AS seasonal_index FROM dw CROSS JOIN o ORDER BY dow"),

    // Market concentration (Stats.hhiConcentration): HHI + CR4 of
    // customer revenue within each nation.
    Q("q_hhi", (s, d) => {
      val j = Tables.orders(s, d).select("o_custkey", "o_totalprice")
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Stats.hhiConcentration(j, "c_nationkey", "o_custkey",
        "o_totalprice")
    },
      // Shares from exact DECIMAL per-entity totals; CR4 via ranked top-4.
      "WITH j AS (SELECT c_nationkey AS grp, o_custkey AS e, o_totalprice AS v " +
        "FROM orders JOIN customer ON o_custkey = c_custkey), " +
        "per AS (SELECT grp, e, SUM(CAST(v AS DECIMAL(18,2))) AS v FROM j GROUP BY 1, 2), " +
        "tot AS (SELECT grp, SUM(v) AS tot, count(*) AS n_entities FROM per GROUP BY 1), " +
        "t4 AS (SELECT grp, SUM(v) AS top4 FROM (SELECT grp, v, " +
        "row_number() OVER (PARTITION BY grp ORDER BY v DESC, e) AS rn FROM per) " +
        "WHERE rn <= 4 GROUP BY 1), " +
        "sh AS (SELECT p.grp, SUM(CAST((CAST(p.v AS DOUBLE) / CAST(t.tot AS DOUBLE)) * " +
        "(CAST(p.v AS DOUBLE) / CAST(t.tot AS DOUBLE)) AS DECIMAL(28,10))) AS hhi " +
        "FROM per p JOIN tot t ON p.grp = t.grp GROUP BY 1) " +
        "SELECT t.grp, t.n_entities, " +
        "round(CAST(s.hhi AS DOUBLE) * 10000.0, 6) AS hhi, " +
        "round(CAST(f.top4 AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS cr4 " +
        "FROM tot t JOIN sh s ON t.grp = s.grp JOIN t4 f ON t.grp = f.grp " +
        "ORDER BY t.grp"),

    // Association rules (Stats.assocRules): directed part pairs over
    // order baskets with support/confidence/lift/leverage.
    Q("q_assoc_rules", (s, d) =>
      graft.ops.Stats.assocRules(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2L, topN = 50),
      // Directed pair counts over distinct order baskets; rule metrics on
      // the aggregated pair table.
      "WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem), " +
        "nb AS (SELECT count(DISTINCT bk) AS n FROM items), " +
        "pi AS (SELECT it, count(*) AS cin FROM items GROUP BY 1), " +
        "pr AS (SELECT a.it AS antecedent, b.it AS consequent, count(*) AS pair_n " +
        "FROM items a JOIN items b ON a.bk = b.bk AND a.it <> b.it " +
        "GROUP BY 1, 2 HAVING count(*) >= 2) " +
        "SELECT antecedent, consequent, pair_n, " +
        "round(CAST(pair_n AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support, " +
        "round(CAST(pair_n AS DOUBLE) / CAST(na.cin AS DOUBLE), 6) AS confidence, " +
        "round((CAST(pair_n AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "((CAST(na.cin AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(nc.cin AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS lift, " +
        "round(CAST(pair_n AS DOUBLE) / CAST(n AS DOUBLE) - " +
        "(CAST(na.cin AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(nc.cin AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS leverage " +
        "FROM pr JOIN pi na ON antecedent = na.it " +
        "JOIN pi nc ON consequent = nc.it CROSS JOIN nb " +
        "ORDER BY confidence DESC, pair_n DESC, antecedent, consequent LIMIT 50"),

    // Deterministic Poisson-bootstrap CI (Stats.bootstrapCI) for the
    // mean order price: md5-derived resamples both engines replay
    // exactly — the distributed bootstrap with zero RNG state.
    Q("q_bootstrap_ci", (s, d) =>
      graft.ops.Stats.bootstrapCI(Tables.orders(s, d),
        "o_orderkey", "o_totalprice", reps = 100, alpha = 0.05),
      // Poisson-bootstrap mirror: same md5 draw (id:rep#0), same CDF
      // literals, same DECIMAL sums and rank picks (reps=100 → ranks 3/98).
      "WITH b AS (SELECT CAST(o_orderkey AS VARCHAR) AS id, " +
        "CAST(o_totalprice AS DOUBLE) AS x FROM orders " +
        "WHERE o_totalprice IS NOT NULL), " +
        "r AS (SELECT id, x, unnest(range(100)) AS rep FROM b), " +
        "u AS (SELECT rep, x, ('0x' || substr(md5(id || ':' || " +
        "CAST(rep AS VARCHAR) || '#0'), 1, 8))::BIGINT / 4294967296.0 " +
        "AS uu FROM r), " +
        "w AS (SELECT rep, x, CASE " +
        "WHEN uu < 0.36787944117144233 THEN 0 " +
        "WHEN uu < 0.7357588823428847 THEN 1 " +
        "WHEN uu < 0.9196986029286058 THEN 2 " +
        "WHEN uu < 0.9810118431238463 THEN 3 " +
        "WHEN uu < 0.9963401531726563 THEN 4 " +
        "WHEN uu < 0.9994058151824183 THEN 5 ELSE 6 END AS w FROM u), " +
        "m AS (SELECT rep, round(CAST(SUM(CAST(w * x AS DECIMAL(38,10))) " +
        "AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 9) AS m FROM w " +
        "GROUP BY rep HAVING SUM(w) > 0), " +
        "rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rk FROM m), " +
        "ov AS (SELECT count(*) AS n, " +
        "round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS mean FROM b) " +
        "SELECT ov.n, ov.mean, " +
        "(SELECT round(m, 6) FROM rk WHERE rk = 3) AS ci_lo, " +
        "(SELECT round(m, 6) FROM rk WHERE rk = 98) AS ci_hi FROM ov"),

    // Exact weighted median (Stats.weightedMedian): quantity-weighted
    // median extended price per return flag — the "median unit shipped"
    // rather than the median line.
    Q("q_weighted_median", (s, d) =>
      graft.ops.Stats.weightedMedian(Tables.lineitem(s, d), "l_returnflag",
        col("l_extendedprice"), col("l_quantity")),
      "WITH g AS (SELECT l_returnflag, l_extendedprice AS v, " +
        "SUM(CAST(l_quantity AS DECIMAL(28,8))) AS w FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT l_returnflag, v, SUM(w) OVER (PARTITION BY l_returnflag " +
        "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, " +
        "SUM(w) OVER (PARTITION BY l_returnflag) AS tw FROM g) " +
        "SELECT l_returnflag, min(v) AS weighted_median FROM c " +
        "WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1"),

    // Additive STL-style decomposition (Stats.stlDecompose) of daily
    // order volume: ±3-day centered trend, centered day-of-week
    // seasonal, remainder.
    Q("q_stl_decompose", (s, d) =>
      graft.ops.Stats.stlDecompose(Tables.orders(s, d),
        to_date(col("o_orderdate")), halfWindow = 3),
      // isodow shares Spark's weekday()+1 numbering; trend is 6-dp-pinned
      // before detrending on both sides so the subtraction is identical.
      s"WITH s AS MATERIALIZED ${dailyCounts("y")}, " +
        "t AS MATERIALIZED (SELECT d, y, count(*) OVER w AS n, " +
        "round(CAST(SUM(CAST(y AS DECIMAL(28,8))) OVER w AS DOUBLE) / " +
        "CAST(count(*) OVER w AS DOUBLE), 6) AS trend FROM s " +
        "WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "f AS MATERIALIZED (SELECT d, y, trend, y - trend AS detr, " +
        "CAST(isodow(d) AS BIGINT) AS dow FROM t WHERE n = 7), " +
        "dm AS (SELECT dow, CAST(SUM(CAST(detr AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS sm FROM f GROUP BY 1), " +
        "cc AS (SELECT CAST(SUM(CAST(sm AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS c FROM dm), " +
        "se AS (SELECT dow, round(sm - c, 6) AS seasonal FROM dm CROSS JOIN cc) " +
        "SELECT f.d, f.y, f.trend, se.seasonal, " +
        "round(f.y - f.trend - se.seasonal, 6) AS remainder " +
        "FROM f JOIN se USING (dow) ORDER BY f.d"),

    // SAX symbolization (Stats.saxSymbols) of daily order volume:
    // z-normalize, weekly PAA frames, 4-letter Gaussian-breakpoint
    // alphabet.
    Q("q_sax_symbols", (s, d) =>
      graft.ops.Stats.saxSymbols(Tables.orders(s, d),
        to_date(col("o_orderdate")), frameLen = 7),
      s"WITH s AS MATERIALIZED ${dailyCounts("y")}, " +
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
        "SUM(CAST(y AS DECIMAL(28,8))) AS s1, " +
        "SUM(CAST(y * y AS DECIMAL(28,8))) AS s2 FROM s), " +
        "z AS (SELECT d, round((y - CAST(s1 AS DOUBLE) / n) / " +
        "sqrt(CAST(s2 AS DOUBLE) / n - " +
        "(CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 6) AS z, " +
        "row_number() OVER (ORDER BY d) AS rn FROM s CROSS JOIN m) " +
        "SELECT CAST(floor((rn - 1) / 7) AS BIGINT) AS frame, " +
        "count(*) AS n_days, " +
        "round(CAST(SUM(CAST(z AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS paa, " +
        "CASE WHEN round(CAST(SUM(CAST(z AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) < -0.6745 THEN 'a' " +
        "WHEN round(CAST(SUM(CAST(z AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) < 0.0 THEN 'b' " +
        "WHEN round(CAST(SUM(CAST(z AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) < 0.6745 THEN 'c' ELSE 'd' END AS symbol " +
        "FROM z GROUP BY 1 ORDER BY 1"),

    // Precision-recall curve (Stats.prCurve) for "value predicts
    // purchase", thresholds on the 1-dp score grid.
    Q("q_pr_curve", (s, d) =>
      graft.ops.Stats.prCurve(Tables.events(s, d),
        col("event_type") === "purchase", "value", decimals = 1),
      "WITH b AS (SELECT round(value, 1) AS thr, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y " +
        "FROM events WHERE value IS NOT NULL), " +
        "pt AS (SELECT thr, CAST(SUM(y) AS BIGINT) AS np, count(*) AS n " +
        "FROM b GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(np) AS BIGINT) AS p FROM pt), " +
        "c AS (SELECT thr, CAST(SUM(np) OVER w AS BIGINT) AS tp, " +
        "CAST(SUM(n) OVER w AS BIGINT) AS npred FROM pt " +
        "WINDOW w AS (ORDER BY thr DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT thr, round(CAST(tp AS DOUBLE) / CAST(npred AS DOUBLE), 6) " +
        "AS \"precision\", round(CASE WHEN p > 0 THEN " +
        "CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) END, 6) AS recall " +
        "FROM c CROSS JOIN tot ORDER BY thr DESC"),

    // Robust per-group outlier report (Stats.robustZscoreByGroup):
    // modified z via median/MAD per event type at the 3.5 cutoff.
    Q("q_robust_zscore", (s, d) =>
      graft.ops.Stats.robustZscoreByGroup(Tables.events(s, d),
        "event_type", "value", cutoff = 3.5),
      "WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS v " +
        "FROM events WHERE value IS NOT NULL), " +
        "m AS (SELECT event_type, quantile_cont(v, 0.5) AS med " +
        "FROM b GROUP BY 1), " +
        "d AS (SELECT b.event_type, b.v, m.med FROM b JOIN m USING (event_type)), " +
        "md AS (SELECT event_type, quantile_cont(abs(v - med), 0.5) AS mad " +
        "FROM d GROUP BY 1), " +
        "j AS (SELECT d.event_type, d.v, d.med, md.mad FROM d " +
        "JOIN md USING (event_type)) " +
        "SELECT event_type, count(*) AS n, round(min(med), 6) AS median, " +
        "round(min(mad), 6) AS mad, " +
        "CAST(SUM(CASE WHEN mad > 0 AND " +
        "abs(CAST(0.6745 AS DOUBLE) * (v - med) / mad) > 3.5 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM j GROUP BY 1 ORDER BY 1"),

    // Seasonal anomaly days (Stats.stlAnomalies): order-volume days
    // whose STL remainder exceeds 3σ.
    Q("q_stl_anomaly", (s, d) =>
      graft.ops.Stats.stlAnomalies(Tables.orders(s, d),
        to_date(col("o_orderdate")), halfWindow = 3),
      stlAnomalyOracle),

    // Difference-in-differences (Stats.diffInDiff): even-user "rollout"
    // crossed with the Jan-16 cutover on event value.
    Q("q_did", (s, d) =>
      graft.ops.Stats.diffInDiff(Tables.events(s, d),
        col("user_id") % 2 === 0,
        col("ts") >= lit("2024-01-16").cast("timestamp"), "value"),
      "WITH b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t, " +
        "CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS p, " +
        "CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL), " +
        "a AS (SELECT " +
        "SUM(CASE WHEN t = 1 AND p = 0 THEN CAST(v AS DECIMAL(28,8)) END) AS s_tpre, " +
        "SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END) AS n_tpre, " +
        "SUM(CASE WHEN t = 1 AND p = 1 THEN CAST(v AS DECIMAL(28,8)) END) AS s_tpost, " +
        "SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS n_tpost, " +
        "SUM(CASE WHEN t = 0 AND p = 0 THEN CAST(v AS DECIMAL(28,8)) END) AS s_cpre, " +
        "SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END) AS n_cpre, " +
        "SUM(CASE WHEN t = 0 AND p = 1 THEN CAST(v AS DECIMAL(28,8)) END) AS s_cpost, " +
        "SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END) AS n_cpost FROM b) " +
        "SELECT " +
        "round(CASE WHEN n_tpre > 0 THEN CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE) END, 6) AS treated_pre, " +
        "round(CASE WHEN n_tpost > 0 THEN CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE) END, 6) AS treated_post, " +
        "round(CASE WHEN n_cpre > 0 THEN CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE) END, 6) AS control_pre, " +
        "round(CASE WHEN n_cpost > 0 THEN CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE) END, 6) AS control_post, " +
        "round((CAST(s_tpost AS DOUBLE) / CAST(n_tpost AS DOUBLE) - " +
        "CAST(s_tpre AS DOUBLE) / CAST(n_tpre AS DOUBLE)) - " +
        "(CAST(s_cpost AS DOUBLE) / CAST(n_cpost AS DOUBLE) - " +
        "CAST(s_cpre AS DOUBLE) / CAST(n_cpre AS DOUBLE)), 6) AS did FROM a"),

    // CUPED variance reduction (Stats.cuped): pre-period per-user value
    // baseline adjusting the post-period metric, same assignment/cutover.
    Q("q_cuped", (s, d) =>
      graft.ops.Stats.cuped(Tables.events(s, d), "user_id",
        col("user_id") % 2 === 0,
        col("ts") >= lit("2024-01-16").cast("timestamp"), "value"),
      cupedOracle),

    // Item-item CF (Stats.itemItemCosine): cosine co-occurrence top-5
    // recommendations per part over order baskets.
    Q("q_item_cf", (s, d) =>
      graft.ops.Stats.itemItemCosine(Tables.lineitem(s, d), "l_orderkey",
        "l_partkey", minSupport = 2L, k = 5),
      "WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it " +
        "FROM lineitem), " +
        "pi AS (SELECT it, count(*) AS n FROM b GROUP BY 1), " +
        "p AS (SELECT a.it AS i1, b2.it AS i2, count(*) AS cooc FROM b a " +
        "JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it GROUP BY 1, 2 " +
        "HAVING count(*) >= 2), " +
        "dd AS (SELECT i1 AS item, i2 AS recommended, cooc FROM p " +
        "UNION ALL SELECT i2, i1, cooc FROM p), " +
        "sc AS (SELECT dd.item, dd.recommended, dd.cooc, " +
        "round(CAST(dd.cooc AS DOUBLE) / " +
        "sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)), 6) AS score " +
        "FROM dd JOIN pi na ON na.it = dd.item " +
        "JOIN pi nb ON nb.it = dd.recommended) " +
        "SELECT item, recommended, cooc, score, CAST(rn AS BIGINT) AS rn " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY item " +
        "ORDER BY score DESC, recommended) AS rn FROM sc) " +
        "WHERE rn <= 5 ORDER BY item, rn"),

    // Wilson lower-bound ranking (Stats.wilsonRank): parts by the
    // pessimistic return-rate bound, volume floor 20.
    Q("q_wilson_rank", (s, d) =>
      graft.ops.Stats.wilsonRank(Tables.lineitem(s, d), "l_partkey",
        col("l_returnflag") === "R", z = 1.96, minTrials = 20L, topN = 20),
      // z and its square CAST to DOUBLE before any arithmetic — DuckDB's
      // DECIMAL literal product (3.8416 exact) is NOT the IEEE product
      // the engine computes.
      "WITH c AS (SELECT l_partkey, count(*) AS n, " +
        "CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS successes FROM lineitem GROUP BY 1 HAVING count(*) >= 20), " +
        "s AS (SELECT l_partkey, n, successes, " +
        "CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p, " +
        "CAST(n AS DOUBLE) AS nd, " +
        "CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2 FROM c) " +
        "SELECT l_partkey, n, successes, round(p, 6) AS rate, " +
        "round((p + z2 / (2.0 * nd) - CAST(1.96 AS DOUBLE) * " +
        "sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))) / " +
        "(1.0 + z2 / nd), 6) AS wilson_lb " +
        "FROM s ORDER BY wilson_lb DESC, l_partkey LIMIT 20"),

    // One-way ANOVA (Stats.anovaOneWay): does mean event value differ
    // anywhere across the five event types, with eta-squared.
    Q("q_anova", (s, d) =>
      graft.ops.Stats.anovaOneWay(Tables.events(s, d), "event_type",
        "value"),
      "WITH src AS (SELECT event_type, CAST(value AS DOUBLE) AS v " +
        "FROM events WHERE value IS NOT NULL), " +
        "pg AS (SELECT event_type, count(*) AS n, " +
        "SUM(CAST(v AS DECIMAL(28,8))) AS s, " +
        "SUM(CAST(v * v AS DECIMAL(28,8))) AS s2 FROM src GROUP BY 1), " +
        "pm AS (SELECT n, s, s2, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m " +
        "FROM pg), " +
        "red AS (SELECT count(*) AS k, CAST(SUM(n) AS BIGINT) AS n, " +
        "SUM(CAST(s AS DECIMAL(28,8))) AS gs, " +
        "SUM(CAST(m * m * CAST(n AS DOUBLE) AS DECIMAL(28,10))) AS snm2, " +
        "SUM(CAST(CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE) * m * m " +
        "AS DECIMAL(28,10))) AS ssw FROM pm), " +
        "fin AS (SELECT k, n, CAST(snm2 AS DOUBLE) - " +
        "(CAST(gs AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(gs AS DOUBLE) AS ssb, " +
        "CAST(ssw AS DOUBLE) AS sswd, k - 1 AS df1, n - k AS df2 FROM red) " +
        "SELECT k, n, CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2, " +
        "round(ssb, 6) AS ss_between, round(sswd, 6) AS ss_within, " +
        "round((ssb / CAST(df1 AS DOUBLE)) / (sswd / CAST(df2 AS DOUBLE)), 6) " +
        "AS f_stat, round(ssb / (ssb + sswd), 6) AS eta_squared FROM fin"),

    // Standardized effect size (Stats.effectSize): Cohen's d / Hedges' g
    // for the even-user split on event value.
    Q("q_effect_size", (s, d) =>
      graft.ops.Stats.effectSize(Tables.events(s, d),
        col("user_id") % 2 === 0, "value"),
      "WITH b AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t, " +
        "CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL), " +
        "a AS (SELECT " +
        "CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
        "SUM(CASE WHEN t = 0 THEN CAST(v AS DECIMAL(28,8)) END) AS s0, " +
        "SUM(CASE WHEN t = 0 THEN CAST(v * v AS DECIMAL(28,8)) END) AS q0, " +
        "CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "SUM(CASE WHEN t = 1 THEN CAST(v AS DECIMAL(28,8)) END) AS s1, " +
        "SUM(CASE WHEN t = 1 THEN CAST(v * v AS DECIMAL(28,8)) END) AS q1 " +
        "FROM b), " +
        "w AS (SELECT n0, n1, " +
        "CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0, " +
        "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1, " +
        "(CAST(q0 AS DOUBLE) - CAST(n0 AS DOUBLE) * " +
        "(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) * " +
        "(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) / " +
        "(CAST(n0 AS DOUBLE) - 1.0) AS v0, " +
        "(CAST(q1 AS DOUBLE) - CAST(n1 AS DOUBLE) * " +
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * " +
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))) / " +
        "(CAST(n1 AS DOUBLE) - 1.0) AS v1 FROM a), " +
        "w2 AS (SELECT n0, n1, m0, m1, " +
        "sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1 + " +
        "(CAST(n0 AS DOUBLE) - 1.0) * v0) / " +
        "(CAST(n0 + n1 AS DOUBLE) - 2.0)) AS pooled FROM w) " +
        "SELECT n0 AS n_control, n1 AS n_treated, " +
        "round(m0, 6) AS mean_control, round(m1, 6) AS mean_treated, " +
        "round(pooled, 6) AS pooled_sd, " +
        "round((m1 - m0) / pooled, 6) AS cohens_d, " +
        "round((m1 - m0) / pooled * (1.0 - 3.0 / " +
        "(4.0 * CAST(n0 + n1 AS DOUBLE) - 9.0)), 6) AS hedges_g FROM w2"),

    // Laspeyres/Paasche price indexes (Stats.priceIndex): 1995→1996
    // part-price movement, base- vs current-basket weighted.
    Q("q_price_index", (s, d) =>
      graft.ops.Stats.priceIndex(Tables.lineitem(s, d), "l_partkey",
        when(year(col("l_shipdate")) === 1995, 0)
          .when(year(col("l_shipdate")) === 1996, 1),
        col("l_quantity"), col("l_extendedprice")),
      "WITH base AS (SELECT l_partkey AS i, " +
        "CASE WHEN year(l_shipdate) = 1995 THEN 0 " +
        "WHEN year(l_shipdate) = 1996 THEN 1 END AS p, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS qd, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) / " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS price " +
        "FROM lineitem WHERE year(l_shipdate) IN (1995, 1996) GROUP BY 1, 2), " +
        "p0 AS (SELECT i, qd AS q0, price AS pr0 FROM base WHERE p = 0), " +
        "p1 AS (SELECT i, qd AS q1, price AS pr1 FROM base WHERE p = 1) " +
        "SELECT count(*) AS n_items, " +
        "round(CAST(SUM(CAST(pr1 * q0 AS DECIMAL(28,10))) AS DOUBLE) / " +
        "CAST(SUM(CAST(pr0 * q0 AS DECIMAL(28,10))) AS DOUBLE), 6) AS laspeyres, " +
        "round(CAST(SUM(CAST(pr1 * q1 AS DECIMAL(28,10))) AS DOUBLE) / " +
        "CAST(SUM(CAST(pr0 * q1 AS DECIMAL(28,10))) AS DOUBLE), 6) AS paasche " +
        "FROM p0 JOIN p1 USING (i)"),
  )

  /** Mirror of Stats.methodAgreement: paired-series DECIMAL moments,
    * Lin's CCC and Bland-Altman limits with the pinned z literal. */
  private def methodAgreementOracle: String = {
    val n = "CAST(n AS DOUBLE)"
    val mx = s"(CAST(sx AS DOUBLE) / $n)"
    val my = s"(CAST(sy AS DOUBLE) / $n)"
    val vx = s"(CAST(sxx AS DOUBLE) / $n - $mx * $mx)"
    val vy = s"(CAST(syy AS DOUBLE) / $n - $my * $my)"
    val cxy = s"(CAST(sxy AS DOUBLE) / $n - $mx * $my)"
    val den = s"($vx + $vy + ($mx - $my) * ($mx - $my))"
    val bias = s"($mx - $my)"
    val sd = s"sqrt(($vx + $vy - 2.0 * $cxy) * $n / ($n - 1.0))"
    "WITH a AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x " +
      "FROM orders GROUP BY 1), " +
      "b AS (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS y " +
      "FROM lineitem GROUP BY 1), " +
      "p AS (SELECT CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y " +
      "FROM a JOIN b USING (d)), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "sum(CAST(x AS DECIMAL(38,10))) AS sx, sum(CAST(y AS DECIMAL(38,10))) AS sy, " +
      "sum(CAST(x * x AS DECIMAL(38,10))) AS sxx, " +
      "sum(CAST(y * y AS DECIMAL(38,10))) AS syy, " +
      "sum(CAST(x * y AS DECIMAL(38,10))) AS sxy FROM p) " +
      "SELECT n, " +
      s"CASE WHEN $den = 0.0 THEN NULL ELSE round(2.0 * $cxy / $den, 6) + 0.0 END AS ccc, " +
      s"round($bias, 6) + 0.0 AS bias, " +
      s"round($bias - 1.9599639845400545 * $sd, 6) + 0.0 AS loa_lo, " +
      s"round($bias + 1.9599639845400545 * $sd, 6) + 0.0 AS loa_hi FROM m"
  }

  /** Mirror of Stats.ratioMetricCI: per-unit DECIMAL totals, sample
    * variance/covariance moments, delta-method se with the pinned z. */
  private def ratioCiOracle: String = {
    val n = "CAST(n_units AS DOUBLE)"
    val my = s"(CAST(sy AS DOUBLE) / $n)"
    val mx = s"(CAST(sx AS DOUBLE) / $n)"
    val vy = s"((CAST(syy AS DOUBLE) - $n * $my * $my) / ($n - 1.0))"
    val vx = s"((CAST(sxx AS DOUBLE) - $n * $mx * $mx) / ($n - 1.0))"
    val cxy = s"((CAST(sxy AS DOUBLE) - $n * $mx * $my) / ($n - 1.0))"
    val r = s"($my / $mx)"
    val se = s"sqrt(($vy - 2.0 * $r * $cxy + $r * $r * $vx) / ($n * ($mx * $mx)))"
    "WITH p AS (SELECT user_id, " +
      "CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(38,10))) AS DOUBLE) AS y, " +
      "CAST(sum(CAST(CAST(1 AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE) AS x " +
      "FROM events GROUP BY 1), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n_units, " +
      "sum(CAST(y AS DECIMAL(38,10))) AS sy, sum(CAST(x AS DECIMAL(38,10))) AS sx, " +
      "sum(CAST(y * y AS DECIMAL(38,10))) AS syy, " +
      "sum(CAST(x * x AS DECIMAL(38,10))) AS sxx, " +
      "sum(CAST(x * y AS DECIMAL(38,10))) AS sxy FROM p) " +
      s"SELECT n_units, round($r, 6) AS ratio, round($se, 6) AS se, " +
      s"round($r - 1.9599639845400545 * $se, 6) AS ci_lo, " +
      s"round($r + 1.9599639845400545 * $se, 6) AS ci_hi FROM m"
  }

  /** Mirror of Stats.ebShrinkage: beta prior by moments over the
    * qualifying keys, shrunken rates with identical arithmetic. */
  private def ebShrinkageOracle: String = {
    val k = "CAST(k AS DOUBLE)"
    val mu = s"(CAST(sp AS DOUBLE) / $k)"
    val v = s"((CAST(spp AS DOUBLE) - $k * $mu * $mu) / ($k - 1.0))"
    val mm = s"($mu * (1.0 - $mu) / $v - 1.0)"
    val alpha = s"($mu * $mm)"
    val beta = s"((1.0 - $mu) * $mm)"
    "WITH per AS (SELECT user_id AS key, count(*) AS n, " +
      "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s " +
      "FROM events GROUP BY 1), " +
      "pp AS (SELECT key, n, s, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM per), " +
      "pr AS (SELECT count(*) AS k, sum(CAST(p AS DECIMAL(28,10))) AS sp, " +
      "sum(CAST(p * p AS DECIMAL(28,10))) AS spp FROM pp WHERE n >= 5) " +
      "SELECT key, CAST(n AS BIGINT) AS n, round(p, 6) AS raw_rate, " +
      s"round((CAST(s AS DOUBLE) + $alpha) / (CAST(n AS DOUBLE) + $alpha + $beta), 6) AS shrunk_rate, " +
      s"round($alpha, 6) AS prior_alpha, round($beta, 6) AS prior_beta " +
      "FROM pp CROSS JOIN pr ORDER BY shrunk_rate DESC, key LIMIT 30"
  }

  /** Mirror of Stats.hurstExponent: full-block rescaled ranges per
    * (size, block), 9-dp block values, DECIMAL log-log OLS slope. */
  private def hurstOracle: String = {
    val mean = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val sd = s"sqrt(CAST(qx AS DOUBLE) / CAST(n AS DOUBLE) - $mean * $mean)"
    s"WITH s AS ${dailyCounts("x")}, " +
      "r AS (SELECT x, row_number() OVER (ORDER BY d) AS i FROM s), " +
      "e AS (SELECT i, x, sz, CAST(floor((i - 1) / sz) AS BIGINT) AS blk " +
      "FROM r, unnest([8, 16, 32, 64]) AS u(sz)), " +
      "bs AS (SELECT sz, blk, count(*) AS n, " +
      "sum(CAST(x AS DECIMAL(28,8))) AS sx, " +
      "sum(CAST(x * x AS DECIMAL(28,8))) AS qx FROM e GROUP BY 1, 2), " +
      "f AS (SELECT e.sz, e.blk, e.i, e.x, bs.n, bs.sx, bs.qx FROM e " +
      "JOIN bs ON e.sz = bs.sz AND e.blk = bs.blk WHERE bs.n = e.sz), " +
      s"c AS (SELECT sz, blk, n, sx, qx, CAST(sum(CAST(x - $mean " +
      "AS DECIMAL(28,8))) OVER (PARTITION BY sz, blk ORDER BY i " +
      "ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum FROM f), " +
      "g AS (SELECT sz, blk, max(cum) AS mx, min(cum) AS mn, " +
      s"max($sd) AS sd FROM c GROUP BY 1, 2), " +
      "rs AS (SELECT sz, round((mx - mn) / sd, 9) AS rsv FROM g WHERE sd > 0.0), " +
      "ps AS (SELECT round(ln(CAST(sz AS DOUBLE)), 9) AS lx, " +
      "round(ln(CAST(sum(CAST(rsv AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 9) AS ly " +
      "FROM rs GROUP BY sz " +
      "HAVING CAST(sum(CAST(rsv AS DECIMAL(28,9))) AS DOUBLE) / CAST(count(*) AS DOUBLE) > 0.0), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS ns, " +
      "sum(CAST(lx AS DECIMAL(28,10))) AS sx, sum(CAST(ly AS DECIMAL(28,10))) AS sy, " +
      "sum(CAST(lx * lx AS DECIMAL(28,10))) AS sxx, " +
      "sum(CAST(ly * ly AS DECIMAL(28,10))) AS syy, " +
      "sum(CAST(lx * ly AS DECIMAL(28,10))) AS sxy FROM ps) " +
      "SELECT ns AS n_sizes, " +
      "round((CAST(ns AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(CAST(ns AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS hurst, " +
      "round((CAST(ns AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * " +
      "(CAST(ns AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "((CAST(ns AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "(CAST(ns AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0 AS r2 " +
      "FROM m"
  }

  /** Mirror of q_stl_strength: the q_stl_decompose chain, then
    * population variances of (T+R), (S+R), R from DECIMAL moments with
    * the engine's fixed arithmetic. */
  private def stlStrengthOracle: String = {
    def v(q: String, s: String) =
      s"(CAST($q AS DOUBLE) / CAST(n_days AS DOUBLE) - " +
        s"(CAST($s AS DOUBLE) / CAST(n_days AS DOUBLE)) * " +
        s"(CAST($s AS DOUBLE) / CAST(n_days AS DOUBLE)))"
    s"WITH s AS MATERIALIZED ${dailyCounts("y")}, " +
      "t AS MATERIALIZED (SELECT d, y, count(*) OVER w AS n, " +
      "round(CAST(SUM(CAST(y AS DECIMAL(28,8))) OVER w AS DOUBLE) / " +
      "CAST(count(*) OVER w AS DOUBLE), 6) AS trend FROM s " +
      "WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
      "f AS MATERIALIZED (SELECT d, y, trend, y - trend AS detr, " +
      "CAST(isodow(d) AS BIGINT) AS dow FROM t WHERE n = 7), " +
      "dm AS (SELECT dow, CAST(SUM(CAST(detr AS DECIMAL(28,8))) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE) AS sm FROM f GROUP BY 1), " +
      "cc AS (SELECT CAST(SUM(CAST(sm AS DECIMAL(28,8))) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE) AS c FROM dm), " +
      "se AS (SELECT dow, round(sm - c, 6) AS seasonal FROM dm CROSS JOIN cc), " +
      "r AS (SELECT f.y, f.trend, se.seasonal, " +
      "round(f.y - f.trend - se.seasonal, 6) AS rem FROM f JOIN se USING (dow)), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n_days, " +
      "sum(CAST(y - seasonal AS DECIMAL(28,8))) AS st, " +
      "sum(CAST((y - seasonal) * (y - seasonal) AS DECIMAL(28,8))) AS qt, " +
      "sum(CAST(y - trend AS DECIMAL(28,8))) AS ss, " +
      "sum(CAST((y - trend) * (y - trend) AS DECIMAL(28,8))) AS qs, " +
      "sum(CAST(rem AS DECIMAL(28,8))) AS sr, " +
      "sum(CAST(rem * rem AS DECIMAL(28,8))) AS qr FROM r) " +
      "SELECT n_days, " +
      s"CASE WHEN ${v("qt", "st")} = 0.0 THEN NULL ELSE " +
      s"round(greatest(0.0, 1.0 - ${v("qr", "sr")} / ${v("qt", "st")}), 6) + 0.0 END AS trend_strength, " +
      s"CASE WHEN ${v("qs", "ss")} = 0.0 THEN NULL ELSE " +
      s"round(greatest(0.0, 1.0 - ${v("qr", "sr")} / ${v("qs", "ss")}), 6) + 0.0 END AS seasonal_strength " +
      "FROM m"
  }

  /** Mirror of Stats.bestSplit: DECIMAL prefix sums over the daily
    * series, per-candidate between-variance gain, rounded-gain argmax. */
  private def bestSplitOracle: String = {
    val n1 = "CAST(i AS DOUBLE)"
    val n = "CAST(t.n AS DOUBLE)"
    val n2 = s"($n - $n1)"
    val m1 = s"(CAST(cs AS DOUBLE) / $n1)"
    val m2 = s"(CAST(ct - cs AS DOUBLE) / $n2)"
    val m = s"(CAST(ct AS DOUBLE) / $n)"
    s"WITH s AS ${dailyCounts("x")}, " +
      "p AS (SELECT d, row_number() OVER (ORDER BY d) AS i, " +
      "sum(CAST(x AS DECIMAL(28,8))) OVER (ORDER BY d " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs FROM s), " +
      "t AS (SELECT max(i) AS n, max(cs) AS ct FROM p) " +
      "SELECT d AS split_day, CAST(i AS BIGINT) AS n_before, " +
      "CAST(t.n - i AS BIGINT) AS n_after, " +
      s"round($m1, 6) AS mean_before, round($m2, 6) AS mean_after, " +
      s"round($n1 * $m1 * $m1 + $n2 * $m2 * $m2 - $n * $m * $m, 6) + 0.0 AS gain " +
      "FROM p CROSS JOIN t WHERE i < t.n " +
      "ORDER BY gain DESC, split_day LIMIT 1"
  }

  /** Mirror of Stats.mdeReport: conditional DECIMAL moments, pooled sd,
    * z literals folded the same way on both engines. */
  private def mdeOracle: String = {
    val na = "CAST(n_a AS DOUBLE)"; val nb = "CAST(n_b AS DOUBLE)"
    val ma = s"(CAST(sa AS DOUBLE) / $na)"
    val mb = s"(CAST(sb AS DOUBLE) / $nb)"
    val sp = s"sqrt(((CAST(qa AS DOUBLE) - $na * $ma * $ma) + " +
      s"(CAST(qb AS DOUBLE) - $nb * $mb * $mb)) / ($na + $nb - 2.0))"
    val mde = s"(1.9599639845400545 + 0.8416212335729143) * $sp * " +
      s"sqrt(1.0 / $na + 1.0 / $nb)"
    "WITH b AS (SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g, " +
      "value AS x FROM events WHERE value IS NOT NULL), " +
      "m AS (SELECT CAST(sum(1 - g) AS BIGINT) AS n_a, " +
      "CAST(sum(g) AS BIGINT) AS n_b, " +
      "sum(CAST(CASE WHEN g = 0 THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS sa, " +
      "sum(CAST(CASE WHEN g = 1 THEN x ELSE 0.0 END AS DECIMAL(38,10))) AS sb, " +
      "sum(CAST(CASE WHEN g = 0 THEN x * x ELSE 0.0 END AS DECIMAL(38,10))) AS qa, " +
      "sum(CAST(CASE WHEN g = 1 THEN x * x ELSE 0.0 END AS DECIMAL(38,10))) AS qb " +
      "FROM b) " +
      s"SELECT n_a, n_b, round($sp, 6) AS pooled_sd, " +
      s"round($mde, 6) AS mde_abs, " +
      s"CASE WHEN $ma = 0.0 THEN NULL ELSE round($mde / $ma, 6) END AS mde_rel " +
      "FROM m"
  }

  /** Shared DuckDB CTE chain mirroring Stats.logisticBeta (3 Newton
    * steps over the documents feature table): yields `f` (doc_id, y,
    * x1, x2) and `bb3` (the fitted one-row 9-dp β). Each step is a
    * p-projection CTE over f × the previous one-row β, an integer-pair
    * moment CTE + rebuild, and a Cramer 3×3 update CTE — textually the
    * same fixed parenthesization as the Spark side. */
  private def logisticCtes: String = logisticCtesFor(
    // mirror the engine's null-feature drop (logisticFit2 filters rows
    // where y/x1/x2 is NULL): NULL lang nulls y, NULL text nulls x1,
    // NULL n_chars (or text) nulls x2 — without this the oracle would
    // keep NULL-lang docs as y=0 training rows. x1 = pin9(pln(1+tokens))
    // comes from the INJECTED literal grid (lnGridCte) — the
    // integer-domain covariate is never computed by an engine.
    lnGridCte + ", " +
      "f AS (SELECT doc_id, " +
      "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, " +
      s"${lnGridXSql("d.nk")} AS x1, " +
      s"${graft.functions.PortableMathSql.pin9Sql(
        "(CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE))")} AS x2 FROM " +
      "(SELECT doc_id, lang, text, n_chars, " +
      "1 + len(string_split(text, ' ')) AS nk FROM documents " +
      "WHERE lang IS NOT NULL AND text IS NOT NULL AND n_chars IS NOT NULL) d " +
      "LEFT JOIN lng g ON d.nk = g.gk)")

  /** The 3-step Newton chain over a caller-supplied `f` CTE (must expose
    * y, x1, x2; extra columns ride along untouched) — ends at bb3, the
    * fitted one-row 9-dp β. Shared by the quality-classifier mirrors
    * (documents features) and the PSM mirror (per-user features). */
  private def logisticCtesFor(fCte: String): String = {
    val pm = graft.functions.PortableMathSql
    def newtonStep(i: Int): String = {
      val prev = if (i == 1) "b0t" else s"bb${i - 1}"
      val det = "(h00 * (h11 * h22 - h12 * h12) - h01 * (h01 * h22 - h12 * h02) + " +
        "h02 * (h01 * h12 - h11 * h02))"
      // portable-kernel sigmoid, OUTPUT pinned via the portable
      // floor-ladder (as in Stats.logisticP); the
      // gradient/Hessian moments are exact DECIMAL(38,0) integer PAIR
      // sums rebuilt H + L/1e9 — no engine round(), no DECIMAL↔DOUBLE
      // cast of a non-integer value anywhere in the chain
      s"p$i AS (SELECT y, x1, x2, b0, b1, b2, " +
        s"${pm.pin9Sql("(1.0 / (1.0 + __ps))")} AS p FROM " +
        pm.expFrom(
          s"(SELECT f.y, f.x1, f.x2, b.b0, b.b1, b.b2 FROM f, $prev b)",
          "-(b0 + b1 * x1 + b2 * x2)", "__ps", s"ls$i") +
        s" ls${i}w), " +
        s"m$i AS (SELECT max(b0) AS pb0, max(b1) AS pb1, max(b2) AS pb2, " +
        pm.pairSumSql("(y - p)", "g0") + ", " +
        pm.pairSumSql("((y - p) * x1)", "g1") + ", " +
        pm.pairSumSql("((y - p) * x2)", "g2") + ", " +
        pm.pairSumSql("(p * (1.0 - p))", "h00") + ", " +
        pm.pairSumSql("(p * (1.0 - p) * x1)", "h01") + ", " +
        pm.pairSumSql("(p * (1.0 - p) * x2)", "h02") + ", " +
        pm.pairSumSql("(p * (1.0 - p) * x1 * x1)", "h11") + ", " +
        pm.pairSumSql("(p * (1.0 - p) * x1 * x2)", "h12") + ", " +
        pm.pairSumSql("(p * (1.0 - p) * x2 * x2)", "h22") +
        s" FROM p$i), " +
        s"r$i AS (SELECT pb0, pb1, pb2, " +
        Seq("g0", "g1", "g2", "h00", "h01", "h02", "h11", "h12", "h22")
          .map(n => s"${pm.pairValSql(n)} AS $n").mkString(", ") +
        s" FROM m$i), " +
        s"u$i AS (SELECT " +
        "pb0 + (g0 * (h11 * h22 - h12 * h12) - h01 * (g1 * h22 - h12 * g2) + " +
        s"h02 * (g1 * h12 - h11 * g2)) / $det AS u0, " +
        "pb1 + (h00 * (g1 * h22 - h12 * g2) - g0 * (h01 * h22 - h12 * h02) + " +
        s"h02 * (h01 * g2 - g1 * h02)) / $det AS u1, " +
        "pb2 + (h00 * (h11 * g2 - g1 * h12) - h01 * (h01 * g2 - g1 * h02) + " +
        s"g0 * (h01 * h12 - h11 * h02)) / $det AS u2 " +
        s"FROM r$i), " +
        s"bb$i AS (SELECT ${pm.pin9Sql("u0")} AS b0, " +
        s"${pm.pin9Sql("u1")} AS b1, ${pm.pin9Sql("u2")} AS b2 FROM u$i)"
    }
    "WITH " + fCte + ", " +
      "b0t AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2), " +
      newtonStep(1) + ", " + newtonStep(2) + ", " + newtonStep(3)
  }

  /** Mirror of Stats.psmAtt over per-user event features: the shared
    * Newton chain on (treat, x1, x2), 6-dp propensities off bb3, the
    * brute-force caliper pair set (the engine's bucketed join must equal
    * it), (|Δp|, control-id) 1-NN, DECIMAL ATT / naive sums. */
  private def psmAttOracle: String = {
    val pm = graft.functions.PortableMathSql
    val fInner = pm.lnFrom(pm.lnFrom(
      "(SELECT user_id, tv, ne, conv FROM (SELECT user_id, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS tv, " +
        "count(*) AS ne, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS conv " +
        "FROM events GROUP BY 1) pvi WHERE tv IS NOT NULL)",
      "1.0 + tv", "__plv", "pv"),
      "1.0 + CAST(ne AS DOUBLE)", "__plw", "pw")
    val scInner = pm.expFrom(
      "(SELECT f.uid, f.y, f.conv, f.x1, f.x2, b.b0, b.b1, b.b2 FROM f, bb3 b)",
      "-(b0 + b1 * x1 + b2 * x2)", "__ps", "pss")
    logisticCtesFor(
      "f AS (SELECT user_id AS uid, " +
        "CASE WHEN user_id % 10 < 3 THEN 1.0 ELSE 0.0 END AS y, conv, " +
        s"${pm.pin9Sql("__plv")} AS x1, " +
        s"${pm.pin9Sql("__plw")} AS x2 FROM $fInner pww)") +
      // portable pin9 sigmoid then pin6 propensity (as in Stats.psmAtt)
      ", sc0 AS (SELECT uid, y, conv, " +
      s"${pm.pin9Sql("(1.0 / (1.0 + __ps))")} AS p9 " +
      s"FROM $scInner pssw), " +
      "sc AS (SELECT uid, y AS t, conv AS yy, " +
      s"${pm.pin6Sql("p9")} AS p FROM sc0), " +
      "pr AS (SELECT a.uid AS tid, a.yy AS yt, c.uid AS cid, c.yy AS yc, " +
      "abs(a.p - c.p) AS dd FROM sc a JOIN sc c " +
      "ON a.t = 1.0 AND c.t = 0.0 AND abs(a.p - c.p) <= 0.05), " +
      "bm AS (SELECT tid, yt, yc FROM (SELECT pr.*, row_number() OVER " +
      "(PARTITION BY tid ORDER BY dd, cid) AS rn FROM pr) WHERE rn = 1), " +
      "cnt AS (SELECT " +
      "CAST(sum(CASE WHEN t = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_treated, " +
      "CAST(sum(CASE WHEN t = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control, " +
      "CAST(sum(CASE WHEN t = 1.0 THEN CAST(yy AS DECIMAL(28,8)) END) AS DOUBLE) AS st, " +
      "CAST(sum(CASE WHEN t = 0.0 THEN CAST(yy AS DECIMAL(28,8)) END) AS DOUBLE) AS s_c " +
      "FROM sc), " +
      "at2 AS (SELECT count(*) AS n_matched, " +
      "CAST(sum(CAST(yt - yc AS DECIMAL(28,8))) AS DOUBLE) AS sd FROM bm) " +
      "SELECT n_treated, n_control, n_matched, " +
      "round(sd / n_matched, 6) + 0.0 AS att, " +
      "round(st / n_treated - s_c / n_control, 6) + 0.0 AS naive_diff " +
      "FROM cnt, at2"
  }

  private def logisticQualityOracle: String = {
    val pm = graft.functions.PortableMathSql
    val finInner = pm.expFrom(
      "(SELECT f.y, f.x1, f.x2, b.b0, b.b1, b.b2 FROM f, bb3 b)",
      "-(b0 + b1 * x1 + b2 * x2)", "__ps", "lq")
    val clInner = pm.lnFrom(pm.lnFrom("cl", "q", "__plq", "la"),
      "1.0 - q", "__plr", "lb")
    logisticCtes + ", " +
      "fin AS (SELECT y, b0, b1, b2, " +
      s"${pm.pin9Sql("(1.0 / (1.0 + __ps))")} AS p FROM $finInner lqw), " +
      "cl AS (SELECT y, b0, b1, b2, p, least(greatest(p, 1e-6), 1.0 - 1e-6) AS q " +
      "FROM fin), " +
      // loss term: portable 9-dp pin of the per-row ln mix, then exact
      // integer pair sums (as in Stats.logisticFit2); the
      // 6-dp readouts are the portable floor-ladder (never −0.0, so no
      // `+ 0.0` normalization needed)
      "cl2 AS (SELECT y, b0, b1, b2, p, " +
      s"${pm.pin9Sql("(-(y * __plq + (1.0 - y) * __plr))")} AS lt " +
      s"FROM $clInner lbw), " +
      "fagg AS (SELECT count(*) AS n, max(b0) AS fb0, max(b1) AS fb1, " +
      s"max(b2) AS fb2, ${pm.pairSumSql("lt", "ls")}, " +
      "sum(CASE WHEN (p >= 0.5) = (y >= 0.5) THEN 1 ELSE 0 END) AS ok " +
      "FROM cl2) " +
      "SELECT CAST(n AS BIGINT) AS n, " +
      s"${pm.pin6Sql("fb0")} AS b0, ${pm.pin6Sql("fb1")} AS b1, " +
      s"${pm.pin6Sql("fb2")} AS b2, " +
      s"${pm.pin6Sql(s"(${pm.pairValSql("ls")} / CAST(n AS DOUBLE))")} AS log_loss, " +
      s"${pm.pin6Sql("(CAST(ok AS DOUBLE) / CAST(n AS DOUBLE))")} AS accuracy " +
      "FROM fagg"
  }

  /** Daily order counts as a parenthesized CTE body: one row per order
    * date `d`, the count as a DOUBLE column named `v`. */
  private def dailyCounts(v: String): String =
    s"(SELECT CAST(o_orderdate AS DATE) AS d, CAST(count(*) AS DOUBLE) AS $v FROM orders GROUP BY 1)"

  /** Exact bit-decomposition for the q_portable_* parity probes:
    * [[graft.functions.PortableMath.bitChunks]], the DataFrame twin of
    * PortableMathSql.chunkFrom. */
  private def bitChunks(df: DataFrame, v: String, p: String): DataFrame =
    graft.functions.PortableMath.bitChunks(df, v, p)

  /** The cox covariate pin9(pln(k)) over the small integer domain k = per-user
    * event count is computed ONCE here on the JVM kernel and injected
    * into BOTH engines as the SAME IEEE doubles (the ewmaWeights
    * literal-injection stance) — Spark reads `element_at` of this array
    * literal, the oracle inlines shortest-round-trip literals in a
    * VALUES grid ([[coxGridCte]]). The covariate is never COMPUTED on
    * an engine, so a ±1e-9-quantum covariate perturbation on one
    * engine's libm build is impossible by construction. */
  private lazy val CoxGridMax = 256

  private lazy val coxGridXs: Array[Double] = {
    val K = graft.functions.PortableMathKernel
    Array.tabulate(CoxGridMax)(i => K.pin9(K.pln((i + 1).toDouble)))
  }

  /** Grid lookup with a LOUD overflow guard (na beyond the grid must
    * fail, never silently drop or fall back to an engine kernel). */
  private def coxGridX(na: Column): Column =
    when(na <= lit(CoxGridMax.toLong),
      element_at(lit(coxGridXs), na.cast("int")))
      .otherwise(raise_error(concat(
        lit(s"cox covariate grid overflow (max $CoxGridMax): na="),
        na.cast("string"))))

  /** DuckDB twin: `cxg(k, x)` VALUES grid of the same doubles. */
  private def coxGridCte: String = {
    val rows = coxGridXs.zipWithIndex.map { case (x, i) =>
      s"(${i + 1}, ${graft.functions.PortableMathSql.lit(x)})"
    }.mkString(", ")
    s"cxg(k, x) AS (VALUES $rows)"
  }

  /** DuckDB-side guarded covariate: LEFT JOIN miss (na > grid) errors
    * loudly via a data-dependent string→DOUBLE cast (CASE branches are
    * lazily evaluated, so in-grid rows never touch it). */
  private def coxGridXSql: String =
    "(CASE WHEN g.k IS NULL THEN " +
      "CAST('cox covariate grid overflow' AS DOUBLE) ELSE g.x END)"

  /** The cox grid's sibling for the OTHER integer-domain fit
    * covariates: q_gmm_doclen's
    * pin9(pln(1+n_chars)) and the quality classifier's
    * pin9(pln(1+n_tokens)) — same hazard class, which a kernel computed
    * on each engine would pass by libm-build luck only. k = 1+n_chars tops out ~578 and 1+n_tokens ~101
    * at sf0.1; 2048 gives ~3.5× headroom with the same loud overflow
    * guard. q_psm_att's x1 = pin9(pln(1+Σvalue)) is NOT enumerable
    * (non-integer sum) and stays kernel-computed on both engines — the
    * one remaining computed-twice covariate, documented in BASELINE. */
  private lazy val LnGridMax = 2048

  private lazy val lnGridXs: Array[Double] = {
    val K = graft.functions.PortableMathKernel
    Array.tabulate(LnGridMax)(i => K.pin9(K.pln((i + 1).toDouble)))
  }

  /** Null-safe grid lookup (a null k must stay null for the fits' own
    * null-feature drop, never hit the overflow guard). */
  private def lnGridX(k: Column, what: String): Column =
    when(k.isNull, lit(null).cast("double"))
      .when(k <= lit(LnGridMax.toLong),
        element_at(lit(lnGridXs), k.cast("int")))
      .otherwise(raise_error(concat(
        lit(s"$what: pln covariate grid overflow (max $LnGridMax): k="),
        k.cast("string"))))

  /** DuckDB twin: `lng(gk, gx)` VALUES grid of the same doubles
    * (column names collision-proof against the fits' own k/x). */
  private def lnGridCte: String = {
    val rows = lnGridXs.zipWithIndex.map { case (x, i) =>
      s"(${i + 1}, ${graft.functions.PortableMathSql.lit(x)})"
    }.mkString(", ")
    s"lng(gk, gx) AS (VALUES $rows)"
  }

  /** DuckDB-side guarded covariate off a LEFT JOIN to lng g: null k
    * passes through (null gk AND null k), miss errors loudly. */
  private def lnGridXSql(k: String): String =
    s"(CASE WHEN $k IS NULL THEN NULL WHEN g.gk IS NULL THEN " +
      "CAST('pln covariate grid overflow' AS DOUBLE) ELSE g.gx END)"

  /** Shared q_cox_* subjects: q_survival_km's construction plus the
    * ln(events) covariate — a [[coxGridXs]] literal
    * lookup (injected grid), NOT an engine-evaluated kernel chain; no
    * engine round() and no engine transcendental anywhere in the cox
    * value path (see Stats.coxPh's determinism note). */
  private def coxSubjects(s: org.apache.spark.sql.SparkSession,
                          d: String): DataFrame =
    Tables.events(s, d).groupBy("user_id").agg(
      min(col("ts")).alias("__first"),
      min(when(col("event_type") === "purchase", col("ts"))).alias("__conv"),
      max(col("ts")).alias("__last"),
      count(lit(1)).alias("__na"))
      .select(
        datediff(to_date(coalesce(col("__conv"), col("__last"))),
          to_date(col("__first"))).cast("long").alias("dur"),
        col("__conv").isNotNull.alias("observed"),
        coxGridX(col("__na")).alias("activity"))

  /** Shared CTE chain for q_cox_ph and the q_cox_diag_* probes: the
    * subjects (covariate from the INJECTED literal grid
    * [[coxGridCte]], not an engine-evaluated kernel), b0, and `upTo`
    * Newton iterations. The exact mirror of Stats.coxPh's
    * determinism: NO engine round() (portable floor-ladder pins
    * only) and NO DECIMAL↔DOUBLE cast of a non-integer value — every
    * order-sensitive sum is a PAIR of exact DECIMAL(38,0) integer sums
    * (PortableMathSql.pairSumSql) rebuilt H + L/1e9 in pure IEEE
    * (pairValSql). DECIMAL(38,12) suffix sums would cross 2^53
    * unscaled at S ≈ 9007, where DuckDB double-rounds the
    * decimal→double cast against Spark's single conversion, build-
    * dependently. */
  private def coxCtes(upTo: Int): String = {
    val pm = graft.functions.PortableMathSql
    // per-step risk-set moment pairs with ex = pin9(pexp(b*x)) and the
    // x·ex / x²·ex / event-x products NAMED before decomposition
    def g(name: String, prev: String, tag: String): String = {
      val inner = pm.expFrom(s"(SELECT * FROM subj CROSS JOIN $prev)",
        "b * x", "__pex", tag)
      s"$name AS (SELECT t, " +
        pm.pairSumSql("ex", "a0") + ", " +
        pm.pairSumSql("xe", "a1") + ", " +
        pm.pairSumSql("xxe", "a2") + ", " +
        "SUM(e) AS ne, " + pm.pairSumSql("sxv", "sx") + " FROM " +
        "(SELECT t, e, ex, x * ex AS xe, x * x * ex AS xxe, " +
        "CASE WHEN e = 1 THEN x ELSE 0e0 END AS sxv FROM " +
        s"(SELECT t, e, x, ${pm.pin9Sql("__pex")} AS ex FROM $inner " +
        s"${tag}w) ${tag}p) ${tag}q GROUP BY 1)"
    }
    def sWin(name: String, from: String): String =
      s"$name AS (SELECT t, ne, sxh, sxl, " +
        "SUM(a0h) OVER w AS s0h, SUM(a0l) OVER w AS s0l, " +
        "SUM(a1h) OVER w AS s1h, SUM(a1l) OVER w AS s1l, " +
        "SUM(a2h) OVER w AS s2h, SUM(a2l) OVER w AS s2l " +
        s"FROM $from WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW " +
        "AND UNBOUNDED FOLLOWING))"
    def iter(k: Int): String = {
      val prev = s"b${k - 1}"
      g(s"g$k", prev, s"pe$k") + ", " + sWin(s"s$k", s"g$k") + ", " +
        s"u$k AS (SELECT ${pm.pairSumSql("ut", "u")}, " +
        s"${pm.pairSumSql("it", "i")} FROM " +
        s"(SELECT ${coxUTermSql} AS ut, ${coxITermSql} AS it " +
        s"FROM s$k WHERE ne > 0) uq$k), " +
        s"b$k AS (SELECT ${pm.pin9Sql("bn")} AS b FROM " +
        s"(SELECT b + ${pm.pairValSql("u")} / ${pm.pairValSql("i")} AS bn " +
        s"FROM u$k CROSS JOIN $prev) bq$k)"
    }
    "WITH s AS (SELECT user_id, min(ts) AS f, " +
      "min(CASE WHEN event_type = 'purchase' THEN ts END) AS c, " +
      "max(ts) AS l, count(*) AS na FROM events GROUP BY 1), " +
      // covariate from the injected literal grid (coxGridCte)
      // — identical IEEE doubles to the Spark side by construction
      s"$coxGridCte, " +
      "subj AS (SELECT CAST(date_diff('day', CAST(f AS DATE), " +
      "CAST(coalesce(c, l) AS DATE)) AS BIGINT) AS t, " +
      "CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END AS e, " +
      s"$coxGridXSql AS x FROM s LEFT JOIN cxg g ON s.na = g.k), " +
      "b0 AS (SELECT 0e0 AS b)" +
      (if (upTo >= 1) (1 to upTo).map(iter).mkString(", ", ", ", "")
       else "")
  }

  /** Mirrors of Stats.coxUTerm / coxITerm over an s$k window CTE —
    * parenthesization pinned to the Spark trees. */
  private def coxUTermSql: String = {
    val pm = graft.functions.PortableMathSql
    s"${pm.pairValSql("sx")} - CAST(ne AS DOUBLE) * " +
      s"(${pm.pairValSql("s1")} / ${pm.pairValSql("s0")})"
  }

  private def coxITermSql: String = {
    val pm = graft.functions.PortableMathSql
    val r1 = s"${pm.pairValSql("s1")} / ${pm.pairValSql("s0")}"
    s"CAST(ne AS DOUBLE) * (${pm.pairValSql("s2")} / " +
      s"${pm.pairValSql("s0")} - ($r1) * ($r1))"
  }

  /** DuckDB mirror of Stats.coxPh over the q_survival_km subjects plus
    * the ln(events) covariate: coxCtes(3) then the final risk pass and
    * the pin6 readouts — the whole value path engine-function-free
    * (portable exp/ln kernel, portable floor-ladder pins, exact
    * integer pair sums; see coxCtes). `cols` selects the registry
    * row's readout (q_cox_ph carries the practitioner columns,
    * q_cox_loglik the loglik scalar), and n_events is CAST AS BIGINT —
    * an uncast SUM-of-integers is DuckDB HUGEINT on the wire (see
    * Stats.coxPh's note). */
  private def coxReadoutOracle(cols: Seq[String]): String = {
    val pm = graft.functions.PortableMathSql
    // carry-normalized rebuild, mirroring Stats.coxPh's pairValNorm —
    // the pln argument is in the k + q/1e9, q < 1e9 shape the parity
    // probes cover.
    val s0v = pm.pairValNormSql("s0")
    val lnS0 = pm.lnFrom("sf", s0v, "__plns", "pf")
    val hazInner = pm.expFrom("(SELECT * FROM nn CROSS JOIN lf CROSS JOIN b3)",
      "b", "__peb", "pz")
    val items = Map(
      "n" -> "n",
      "n_events" -> "n_events",
      "beta" -> s"${pm.pin6Sql("b")} AS beta",
      "se" -> s"${pm.pin6Sql(s"(1.0e0 / sqrt(${pm.pairValSql("i")}))")} AS se",
      "z" -> s"${pm.pin6Sql(s"(b * sqrt(${pm.pairValSql("i")}))")} AS z",
      "hazard_ratio" -> s"${pm.pin6Sql("__peb")} AS hazard_ratio",
      "partial_loglik" ->
        (s"${pm.pin6Sql(s"(b * ${pm.pairValSql("sxt")} - ${pm.pairValSql("lns")})")} " +
          "AS partial_loglik"))
    coxCtes(3) + ", " +
      // final-β risk pass (gf/sf name the g/sWin shapes from coxCtes —
      // rebuilt inline to keep the builder's iter() single-purpose)
      coxFinalRiskCtes + ", " +
      s"lf AS (SELECT ${pm.pairSumSql("it", "i")}, " +
      "CAST(SUM(ne) AS BIGINT) AS n_events, " +
      "SUM(sxh) AS sxth, SUM(sxl) AS sxtl, " +
      s"${pm.pairSumSql("lnt", "lns")} FROM " +
      s"(SELECT ne, sxh, sxl, it, CAST(ne AS DOUBLE) * " +
      s"${pm.pin9Sql("__plns")} AS lnt FROM " +
      s"(SELECT *, ${coxITermSql} AS it FROM $lnS0 pfw) pfq " +
      "WHERE ne > 0) lfq), " +
      "nn AS (SELECT count(*) AS n FROM subj) " +
      s"SELECT ${cols.map(items).mkString(", ")} FROM $hazInner pzw"
  }

  private def coxOracle: String =
    coxReadoutOracle(Seq("n", "n_events", "beta", "se", "z",
      "hazard_ratio"))

  private def coxLoglikOracle: String =
    coxReadoutOracle(Seq("n_events", "partial_loglik"))

  /** gf/sf: the final-β (b3) risk pass reused by coxOracle. */
  private def coxFinalRiskCtes: String = {
    val pm = graft.functions.PortableMathSql
    val inner = pm.expFrom("(SELECT * FROM subj CROSS JOIN b3)",
      "b * x", "__pex", "pg")
    s"gf AS (SELECT t, ${pm.pairSumSql("ex", "a0")}, " +
      pm.pairSumSql("xe", "a1") + ", " +
      pm.pairSumSql("xxe", "a2") + ", " +
      "SUM(e) AS ne, " + pm.pairSumSql("sxv", "sx") + " FROM " +
      "(SELECT t, e, ex, x * ex AS xe, x * x * ex AS xxe, " +
      "CASE WHEN e = 1 THEN x ELSE 0e0 END AS sxv FROM " +
      s"(SELECT t, e, x, ${pm.pin9Sql("__pex")} AS ex FROM $inner " +
      "pgw) pgp) pgq GROUP BY 1), " +
      "sf AS (SELECT t, ne, sxh, sxl, " +
      "SUM(a0h) OVER w AS s0h, SUM(a0l) OVER w AS s0l, " +
      "SUM(a1h) OVER w AS s1h, SUM(a1l) OVER w AS s1l, " +
      "SUM(a2h) OVER w AS s2h, SUM(a2l) OVER w AS s2l " +
      "FROM gf WINDOW w AS (ORDER BY t ROWS BETWEEN CURRENT ROW " +
      "AND UNBOUNDED FOLLOWING))"
  }

  /** q_cox_diag_kln oracle: the portable-ln chain at the exact
    * final-pass arguments pln(S0) (suffix risk sum rebuilt from its
    * integer pair), one row per duration, bit-chunked exactly. The S0
    * argument's exact (s0h, s0l) integer pair
    * rides along as BIGINTs so a red row distinguishes upstream
    * risk-sum divergence from a same-argument pln kernel divergence. */
  private def coxDiagKLnOracle: String = {
    val pm = graft.functions.PortableMathSql
    // carry-normalized, as in coxOracle/Stats.coxDiagKernelLn
    val s0v = pm.pairValNormSql("s0")
    val inner = pm.lnFrom("(SELECT t, ne, s0h, s0l FROM sf WHERE ne > 0)",
      s0v, "__pln", "dl")
    val chunked = pm.chunkFrom(inner, "__pln", "k_")
    // ne CAST AS BIGINT — an uncast SUM-of-integers is HUGEINT on the
    // wire (see Stats.coxPh's note)
    coxCtes(3) + ", " + coxFinalRiskCtes + " " +
      "SELECT t, CAST(ne AS BIGINT) AS ne, " +
      "CAST(s0h AS BIGINT) AS s0h, CAST(s0l AS BIGINT) AS s0l, " +
      "CAST(k_hi AS BIGINT) AS l_hi, CAST(k_c1 AS BIGINT) AS l_c1, " +
      "CAST(k_c2 AS BIGINT) AS l_c2, CAST(k_c3 AS BIGINT) AS l_c3 " +
      s"FROM $chunked ORDER BY t"
  }

  /** q_cox_diag_kargs oracle: kln's rows WITHOUT the pln chunks —
    * exactly the (t, ne, s0h, s0l) integer transport (see
    * Stats.coxDiagKArgs for the split logic), ne BIGINT-cast. */
  private def coxDiagKArgsOracle: String =
    coxCtes(3) + ", " + coxFinalRiskCtes + " " +
      "SELECT t, CAST(ne AS BIGINT) AS ne, " +
      "CAST(s0h AS BIGINT) AS s0h, CAST(s0l AS BIGINT) AS s0l " +
      "FROM sf WHERE ne > 0 ORDER BY t"

  /** q_cox_diag_kargs_tn oracle — the duration/event column half:
    * per-row (t, ne) transport at duration grain. All-BIGINT outputs. */
  private def coxDiagKArgsTnOracle: String =
    coxCtes(3) + ", " + coxFinalRiskCtes + " " +
      "SELECT t, CAST(ne AS BIGINT) AS ne " +
      "FROM sf WHERE ne > 0 ORDER BY t"

  /** q_cox_diag_kargs_s0 oracle — the risk-sum column half: per-row
    * exact integer suffix pair at the final
    * β. All-BIGINT outputs. */
  private def coxDiagKArgsS0Oracle: String =
    coxCtes(3) + ", " + coxFinalRiskCtes + " " +
      "SELECT t, CAST(s0h AS BIGINT) AS s0h, CAST(s0l AS BIGINT) AS s0l " +
      "FROM sf WHERE ne > 0 ORDER BY t"

  /** q_cox_diag_kargs_q1..q4 oracle — the rank-quartile row bisect:
    * quartile = ⌊(rank−1)·4 / count⌋, every
    * step exact small-integer arithmetic mirrored in the Spark probe
    * (Stats.coxDiagKArgsQuart). */
  private def coxDiagKArgsQuartOracle(quart: Int): String =
    coxCtes(3) + ", " + coxFinalRiskCtes + ", " +
      "ka AS (SELECT t, CAST(ne AS BIGINT) AS ne, " +
      "CAST(s0h AS BIGINT) AS s0h, CAST(s0l AS BIGINT) AS s0l, " +
      "ROW_NUMBER() OVER (ORDER BY t) AS rn, " +
      "CAST(COUNT(*) OVER () AS BIGINT) AS cnt " +
      "FROM sf WHERE ne > 0) " +
      "SELECT t, ne, s0h, s0l FROM ka " +
      "WHERE CAST(floor(CAST((rn - 1) * 4 AS DOUBLE) / " +
      s"CAST(cnt AS DOUBLE)) AS BIGINT) = ${quart - 1} ORDER BY t"

  /** q_cox_diag_kargs_a0 oracle — the pre-window per-duration moment
    * pairs: straight from the live gf CTE, BEFORE the
    * suffix window builds S0 — splits the chain at the window
    * boundary (see Stats.coxDiagKArgsA0). All durations, no events
    * filter. */
  private def coxDiagKArgsA0Oracle: String =
    coxCtes(3) + ", " + coxFinalRiskCtes + " " +
      "SELECT t, CAST(ne AS BIGINT) AS ne, " +
      "CAST(a0h AS BIGINT) AS a0h, CAST(a0l AS BIGINT) AS a0l " +
      "FROM gf ORDER BY t"

  /** q_cox_diag_kterms oracle — per-term probe through the LIVE
    * final-risk expression context: the
    * pinned term ex = pin9(pexp(β₃·x)) evaluated per SUBJECT row in
    * exactly gf's innermost shape (expFrom over subj CROSS JOIN b3,
    * then the pin ladder), NOT on a pre-grouped distinct-x relation —
    * then bit-chunk sums per distinct covariate plus the exact
    * (Σ⌊ex⌋, Σlo) pair-decomposition sums the a0 moments feed.
    * Splits "kernel/pin diverges in live context" from "per-duration
    * pair aggregation diverges". */
  private def coxDiagKTermsOracle: String = {
    val pm = graft.functions.PortableMathSql
    val inner = pm.expFrom("(SELECT * FROM subj CROSS JOIN b3)",
      "b * x", "__pex", "kt")
    val live = s"(SELECT t, e, x, ${pm.pin9Sql("__pex")} AS ex " +
      s"FROM $inner ktw)"
    val chunked = pm.chunkFrom(live, "ex", "k_")
    def s(v: String, n: String) =
      s"CAST(SUM(CAST($v AS DECIMAL(38,0))) AS BIGINT) AS $n"
    coxCtes(3) +
      ", ktg AS (SELECT x, CAST(count(*) AS BIGINT) AS n, " +
      s("k_hi", "e_hi") + ", " + s("k_c1", "e_c1") + ", " +
      s("k_c2", "e_c2") + ", " + s("k_c3", "e_c3") + ", " +
      s(pm.hiSql("ex"), "p_hi") + ", " +
      s(pm.loSql("ex", 1e9), "p_lo") +
      s" FROM $chunked GROUP BY 1) " +
      s"SELECT CAST(${pm.hiSql("x")} AS BIGINT) AS xh, " +
      s"CAST(${pm.loSql("x", 1e9)} AS BIGINT) AS xl, n, " +
      "e_hi, e_c1, e_c2, e_c3, p_hi, p_lo FROM ktg ORDER BY x"
  }

  /** DuckDB mirror of Stats.gmmEm1d over pin9(pln(1+n_chars)), 3 EM
    * steps: each pK CTE replays the nine integer-pair moment sums
    * from p(K−1)'s 9-dp params with the op's pinned parenthesization
    * (normalization-free w's, 9-dp-pinned responsibilities, larger-
    * mean-keyed midpoint rule on both-underflow, ln clamped at the
    * portable kernel's 1e-18 domain floor and 9-dp-pinned in the
    * loglik sum). The covariate is the INJECTED literal grid (round
    * 14, lnGridCte — never computed by an engine); every remaining
    * exp/ln — the densities, the loglik — is the PORTABLE kernel's
    * generated SQL arithmetic (PortableMathSql), bit-identical to the
    * Spark side by construction; libm is out of the value path
    * entirely. */
  private def gmmOracle: String = {
    val pm = graft.functions.PortableMathSql
    val llInner = pm.lnFrom(s"${gmmWRel("p3", "pwf")} pwfz",
      "greatest(w1 + w2, 1e-18)", "__pll", "pll")
    gmmCtes + ", " +
      s"f0 AS (SELECT ${pm.pin9Sql("__pll")} AS pll FROM $llInner pllw), " +
      "f AS (SELECT count(*) AS n, " +
      pm.pairSumSql(s"(pll - ${pm.lit(0.9189385332046727)})", "ll") +
      " FROM f0) " +
      "SELECT CAST(n AS BIGINT) AS n, " +
      s"${pm.pin6Sql("(CASE WHEN mu1 > mu2 THEN p2 ELSE 1.0 - p2 END)")} AS pi_lo, " +
      s"${pm.pin6Sql("(CASE WHEN mu1 > mu2 THEN mu2 ELSE mu1 END)")} AS mu_lo, " +
      s"${pm.pin6Sql("(CASE WHEN mu1 > mu2 THEN s2 ELSE s1 END)")} AS sigma_lo, " +
      s"${pm.pin6Sql("(CASE WHEN mu1 > mu2 THEN 1.0 - p2 ELSE p2 END)")} AS pi_hi, " +
      s"${pm.pin6Sql("(CASE WHEN mu1 > mu2 THEN mu1 ELSE mu2 END)")} AS mu_hi, " +
      s"${pm.pin6Sql("(CASE WHEN mu1 > mu2 THEN s1 ELSE s2 END)")} AS sigma_hi, " +
      s"${pm.pin6Sql(s"(${pm.pairValSql("ll")} / CAST(n AS DOUBLE))")} AS avg_loglik " +
      "FROM f CROSS JOIN p3"
  }

  /** Normalization-free densities from the broadcast one-row params:
    * w = (weight / sigma) * pexp(-(0.5 * z * z)), both pexp's the
    * portable kernel chain — shared by [[gmmOracle]], [[gmmCtes]]'s
    * EM steps, and the q_gmm_diag_kernel probe. */
  private def gmmWRel(prev: String, tag: String): String = {
    val pm = graft.functions.PortableMathSql
    val inner = s"(SELECT x, p2, mu1, mu2, s1, s2 FROM b CROSS JOIN $prev)"
    val e1 = pm.expFrom(inner,
      "-(0.5 * (((x - mu1) / s1) * ((x - mu1) / s1)))", "__pw1", tag + "a")
    val e2 = pm.expFrom(e1,
      "-(0.5 * (((x - mu2) / s2) * ((x - mu2) / s2)))", "__pw2", tag + "b")
    s"(SELECT x, __pw1, __pw2, ((1.0 - p2) / s1) * __pw1 AS w1, " +
      s"(p2 / s2) * __pw2 AS w2, mu1, mu2 FROM $e2 ${tag}w)"
  }

  /** Shared GMM CTE chain — covariate table `b` off the injected
    * literal grid, moment init p0, and the 3-step EM param ladder
    * ending at `p3`. Mirrors Stats.gmmFit op for op. */
  private def gmmCtes: String = {
    val pm = graft.functions.PortableMathSql
    // Stats.gmmEm1d's mirror, op for op: NO engine round() (portable floor-ladder pins only) and NO
    // DECIMAL↔DOUBLE cast of a non-integer value — every moment sum is
    // a PAIR of exact DECIMAL(38,0) integer sums rebuilt H + L/1e9
    val iters = (1 to 3).map { k =>
      s"t$k AS (SELECT x, CASE WHEN w1 + w2 = 0.0 THEN " +
        "(CASE WHEN (x > (mu1 + mu2) / 2.0) = (mu2 >= mu1) " +
        "THEN 1.0 ELSE 0.0 END) " +
        s"ELSE ${pm.pin9Sql("(w2 / (w1 + w2))")} END AS r " +
        s"FROM ${gmmWRel(s"p${k - 1}", s"pw$k")} pw${k}z), " +
        s"a$k AS (SELECT count(*) AS n, " +
        pm.pairSumSql("r", "r2") + ", " +
        pm.pairSumSql("(r * x)", "r2x") + ", " +
        pm.pairSumSql("(r * x * x)", "r2xx") + ", " +
        pm.pairSumSql("(1.0 - r)", "r1") + ", " +
        pm.pairSumSql("((1.0 - r) * x)", "r1x") + ", " +
        pm.pairSumSql("((1.0 - r) * x * x)", "r1xx") +
        s" FROM t$k), " +
        s"rb$k AS (SELECT CAST(n AS DOUBLE) AS nd, " +
        Seq("r2", "r2x", "r2xx", "r1", "r1x", "r1xx")
          .map(n => s"${pm.pairValSql(n)} AS $n").mkString(", ") +
        s" FROM a$k), " +
        s"u$k AS (SELECT r2 / nd AS up2, r1x / r1 AS umu1, " +
        "sqrt(greatest(r1xx / r1 - (r1x / r1) * (r1x / r1), 1e-12)) AS us1, " +
        "r2x / r2 AS umu2, " +
        "sqrt(greatest(r2xx / r2 - (r2x / r2) * (r2x / r2), 1e-12)) AS us2 " +
        s"FROM rb$k), " +
        s"p$k AS (SELECT ${pm.pin9Sql("up2")} AS p2, " +
        s"${pm.pin9Sql("umu1")} AS mu1, ${pm.pin9Sql("us1")} AS s1, " +
        s"${pm.pin9Sql("umu2")} AS mu2, ${pm.pin9Sql("us2")} AS s2 " +
        s"FROM u$k)"
    }.mkString(", ")
    // covariate from the injected literal grid (lnGridCte)
    s"WITH $lnGridCte, " +
      s"b AS (SELECT ${lnGridXSql("d.nk")} AS x FROM " +
      "(SELECT 1 + n_chars AS nk FROM documents " +
      "WHERE n_chars IS NOT NULL) d LEFT JOIN lng g ON d.nk = g.gk), " +
      "m0 AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd, " +
      pm.pairSumSql("x", "sx") + ", " + pm.pairSumSql("(x * x)", "sxx") +
      " FROM b), " +
      s"i0 AS (SELECT nd, ${pm.pin9Sql(s"(${pm.pairValSql("sx")} / nd)")} AS m, " +
      s"${pm.pairValSql("sxx")} / nd AS exx FROM m0), " +
      "i1 AS (SELECT m, sqrt(greatest(exx - m * m, 1e-12)) AS sd0 FROM i0), " +
      s"p0 AS (SELECT 0.5 AS p2, ${pm.pin9Sql("(m - sd0)")} AS mu1, " +
      s"${pm.pin9Sql("sd0")} AS s1, ${pm.pin9Sql("(m + sd0)")} AS mu2, " +
      s"${pm.pin9Sql("sd0")} AS s2 FROM i1), " +
      iters
  }

  /** q_gmm_diag_kernel oracle: the portable exp/ln chains at the exact
    * final-params arguments (the two densities and the loglik ln),
    * bit-chunked exactly and BIGINT-summed per covariate-quanta-mod-20
    * group — [[gmmCtes]] supplies the same p3 ladder as the fit. */
  private def gmmDiagKernelOracle: String = {
    val pm = graft.functions.PortableMathSql
    val lnRel = pm.lnFrom(s"${gmmWRel("p3", "dgf")} dgfz",
      "greatest(w1 + w2, 1e-18)", "__pl", "dgl")
    var rel = pm.chunkFrom(lnRel, "__pw1", "e_")
    rel = pm.chunkFrom(rel, "__pw2", "f_")
    rel = pm.chunkFrom(rel, "__pl", "a_")
    val sums = Seq("e_", "f_", "a_").flatMap(p =>
      Seq("hi", "c1", "c2", "c3").map(c =>
        s"CAST(SUM(CAST($p$c AS BIGINT)) AS BIGINT) AS $p$c")).mkString(", ")
    gmmCtes +
      s" SELECT CAST(${pm.loSql("x", 1e9)} AS BIGINT) % 20 AS grp, " +
      s"count(*) AS n, $sums FROM $rel GROUP BY 1 ORDER BY 1"
  }

  private def qualityScoresOracle: String = {
    val inner = graft.functions.PortableMathSql.expFrom(
      "(SELECT f.doc_id, f.x1, f.x2, b.b0, b.b1, b.b2 FROM f, bb3 b)",
      "-(b0 + b1 * x1 + b2 * x2)", "__ps", "qs")
    val pm = graft.functions.PortableMathSql
    logisticCtes + ", " +
      // portable pin9 sigmoid then pin6 readout (as in
      // Stats.logisticScore) — p9 named so the pin ladders stay shallow
      s"sc0 AS (SELECT doc_id, ${pm.pin9Sql("(1.0 / (1.0 + __ps))")} AS p9 " +
      s"FROM $inner qsw) " +
      s"SELECT doc_id, ${pm.pin6Sql("p9")} AS score FROM sc0 ORDER BY doc_id"
  }

  /** q_logistic_diag_kernel oracle: the portable exp/ln chains at the
    * exact final-β arguments (sigmoid pexp, two clamped loss plns),
    * bit-chunked exactly and BIGINT-summed per doc-mod-20 group —
    * Stats.logisticDiagKernel's mirror over [[logisticCtes]]' bb3. */
  private def logisticDiagKernelOracle: String = {
    val pm = graft.functions.PortableMathSql
    val finInner = pm.expFrom(
      "(SELECT f.doc_id, f.y, f.x1, f.x2, b.b0, b.b1, b.b2 FROM f, bb3 b)",
      "-(b0 + b1 * x1 + b2 * x2)", "__pe", "dk")
    val cl = "(SELECT doc_id, __pe, least(greatest(" +
      s"${pm.pin9Sql("(1.0 / (1.0 + __pe))")}, 1e-6), 1.0 - 1e-6) AS q " +
      s"FROM $finInner dkw)"
    var rel = pm.lnFrom(cl, "q", "__lq", "da")
    rel = pm.lnFrom(rel, "1.0 - q", "__lr", "db")
    rel = pm.chunkFrom(rel, "__pe", "e_")
    rel = pm.chunkFrom(rel, "__lq", "a_")
    rel = pm.chunkFrom(rel, "__lr", "b_")
    val sums = Seq("e_", "a_", "b_").flatMap(p =>
      Seq("hi", "c1", "c2", "c3").map(c =>
        s"CAST(SUM(CAST($p$c AS BIGINT)) AS BIGINT) AS $p$c")).mkString(", ")
    logisticCtes +
      s" SELECT doc_id % 20 AS grp, count(*) AS n, $sums " +
      s"FROM $rel GROUP BY 1 ORDER BY 1"
  }

  /** q_psm_diag_kln oracle: the portable ln chain at the exact PSM
    * feature arguments — pln(1+Σvalue) (the one non-enumerable-domain
    * covariate still kernel-computed on both engines) and pln(1+count)
    * — bit-chunked exactly and BIGINT-summed per user-mod-20 group. */
  private def psmDiagKLnOracle: String = {
    val pm = graft.functions.PortableMathSql
    val inner = pm.lnFrom(pm.lnFrom(
      "(SELECT user_id, tv, ne FROM (SELECT user_id, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS tv, " +
        "count(*) AS ne FROM events GROUP BY 1) kvi " +
        "WHERE tv IS NOT NULL)",
      "1.0 + tv", "__plv", "ka"),
      "1.0 + CAST(ne AS DOUBLE)", "__plw", "kb")
    var rel = pm.chunkFrom(inner, "__plv", "a_")
    rel = pm.chunkFrom(rel, "__plw", "b_")
    val sums = Seq("a_", "b_").flatMap(p =>
      Seq("hi", "c1", "c2", "c3").map(c =>
        s"CAST(SUM(CAST($p$c AS BIGINT)) AS BIGINT) AS $p$c")).mkString(", ")
    s"SELECT user_id % 20 AS grp, count(*) AS n, $sums " +
      s"FROM $rel GROUP BY 1 ORDER BY 1"
  }

  /** Per-feature entropy/conditional-entropy blocks UNION ALLed — one
    * generated block per (name, SQL expr), mirroring Stats.infoGain's
    * per-feature aggregations and its 0·log 0 = 0 convention. */
  private def infoGainOracle: String = {
    def h(p: String) =
      s"-(CASE WHEN $p > 0 THEN $p * log2($p) ELSE 0.0 END + " +
        s"CASE WHEN 1.0 - $p > 0 THEN (1.0 - $p) * log2(1.0 - $p) ELSE 0.0 END)"
    val features = Seq(
      ("hour", "hour(ts)"),
      ("dow", "CAST(isodow(ts) AS BIGINT)"),
      ("value_band", "CAST(least(floor(value / 50.0), 9.0) AS BIGINT)"))
    val blocks = features.map { case (name, expr) =>
      val hl = h("CAST(toty AS DOUBLE) / CAST(tot AS DOUBLE)")
      s"SELECT '$name' AS feature, n_values, round($hl, 6) AS h_label, " +
        "round(CAST(ch AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS h_cond, " +
        s"round($hl - CAST(ch AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS info_gain " +
        "FROM (SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(SUM(ny) AS BIGINT) AS toty, " +
        "count(*) AS n_values, SUM(CAST(n * hv AS DECIMAL(28,10))) AS ch " +
        "FROM (SELECT n, ny, " +
        // per-value entropy pinned to 9 dp (the op's cross-libm stance)
        "round(" + h("CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)") + ", 9) AS hv " +
        s"FROM (SELECT $expr AS v, count(*) AS n, " +
        "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ny " +
        "FROM events GROUP BY 1)))"
    }
    s"SELECT * FROM (${blocks.mkString(" UNION ALL ")}) ORDER BY feature"
  }

  /** Mirror of q_cuped: per-user period means, DECIMAL moments, θ and
    * the adjusted metric with the identical fixed-parenthesization
    * double arithmetic (lateral alias references reuse the same
    * computed values the Spark columns do). */
  private def cupedOracle: String =
    "WITH b AS (SELECT user_id, " +
      "CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t, " +
      "CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS p, " +
      "CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL), " +
      "u AS (SELECT user_id AS uu, max(t) AS t, " +
      "SUM(CASE WHEN p = 0 THEN CAST(v AS DECIMAL(28,8)) END) AS sx, " +
      "SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS nx, " +
      "SUM(CASE WHEN p = 1 THEN CAST(v AS DECIMAL(28,8)) END) AS sy, " +
      "SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS ny FROM b GROUP BY 1), " +
      "pu AS (SELECT uu, t, CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE) AS x, " +
      "CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE) AS y FROM u " +
      "WHERE nx > 0 AND ny > 0), " +
      "m AS (SELECT count(*) AS n, " +
      "SUM(CAST(x AS DECIMAL(28,10))) AS sx, " +
      "SUM(CAST(y AS DECIMAL(28,10))) AS sy, " +
      "SUM(CAST(x * y AS DECIMAL(28,10))) AS sxy, " +
      "SUM(CAST(x * x AS DECIMAL(28,10))) AS sxx, " +
      "SUM(CAST(y * y AS DECIMAL(28,10))) AS syy FROM pu), " +
      "w AS (SELECT pu.uu, pu.t, pu.x, pu.y, " +
      "CAST(m.sx AS DOUBLE) / m.n AS xbar, " +
      "CAST(m.sy AS DOUBLE) / m.n AS ybar, " +
      "(CAST(m.sxy AS DOUBLE) / m.n - xbar * ybar) / " +
      "(CAST(m.sxx AS DOUBLE) / m.n - xbar * xbar) AS theta, " +
      "m.n AS n, m.syy AS syy FROM pu CROSS JOIN m), " +
      "w2 AS (SELECT w.*, y - theta * (x - xbar) AS yadj FROM w) " +
      "SELECT count(*) AS n_units, round(min(theta), 6) AS theta, " +
      "round(CAST(SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(28,10)) END) AS DOUBLE) / " +
      "SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) - " +
      "CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(28,10)) END) AS DOUBLE) / " +
      "SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END), 6) AS diff_raw, " +
      "round(CAST(SUM(CASE WHEN t = 1 THEN CAST(yadj AS DECIMAL(28,10)) END) AS DOUBLE) / " +
      "SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) - " +
      "CAST(SUM(CASE WHEN t = 0 THEN CAST(yadj AS DECIMAL(28,10)) END) AS DOUBLE) / " +
      "SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END), 6) AS diff_cuped, " +
      "round((CAST(SUM(CAST(yadj * yadj AS DECIMAL(28,10))) AS DOUBLE) / count(*) - " +
      "(CAST(SUM(CAST(yadj AS DECIMAL(28,10))) AS DOUBLE) / count(*)) * " +
      "(CAST(SUM(CAST(yadj AS DECIMAL(28,10))) AS DOUBLE) / count(*))) / " +
      "(CAST(min(syy) AS DOUBLE) / CAST(min(n) AS DOUBLE) - " +
      "min(ybar) * min(ybar)), 6) AS var_ratio FROM w2"

  /** Mirror of q_stl_anomaly: the q_stl_decompose CTE chain, a DECIMAL
    * moment pass over the remainder, and the 3σ screen with the same
    * fixed-parenthesization double arithmetic. */
  private def stlAnomalyOracle: String =
    s"WITH s AS MATERIALIZED ${dailyCounts("y")}, " +
      "t AS MATERIALIZED (SELECT d, y, count(*) OVER w AS n, " +
      "round(CAST(SUM(CAST(y AS DECIMAL(28,8))) OVER w AS DOUBLE) / " +
      "CAST(count(*) OVER w AS DOUBLE), 6) AS trend FROM s " +
      "WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
      "f AS MATERIALIZED (SELECT d, y, trend, y - trend AS detr, " +
      "CAST(isodow(d) AS BIGINT) AS dow FROM t WHERE n = 7), " +
      "dm AS (SELECT dow, CAST(SUM(CAST(detr AS DECIMAL(28,8))) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE) AS sm FROM f GROUP BY 1), " +
      "cc AS (SELECT CAST(SUM(CAST(sm AS DECIMAL(28,8))) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE) AS c FROM dm), " +
      "se AS (SELECT dow, round(sm - c, 6) AS seasonal FROM dm CROSS JOIN cc), " +
      "o AS MATERIALIZED (SELECT f.d, f.y, f.trend, se.seasonal, " +
      "round(f.y - f.trend - se.seasonal, 6) AS remainder " +
      "FROM f JOIN se USING (dow)), " +
      "mm AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      "SUM(CAST(remainder AS DECIMAL(28,8))) AS s1, " +
      "SUM(CAST(remainder * remainder AS DECIMAL(28,8))) AS s2 FROM o) " +
      "SELECT d, y, trend, seasonal, remainder, " +
      "round((remainder - CAST(s1 AS DOUBLE) / n) / " +
      "sqrt(CAST(s2 AS DOUBLE) / n - " +
      "(CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)), 6) AS sigma " +
      "FROM o CROSS JOIN mm " +
      "WHERE abs(remainder - CAST(s1 AS DOUBLE) / n) > " +
      "3.0 * sqrt(CAST(s2 AS DOUBLE) / n - " +
      "(CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) ORDER BY d"

  /** Mirror of the q_bh_fdr hypothesis sweep + Stats.bhAdjust: the same
    * per-hour pooled-share z (fixed parenthesization), the same
    * Gaussian-tail surrogate p = exp(−z²/2) computed from the ROUNDED z,
    * and the same step-up reverse running min with (p, hour) tie order. */
  private def bhFdrOracle: String =
    "WITH h AS (SELECT CAST(hour(ts) AS BIGINT) AS hour, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x " +
      "FROM events GROUP BY 1), " +
      "pool AS (SELECT SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE " +
      "/ count(*)::DOUBLE AS p0 FROM events), " +
      "hz AS (SELECT hour, n, x, round((x::DOUBLE / n::DOUBLE - p0) / " +
      "sqrt(p0 * (1.0 - p0) / n::DOUBLE), 6) AS z FROM h CROSS JOIN pool), " +
      "hp AS (SELECT *, round(exp(-0.5 * z * z), 6) AS p FROM hz), " +
      "m AS (SELECT count(*) AS m FROM hp), " +
      "rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p ASC, hour ASC) AS BIGINT) AS rank FROM hp), " +
      "ad AS (SELECT *, round(least(1.0, min(m.m::DOUBLE * p / rank::DOUBLE) " +
      "OVER (ORDER BY rank ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS p_adj " +
      "FROM rk CROSS JOIN m) " +
      "SELECT hour, n, x, z, p, rank, p_adj, p_adj <= 0.05 AS signif " +
      "FROM ad ORDER BY rank"
}

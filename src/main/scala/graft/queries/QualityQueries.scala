package graft
package queries

import graft.functions.NumericFunctions.fround

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `dq` family: data-quality profiles, drift tests and audits. */
private[queries] object QualityQueries {
  import QueryKit._

  val all: Seq[QueryDef] = Seq(
    QueryDef("dq4_psi_drift", ((s, dir) => {
      // PSI feature-drift monitor on order totals: even-key orders play
      // the baseline snapshot, odd-key the current batch. Equal-width
      // bins over the baseline min/max (1-row broadcast — no global
      // percentile sort), open-ended edge bins for out-of-range mass,
      // add-1 smoothing, ln-floored nano-unit contributions (tx21 style)
      val orders = t(s, dir, "orders")
      graft.operators.QualityAudit.psiDrift(
        orders.filter(col("o_orderkey") % 2 === 0),
        orders.filter(col("o_orderkey") % 2 =!= 0),
        "o_totalprice", bins = 10)
    }),
      """WITH vb AS (SELECT o_totalprice::DOUBLE AS v FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL),
        |vc AS (SELECT o_totalprice::DOUBLE AS v FROM orders
        |WHERE o_orderkey % 2 <> 0 AND o_totalprice IS NOT NULL),
        |r AS (SELECT min(v) AS lo, max(v) AS hi FROM vb),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0 WHEN v < lo THEN -1
        |WHEN v > hi THEN 10
        |ELSE least(floor((v - lo) / ((hi - lo) / 10.0))::INT, 9) END
        |  AS bin, count(*)::BIGINT AS n_base FROM vb, r GROUP BY 1),
        |bc AS (SELECT CASE WHEN hi = lo THEN 0 WHEN v < lo THEN -1
        |WHEN v > hi THEN 10
        |ELSE least(floor((v - lo) / ((hi - lo) / 10.0))::INT, 9) END
        |  AS bin, count(*)::BIGINT AS n_cur FROM vc, r GROUP BY 1),
        |j AS (SELECT coalesce(bb.bin, bc.bin) AS bin,
        |coalesce(n_base, 0)::BIGINT AS n_base,
        |coalesce(n_cur, 0)::BIGINT AS n_cur
        |FROM bb FULL JOIN bc ON bb.bin = bc.bin),
        |t AS (SELECT sum(n_base)::BIGINT AS ta, sum(n_cur)::BIGINT AS tc
        |FROM j)
        |SELECT bin, n_base, n_cur,
        |(n_base + 1) * 1000000 // (ta + 12) AS p_base_ppm,
        |(n_cur + 1) * 1000000 // (tc + 12) AS p_cur_ppm,
        |floor(((n_base + 1)::DOUBLE / (ta + 12)::DOUBLE
        |  - (n_cur + 1)::DOUBLE / (tc + 12)::DOUBLE)
        |  * ln(((n_base + 1)::DOUBLE / (ta + 12)::DOUBLE)
        |    / ((n_cur + 1)::DOUBLE / (tc + 12)::DOUBLE)) * 1e9)::BIGINT
        |  AS psi_nano
        |FROM j, t""".stripMargin),
    QueryDef("dq5_ks_drift", ((s, dir) => {
      // binned two-sample KS over the same even/odd order split and
      // baseline-range binning as dq4 — PSI weighs per-bin shifts, KS
      // catches the accumulated CDF gap; cumulative window runs on the
      // <=bins+2-row bin frame, never the data
      val orders = t(s, dir, "orders")
      graft.operators.QualityAudit.ksDrift(
        orders.filter(col("o_orderkey") % 2 === 0),
        orders.filter(col("o_orderkey") % 2 =!= 0),
        "o_totalprice", bins = 20)
    }),
      """WITH vb AS (SELECT o_totalprice::DOUBLE AS v FROM orders
        |WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL),
        |vc AS (SELECT o_totalprice::DOUBLE AS v FROM orders
        |WHERE o_orderkey % 2 <> 0 AND o_totalprice IS NOT NULL),
        |r AS (SELECT min(v) AS lo, max(v) AS hi FROM vb),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0 WHEN v < lo THEN -1
        |WHEN v > hi THEN 20
        |ELSE least(floor((v - lo) / ((hi - lo) / 20.0))::INT, 19) END
        |  AS bin, count(*)::BIGINT AS n_base FROM vb, r GROUP BY 1),
        |bc AS (SELECT CASE WHEN hi = lo THEN 0 WHEN v < lo THEN -1
        |WHEN v > hi THEN 20
        |ELSE least(floor((v - lo) / ((hi - lo) / 20.0))::INT, 19) END
        |  AS bin, count(*)::BIGINT AS n_cur FROM vc, r GROUP BY 1),
        |j AS (SELECT coalesce(bb.bin, bc.bin) AS bin,
        |coalesce(n_base, 0)::BIGINT AS n_base,
        |coalesce(n_cur, 0)::BIGINT AS n_cur
        |FROM bb FULL JOIN bc ON bb.bin = bc.bin),
        |c AS (SELECT bin, n_base, n_cur,
        |(sum(n_base) OVER (ORDER BY bin
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |  AS cum_base,
        |(sum(n_cur) OVER (ORDER BY bin
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |  AS cum_cur FROM j),
        |t AS (SELECT sum(n_base)::BIGINT AS ta, sum(n_cur)::BIGINT AS tc
        |FROM j)
        |SELECT bin, n_base, n_cur,
        |cum_base * 1000000 // greatest(ta, 1) AS cdf_base_ppm,
        |cum_cur * 1000000 // greatest(tc, 1) AS cdf_cur_ppm,
        |abs(cum_base * 1000000 // greatest(ta, 1)
        |  - cum_cur * 1000000 // greatest(tc, 1)) AS gap_ppm
        |FROM c, t""".stripMargin),
    QueryDef("dq7_fd_audit", ((s, dir) =>
      // functional-dependency measurement: the PK dependency must hold
      // exactly (0 violations certifies it); the customer/priority pairs
      // quantify how far real data is from the FDs a denormalizer would
      // like to assume
      graft.operators.QualityAudit.fdAudit(t(s, dir, "orders"), Seq(
        ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus")))), {
      val deps = Seq(("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"))
      deps.map { case (det, dep) =>
        s"""SELECT '$det' AS determinant, '$dep' AS dependent,
           |count(*)::BIGINT AS n_keys,
           |coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)::BIGINT
           |  AS n_violating,
           |coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)::BIGINT
           |  * 1000000 // greatest(count(*), 1) AS violation_ppm
           |FROM (SELECT $det::VARCHAR AS a,
           |count(DISTINCT $dep::VARCHAR) AS nd FROM orders
           |WHERE $det IS NOT NULL GROUP BY 1)""".stripMargin
      }.mkString("\nUNION ALL\n")
    }),
    QueryDef("dq8_ndv_drift", ((s, dir) => {
      // key-cardinality drift monitor: per-ingest-day NDV from the s25
      // KMV artifacts (constant-size per day — never a distinct over raw
      // history), day-over-day ratio in floored ppm, flagged outside
      // [0.5x, 2x] — the "did upstream start minting ids" alarm. The
      // ordered lag runs on the day-level frame only
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val k = 16
      val est = graft.operators.Sketches.columnStatsByGroup(
          ev, "day", "user_id", k)
        .select(col("grp").cast("string").as("day"), col("n_rows"),
          fround(when(size(col("kmv")) < k, size(col("kmv"))
              .cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(2147483648.0) /
              element_at(col("kmv"), k).cast("double")), 2)
            .as("est_distinct"))
      est
        .withColumn("prev_est",
          lag(col("est_distinct"), 1).over(Window.orderBy("day")))
        .withColumn("change_ppm",
          floor(col("est_distinct") / greatest(col("prev_est"), lit(1.0))
            * 1000000).cast("long"))
        .withColumn("flagged",
          coalesce(col("change_ppm") >= 2000000L ||
            col("change_ppm") <= 500000L, lit(false)))
    }),
      """WITH e AS (SELECT ts::TIMESTAMP::DATE AS day, user_id AS v
        |FROM events),
        |per AS (SELECT day, count(*)::BIGINT AS n_rows FROM e
        |GROUP BY 1),
        |hs AS (SELECT DISTINCT day, (v * 2654435761) % 2147483648 AS h
        |FROM e WHERE v IS NOT NULL),
        |pk AS (SELECT day, list_sort(list(h))[1:16] AS kmv
        |FROM hs GROUP BY 1),
        |est AS (SELECT per.day::VARCHAR AS day, per.n_rows,
        |floor((CASE WHEN pk.day IS NULL THEN 0.0
        |WHEN len(kmv) < 16 THEN len(kmv)::DOUBLE
        |ELSE 15.0 * 2147483648.0 / kmv[16] END) * 100.0) / 100.0
        |  AS est_distinct
        |FROM per LEFT JOIN pk ON pk.day = per.day),
        |lg AS (SELECT day, n_rows, est_distinct,
        |lag(est_distinct) OVER (ORDER BY day) AS prev_est FROM est),
        |cp AS (SELECT day, n_rows, est_distinct, prev_est,
        |floor(est_distinct / greatest(prev_est, 1.0)
        |  * 1000000)::BIGINT AS change_ppm FROM lg)
        |SELECT day, n_rows, est_distinct, prev_est, change_ppm,
        |coalesce(change_ppm >= 2000000 OR change_ppm <= 500000, false)
        |  AS flagged
        |FROM cp""".stripMargin),
    QueryDef("dq9_error_pchart", ((s, dir) =>
      // Shewhart p-chart on the daily error share: pooled center line,
      // per-day 3-sigma binomial limits tested sqrt-free in exact
      // integers ((d_ppm^2 * n) vs (9 * p(1e6-p)) in decimal(38,0)) —
      // the SPC alarm an ops pipeline runs on its own failure rate.
      // One day-grain agg + a 1-row totals broadcast
      graft.operators.QualityAudit.rateControlChart(
        t(s, dir, "events"), to_date(col("ts")),
        col("event_type") === "error")),
      """WITH daily AS (SELECT ts::TIMESTAMP::DATE::VARCHAR AS bucket,
        |count(*)::BIGINT AS n_rows,
        |sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
        |  AS n_defects
        |FROM events GROUP BY 1),
        |tot AS (SELECT sum(n_rows)::BIGINT AS tn,
        |sum(n_defects)::BIGINT AS tx FROM daily),
        |r AS (SELECT bucket, n_rows, n_defects,
        |n_defects * 1000000 // n_rows AS rate_ppm,
        |tx * 1000000 // greatest(tn, 1) AS center_ppm
        |FROM daily, tot)
        |SELECT bucket, n_rows, n_defects, rate_ppm, center_ppm,
        |(rate_ppm - center_ppm)::HUGEINT * (rate_ppm - center_ppm)
        |  * n_rows > 9::HUGEINT * center_ppm * (1000000 - center_ppm)
        |  AS out_of_control,
        |CASE WHEN NOT ((rate_ppm - center_ppm)::HUGEINT
        |    * (rate_ppm - center_ppm) * n_rows
        |    > 9::HUGEINT * center_ppm * (1000000 - center_ppm))
        |  THEN 'in' WHEN rate_ppm > center_ppm THEN 'high'
        |  ELSE 'low' END AS side
        |FROM r""".stripMargin),
    QueryDef("dq11_winsorize", ((s, dir) =>
      // winsorization at the exact p01/p99 from the bisection quantiles
      // (q94's machinery, no global sort): the clip bounds a feature
      // pipeline persists, plus what clamping does to the mean
      graft.operators.Quantile.winsorizeReport(
        t(s, dir, "lineitem").select(
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents")),
        "cents", ("p01", 1L, 100L), ("p99", 99L, 100L))),
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
        |FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |nn AS (SELECT count(*)::BIGINT AS n FROM v),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
        |b AS (SELECT
        |(SELECT x FROM r, nn WHERE rn = greatest(1, (n * 1 + 99) // 100))
        |  AS lo,
        |(SELECT x FROM r, nn WHERE rn = greatest(1, (n * 99 + 99) // 100))
        |  AS hi)
        |SELECT lo, hi, count(*)::BIGINT AS n,
        |count(*) FILTER (x < lo)::BIGINT AS n_low,
        |count(*) FILTER (x > hi)::BIGINT AS n_high,
        |(sum(x) // count(*))::BIGINT AS mean_value,
        |(sum(greatest(lo, least(hi, x))) // count(*))::BIGINT
        |  AS w_mean_value
        |FROM v, b GROUP BY lo, hi""".stripMargin),
    QueryDef("dq12_constraints", ((s, dir) =>
      // Deequ-style declarative constraint suite: six rules over
      // lineitem validated in ONE map-side aggregate pass (never a scan
      // per rule), unpivoted to a long-format violation report
      graft.operators.QualityAudit.constraintAudit(
        t(s, dir, "lineitem"), Seq(
          "qty_in_1_50" ->
            (col("l_quantity") >= 1 && col("l_quantity") <= 50),
          "discount_in_0_10pct" ->
            (col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
          "tax_in_0_8pct" -> (col("l_tax") >= 0.0 && col("l_tax") <= 0.08),
          "price_positive" -> (col("l_extendedprice") > 0.0),
          "flag_in_domain" -> col("l_returnflag").isin("A", "N", "R"),
          "shipped_before_1999" ->
            (col("l_shipdate") < lit("1999-01-01").cast("timestamp"))))),
      """WITH t AS (SELECT count(*)::BIGINT AS n_rows,
        |count(*) FILTER (NOT (l_quantity >= 1 AND l_quantity <= 50))
        |  ::BIGINT AS v0,
        |count(*) FILTER (NOT (l_discount >= 0 AND l_discount <= 0.1))
        |  ::BIGINT AS v1,
        |count(*) FILTER (NOT (l_tax >= 0 AND l_tax <= 0.08))
        |  ::BIGINT AS v2,
        |count(*) FILTER (NOT (l_extendedprice > 0))::BIGINT AS v3,
        |count(*) FILTER (NOT (l_returnflag IN ('A', 'N', 'R')))
        |  ::BIGINT AS v4,
        |count(*) FILTER (NOT (l_shipdate < TIMESTAMP '1999-01-01'))
        |  ::BIGINT AS v5
        |FROM lineitem),
        |r AS (SELECT 'qty_in_1_50' AS rule, v0 AS n_violations, n_rows
        |FROM t
        |UNION ALL SELECT 'discount_in_0_10pct', v1, n_rows FROM t
        |UNION ALL SELECT 'tax_in_0_8pct', v2, n_rows FROM t
        |UNION ALL SELECT 'price_positive', v3, n_rows FROM t
        |UNION ALL SELECT 'flag_in_domain', v4, n_rows FROM t
        |UNION ALL SELECT 'shipped_before_1999', v5, n_rows FROM t)
        |SELECT rule, n_violations, n_rows,
        |(n_violations * 1000000 // greatest(n_rows, 1))::BIGINT
        |  AS violation_ppm
        |FROM r""".stripMargin),
    QueryDef("dq10_chi2", ((s, dir) =>
      // chi-square independence of language x source on the corpus —
      // the categorical sampling-bias audit (PSI/KS cover numeric
      // features; this covers the label-ish ones). One corpus agg to
      // the contingency grain; margins cross is |langs| x |sources|
      graft.operators.QualityAudit.chi2Independence(
          t(s, dir, "documents"), "lang", "source")
        .withColumnRenamed("a", "lang")
        .withColumnRenamed("b", "source")),
      """WITH cells AS (SELECT lang AS a, source AS b,
        |count(*)::BIGINT AS observed FROM documents GROUP BY 1, 2),
        |rt AS (SELECT a, sum(observed)::BIGINT AS row_tot FROM cells
        |GROUP BY 1),
        |ct AS (SELECT b, sum(observed)::BIGINT AS col_tot FROM cells
        |GROUP BY 1),
        |tot AS (SELECT sum(observed)::BIGINT AS n,
        |count(DISTINCT a)::BIGINT AS nr,
        |count(DISTINCT b)::BIGINT AS nc FROM cells),
        |f AS (SELECT rt.a, ct.b, row_tot, col_tot,
        |coalesce(cells.observed, 0)::BIGINT AS observed
        |FROM rt CROSS JOIN ct
        |LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
        |calc AS (SELECT a, b, observed,
        |(row_tot::HUGEINT * col_tot * 1000000 // n)::BIGINT
        |  AS expected_micro FROM f, tot),
        |c2 AS (SELECT a, b, observed, expected_micro,
        |((observed * 1000000 - expected_micro)::HUGEINT
        |  * (observed * 1000000 - expected_micro)
        |  // greatest(expected_micro, 1))::BIGINT AS contrib_micro
        |FROM calc)
        |SELECT a AS lang, b AS source, observed, expected_micro,
        |contrib_micro, (sum(contrib_micro) OVER ())::BIGINT AS chi2_micro,
        |(SELECT (nr - 1) * (nc - 1) FROM tot)::BIGINT AS dof
        |FROM c2""".stripMargin),
    QueryDef("dq13_corr_matrix", ((s, dir) =>
      // pairwise Pearson correlation audit of the lineitem numerics —
      // the feature-redundancy / leakage screen. ONE map-side agg
      // computes all 15 moments (fact rows touched once); r² in exact
      // floored ppm + cov sign, sqrt-free. Units: whole qty/dollars,
      // discount+tax in percent (floor(x*100+0.5) — the doubles sit
      // within 1 ulp of exact hundredths, identical tree both engines)
      graft.operators.QualityAudit.correlationMatrix(
        t(s, dir, "lineitem").select(
          floor(col("l_quantity")).cast("long").as("qty"),
          floor(col("l_extendedprice")).cast("long").as("price"),
          floor(col("l_discount") * 100.0 + 0.5).cast("long").as("disc"),
          floor(col("l_tax") * 100.0 + 0.5).cast("long").as("tax")),
        Seq("qty", "price", "disc", "tax"))),
      // identical moment sums and two-step floored division in HUGEINT
      """WITH v AS (SELECT CAST(floor(l_quantity) AS HUGEINT) AS q,
        |CAST(floor(l_extendedprice) AS HUGEINT) AS p,
        |CAST(floor(l_discount * 100.0 + 0.5) AS HUGEINT) AS d,
        |CAST(floor(l_tax * 100.0 + 0.5) AS HUGEINT) AS t FROM lineitem),
        |m AS (SELECT count(*)::HUGEINT AS n,
        |sum(q) AS s0, sum(p) AS s1, sum(d) AS s2, sum(t) AS s3,
        |sum(q*q) AS p00, sum(q*p) AS p01, sum(q*d) AS p02,
        |sum(q*t) AS p03, sum(p*p) AS p11, sum(p*d) AS p12,
        |sum(p*t) AS p13, sum(d*d) AS p22, sum(d*t) AS p23,
        |sum(t*t) AS p33 FROM v),
        |pairs AS (
        |SELECT 'qty' AS x_col, 'price' AS y_col, n,
        |n*p01 - s0*s1 AS cov, n*p00 - s0*s0 AS vx, n*p11 - s1*s1 AS vy
        |FROM m
        |UNION ALL SELECT 'qty', 'disc', n, n*p02 - s0*s2,
        |n*p00 - s0*s0, n*p22 - s2*s2 FROM m
        |UNION ALL SELECT 'qty', 'tax', n, n*p03 - s0*s3,
        |n*p00 - s0*s0, n*p33 - s3*s3 FROM m
        |UNION ALL SELECT 'price', 'disc', n, n*p12 - s1*s2,
        |n*p11 - s1*s1, n*p22 - s2*s2 FROM m
        |UNION ALL SELECT 'price', 'tax', n, n*p13 - s1*s3,
        |n*p11 - s1*s1, n*p33 - s3*s3 FROM m
        |UNION ALL SELECT 'disc', 'tax', n, n*p23 - s2*s3,
        |n*p22 - s2*s2, n*p33 - s3*s3 FROM m)
        |SELECT x_col, y_col, n::BIGINT AS n,
        |((abs(cov) * 1000000000 // greatest(vx, 1)) * abs(cov)
        |  // greatest(vy, 1) // 1000)::BIGINT AS r2_ppm,
        |(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0
        |  END)::BIGINT AS corr_sign
        |FROM pairs""".stripMargin),
    QueryDef("dq6_column_profile", ((s, dir) =>
      // per-column catalog card: nulls, distincts, dominant value +
      // share, value-distribution entropy — string-profiled, nano-nat
      // floors per value, one value-domain agg per column
      graft.operators.QualityAudit.columnProfile(t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey",
          "o_orderkey"))), {
      // one value-domain CTE pair per profiled column, stitched with
      // UNION ALL; tie-break and nano-nat arithmetic mirror columnProfile
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey",
        "o_orderkey")
      val parts = cols.zipWithIndex.map { case (c, i) =>
        val g = s"g$i"; val t = s"t$i"
        (s"""$g AS (SELECT $c::VARCHAR AS v, count(*)::BIGINT AS cnt
            |FROM orders GROUP BY 1),
            |$t AS (SELECT sum(cnt)::BIGINT AS n,
            |coalesce(sum(cnt) FILTER (WHERE v IS NOT NULL), 0)::BIGINT
            |  AS nv FROM $g)""".stripMargin,
          s"""SELECT '$c' AS column_name, $t.n AS n_rows,
            |$t.n - $t.nv AS n_nulls,
            |(SELECT count(*) FROM $g WHERE v IS NOT NULL)::BIGINT
            |  AS n_distinct,
            |(SELECT v FROM $g WHERE v IS NOT NULL
            |ORDER BY cnt DESC, v DESC LIMIT 1) AS top_value,
            |(SELECT cnt FROM $g WHERE v IS NOT NULL
            |ORDER BY cnt DESC, v DESC LIMIT 1) * 1000000
            |  // greatest($t.nv, 1) AS top_share_ppm,
            |(SELECT coalesce(sum(floor((cnt::DOUBLE / $t.nv::DOUBLE)
            |  * ln($t.nv::DOUBLE / cnt::DOUBLE) * 1e9)::BIGINT), 0)
            |FROM $g WHERE v IS NOT NULL)::BIGINT AS entropy_nano
            |FROM $t""".stripMargin)
      }
      "WITH " + parts.map(_._1).mkString(",\n") + "\n" +
        parts.map(_._2).mkString("\nUNION ALL\n")
    }),
    QueryDef("dq3_benford", ((s, dir) =>
      // Benford first-digit audit on order totals — the fabricated-data /
      // corrupted-feed screen: first digit from the integer-cents DECIMAL
      // STRING (never float log10), observed vs expected integer ppm with
      // signed deviation; one 9-row agg + a 1-row total broadcast cross
      graft.operators.QualityAudit.benfordAudit(
        t(s, dir, "orders"), "o_totalprice")),
      """WITH c AS (SELECT floor(o_totalprice * 100.0)::BIGINT AS c
        |FROM orders WHERE floor(o_totalprice * 100.0)::BIGINT > 0),
        |g AS (SELECT c // power(10, length(c::VARCHAR) - 1)::BIGINT
        |AS digit, count(*)::BIGINT AS n_obs FROM c GROUP BY 1),
        |t AS (SELECT sum(n_obs)::BIGINT AS n_total FROM g),
        |e AS (SELECT * FROM (VALUES (1::BIGINT, 301029::BIGINT),
        |(2, 176091), (3, 124938), (4, 96910), (5, 79181), (6, 66946),
        |(7, 57991), (8, 51152), (9, 45757)) AS v(digit, expected_ppm))
        |SELECT g.digit, g.n_obs,
        |g.n_obs * 1000000 // greatest(t.n_total, 1) AS obs_ppm,
        |e.expected_ppm,
        |(g.n_obs * 1000000 // greatest(t.n_total, 1)) - e.expected_ppm
        |  AS dev_ppm
        |FROM g JOIN e USING (digit) CROSS JOIN t""".stripMargin),
    QueryDef("dq2_archive_reconcile", ((s, dir) => {
      // post-archival completeness reconciliation: one scan per side,
      // count + order-independent XOR of an engine-portable key
      // fingerprint. The simulated archive silently lost every 997th
      // order's lineitems — the checksum catches it; d5's per-key diff
      // is the forensic follow-up
      val src = t(s, dir, "lineitem")
      val lossyDst = src.filter(col("l_orderkey") % 997 =!= 0)
      graft.operators.TableDiff.reconcile(src, lossyDst,
        Seq("l_orderkey", "l_linenumber"))
    }),
      """WITH s AS (SELECT count(*)::BIGINT AS src_rows,
        |coalesce(bit_xor(('0x' || substr(md5(l_orderkey::VARCHAR || ':'
        |  || l_linenumber::VARCHAR), 1, 8))::BIGINT), 0)::BIGINT
        |  AS src_xor FROM lineitem),
        |d AS (SELECT count(*)::BIGINT AS dst_rows,
        |coalesce(bit_xor(('0x' || substr(md5(l_orderkey::VARCHAR || ':'
        |  || l_linenumber::VARCHAR), 1, 8))::BIGINT), 0)::BIGINT
        |  AS dst_xor FROM lineitem WHERE l_orderkey % 997 <> 0)
        |SELECT s.src_rows, d.dst_rows, s.src_xor, d.dst_xor,
        |s.src_rows = d.dst_rows AS rows_match,
        |s.src_xor = d.dst_xor AS checksum_match
        |FROM s, d""".stripMargin),
    QueryDef("dq16_sprt_monitor", ((s, dir) =>
      // Wald SPRT over the daily error rate: H0 p=0.15 vs H1 p=0.25
      // at alpha=beta=0.05 — increments floor(1000 ln(0.25/0.15))=510 /
      // floor(1000 ln(0.75/0.85))=-126, bound floor(1000 ln 19)=2944.
      // The sequential "when is the alarm decisive" readout dq9's
      // fixed-sample p-chart can't give
      graft.operators.QualityAudit.sprtMonitor(
        t(s, dir, "events"), to_date(col("ts")),
        col("event_type") === "error",
        llr1Milli = 510L, llr0Milli = -126L, boundMilli = 2944L)),
      // identical milli-nat constants and cumulative window
      """WITH e AS (SELECT (ts::TIMESTAMP::DATE)::VARCHAR AS bucket,
        |CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS d
        |FROM events),
        |g AS (SELECT bucket, count(*)::BIGINT AS n,
        |sum(d)::BIGINT AS n_defect FROM e GROUP BY 1),
        |c AS (SELECT bucket, n, n_defect,
        |(sum(n_defect * 510 + (n - n_defect) * (-126))
        |  OVER (ORDER BY bucket))::BIGINT AS cum_llr_milli FROM g)
        |SELECT bucket, n, n_defect, cum_llr_milli,
        |CASE WHEN cum_llr_milli >= 2944 THEN 'reject_h0'
        |WHEN cum_llr_milli <= -2944 THEN 'accept_h0'
        |ELSE 'continue' END AS verdict FROM c""".stripMargin),
    QueryDef("dq15_chain_manifest", ((s, dir) =>
      // tamper-evident archival ledger: per-day XOR content
      // fingerprints (dq2's machinery) hash-CHAINED in day order, so
      // any silent edit/drop/reorder of a historical batch changes
      // every later chain hash — verify the whole archive history
      // against one stored head hash before trusting delete-back
      graft.operators.TableDiff.chainManifest(
        t(s, dir, "events"), to_date(col("ts")), Seq("event_id"))),
      // identical per-day fingerprints, chain replayed as a linear
      // recursive CTE over the day order
      """WITH e AS (SELECT (ts::TIMESTAMP::DATE)::VARCHAR AS bucket,
        |('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT AS h
        |FROM events),
        |d AS (SELECT bucket, count(*)::BIGINT AS n_rows,
        |coalesce(bit_xor(h), 0)::BIGINT AS fp_xor FROM e GROUP BY 1),
        |o AS (SELECT bucket, n_rows, fp_xor,
        |row_number() OVER (ORDER BY bucket)::BIGINT AS rn FROM d),
        |c AS (WITH RECURSIVE k(rn, chain) AS (
        |SELECT 0::BIGINT, ''
        |UNION ALL
        |SELECT o.rn, md5(k.chain || ':' || o.bucket || ':'
        |  || o.n_rows::VARCHAR || ':' || o.fp_xor::VARCHAR)
        |FROM k JOIN o ON o.rn = k.rn + 1)
        |SELECT rn, chain FROM k WHERE rn >= 1)
        |SELECT o.bucket, o.n_rows, o.fp_xor, c.chain AS chain_hash
        |FROM o JOIN c ON c.rn = o.rn""".stripMargin),
    QueryDef("dq1_quarantine", ((s, dir) => {
      // row-level dead-letter routing on a deliberately-perturbed orders
      // feed (s18's FK poison recipe): rejected rows carry a '|'-joined
      // reason list; join-derived facts (FK membership) materialize as
      // flags first, so the verdict itself is a shuffle-free projection
      val customerKeys = t(s, dir, "customer").select(col("c_custkey"))
      val ob = t(s, dir, "orders").withColumn("o_custkey",
        when(col("o_orderkey") % 97 === 0, -col("o_custkey"))
          .otherwise(col("o_custkey")))
      val flagged = ob
        .join(broadcast(customerKeys),
          ob("o_custkey") === customerKeys("c_custkey"), "left")
        .withColumn("fk_ok", col("c_custkey").isNotNull)
      graft.operators.QualityAudit.quarantineRows(flagged,
        Seq("o_orderkey"), Seq(
          "fk_customer" -> col("fk_ok"),
          "price_positive" -> (col("o_totalprice") > 0),
          "orderdate_not_null" -> col("o_orderdate").isNotNull))
    }),
      """WITH ob AS (SELECT o_orderkey,
        |CASE WHEN o_orderkey % 97 = 0 THEN -o_custkey ELSE o_custkey END
        |  AS o_custkey,
        |o_totalprice, o_orderdate FROM orders),
        |j AS (SELECT ob.o_orderkey, ob.o_totalprice, ob.o_orderdate,
        |(c.c_custkey IS NOT NULL) AS fk_ok
        |FROM ob LEFT JOIN customer c ON ob.o_custkey = c.c_custkey),
        |r AS (SELECT o_orderkey, concat_ws('|',
        |CASE WHEN NOT coalesce(fk_ok, false) THEN 'fk_customer' END,
        |CASE WHEN NOT coalesce(o_totalprice > 0, false)
        |  THEN 'price_positive' END,
        |CASE WHEN o_orderdate IS NULL THEN 'orderdate_not_null' END)
        |  AS reasons FROM j)
        |SELECT o_orderkey, reasons FROM r WHERE reasons <> ''""".stripMargin)
  )
}

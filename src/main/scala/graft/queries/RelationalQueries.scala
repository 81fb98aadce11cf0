package graft
package queries

import graft.functions.TextFunctions
import graft.functions.NumericFunctions.fround
import graft.operators.AsOfJoin
import graft.streaming.EventsStreaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `q` family: relational parity (SURVEY §2.8) — TPC-H-style joins,
  * aggregates, windows, SQL-surface shapes and forecasting. */
private[queries] object RelationalQueries {
  import QueryKit._

  /** Month index for the GLOBAL Holt-Winters series (q102/q107/q108)
    * with a LOUD density guard: the positional row_number index silently
    * shifts the seasonal ring and the x[t-12] naive if a calendar month
    * has zero rows (ADVICE r8), so assert max(mx)-min(mx)+1 == n and
    * fail the job on a gap instead. q103's sparse per-group series
    * deliberately keep positional indexing and do not use this. The
    * guard is a window over the already-calendar-sized monthly frame;
    * the oracle needs no mirror because a passing guard is row-neutral. */
  private def gaplessMonthIdx(monthly: DataFrame): DataFrame = {
    // global windows only: the sole users are the dense GLOBAL series
    // (q102/q107/q108); per-group series (q103) are deliberately sparse
    // and keep positional indexing, so no partitioned variant exists
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy("mx")
    monthly
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("dense",
        max(col("mx")).over(wAll) - min(col("mx")).over(wAll) + 1L ===
          count(lit(1)).over(wAll))
      .where(assert_true(col("dense"), lit("month gap in series: " +
        "seasonal alignment would silently shift")).isNull)
      .drop("dense")
  }

  val all: Seq[QueryDef] = Seq(
    // Decimal sums are computed exactly in decimal and cast to DOUBLE at the
    // output boundary: the oracle gate's canonicalization renders both engines'
    // results through pandas, where a decimal column arrives as `Decimal`
    // objects from Spark parquet but float64 from DuckDB — identical values,
    // different renderings. A final double (exactly representable: scaled
    // sums stay far below 2^53) canonicalizes identically on both sides.
    QueryDef("q1_agg", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          fround(sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))),
      """SELECT l_returnflag, l_linestatus,
        |sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
        |sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_base_price,
        |sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE AS sum_disc_price,
        |floor(sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE / count(*) * 10000.0) / 10000.0 AS avg_qty,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q2_join_agg", ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))),
      """SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue,
        |count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    QueryDef("q3_broadcast_join", ((s, dir) =>
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))),
      """SELECT r_name, count(*) AS n_suppliers,
        |sum(CAST(s_acctbal AS DECIMAL(18,2)))::DOUBLE AS sum_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    QueryDef("q4_semi_join", ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer").join(bigOrders, Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin),
    QueryDef("q5_anti_join", ((s, dir) => {
      // customers with no urgent order — same anti-join shape as the
      // archiver's delete-back (D1)
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer").join(urgent, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    }),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin),
    QueryDef("q69_salted_topk_agg", ((s, dir) => {
      // top-k under GROUP-KEY skew: a 3-value grouping column means a
      // plain per-group window sorts a third of the table in ONE task.
      // Salt-and-merge: stage 1 windows over (group, salt) — the hot
      // group's sort spreads across 8 reducers, each keeping only k
      // rows — stage 2 re-ranks the 8k survivors per group (tiny).
      // Same result as the direct window, no single-reducer sort.
      val salts = 8
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
      val order = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      val salted = li.withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag", "salt").orderBy(order: _*)))
        .filter(col("rn") <= 5)
      salted
        .withColumn("rank", row_number().over(
          Window.partitionBy("l_returnflag").orderBy(order: _*)))
        .filter(col("rank") <= 5)
        .select(col("l_returnflag"), col("rank"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    }),
      """SELECT l_returnflag, rank, l_extendedprice, l_orderkey,
        |l_linenumber FROM (
        |SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        |row_number() OVER (PARTITION BY l_returnflag
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rank
        |FROM lineitem) WHERE rank <= 5""".stripMargin),
    QueryDef("q6_window_topk", ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 2""".stripMargin),
    QueryDef("q7_running_sum", ((s, dir) => {
      // quantity/price tiebreaks: the synthetic generator reuses PKs at
      // larger scale factors, so (shipdate, orderkey, linenumber) alone is
      // not a total order; rows identical in ALL ordering columns are safe
      // (the output multiset is order-invariant between them)
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").as("running_qty"))
    }),
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |PARTITION BY l_suppkey
        |ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS running_qty
        |FROM lineitem""".stripMargin),
    QueryDef("q8_topk", ((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),
    QueryDef("q9_setops", ((s, dir) => {
      val cust = t(s, dir, "customer")
      val a = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = cust.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      val c = cust.filter(col("c_acctbal") < 0).select("c_custkey")
      val d = cust.filter(col("c_nationkey") < 15).select("c_custkey")
      a.union(b).distinct().except(c).intersect(d)
    }),
      """WITH ab AS (
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
        |abc AS (SELECT c_custkey FROM ab
        |EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |SELECT c_custkey FROM abc
        |INTERSECT SELECT c_custkey FROM customer WHERE c_nationkey < 15""".stripMargin),
    QueryDef("q10_distinct_agg", ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))),
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q11_approx_distinct", ((s, dir) =>
      // sketch values are engine-specific, so the oracled output is the
      // exact count plus an accuracy gate: the sketch must land within 10%
      // of exact (rsd=0.02 ≈ 5σ headroom — deterministic for fixed data).
      // This upgrades the sketch from a rows-only check to a real oracle.
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts").cast("double") * 0.10).as("approx_ok"))),
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q28_hll_distinct", ((s, dir) => {
      // custom TypedImperativeAggregate sketch (precision 12 => rsd ~1.6%);
      // same oracle shape as q11: exact count + sketch-accuracy gate
      graft.functions.GraftExtensions.register(s)
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_hll")
      s.sql("""SELECT l_returnflag,
              |  count(DISTINCT l_partkey) AS exact_parts,
              |  abs(graft_hll_distinct(l_partkey) - count(DISTINCT l_partkey))
              |    <= count(DISTINCT l_partkey) * 0.10 AS approx_ok
              |FROM lineitem_hll GROUP BY l_returnflag""".stripMargin)
    }),
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q12_rollup", ((s, dir) =>
      t(s, dir, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))),
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q31_cube", ((s, dir) =>
      // full grouping-sets lattice (CUBE) — complements q12's ROLLUP
      t(s, dir, "lineitem").cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))),
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q13_scalar_funcs", ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        // concat (null-propagating, matches SQL ||); concat_ws would skip
        // NULL args and silently diverge from the oracle on null-bearing data
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_prio"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("price_band"),
        coalesce(col("o_orderpriority"), lit("none")).as("prio"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).as("prio_digit"))),
      """SELECT o_orderkey,
        |substr(o_orderpriority, 1, 1) AS prio_code,
        |o_orderstatus || '-' || o_orderpriority AS status_prio,
        |year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
        |CASE WHEN o_totalprice > 300000 THEN 'high'
        |WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS price_band,
        |coalesce(o_orderpriority, 'none') AS prio,
        |regexp_extract(o_orderpriority, '^(\d+)', 1) AS prio_digit
        |FROM orders""".stripMargin),
    QueryDef("q14_events_json", ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),
      """SELECT event_type, count(*) AS n_events,
        |sum(CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT))::BIGINT AS sum_k,
        |min(CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)) AS min_k,
        |max(CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("q15_events_window", ((s, dir) =>
      EventsStreaming.hourlyBatch(t(s, dir, "events"))),
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryDef("q16_sessionize", ((s, dir) =>
      graft.streaming.Sessionize.sessionsBatch(t(s, dir, "events"), gapMinutes = 30)),
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        |l AS (SELECT user_id, event_id, ts, us,
        |lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
        |s AS (SELECT user_id, event_id, ts, us,
        |CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS new_sess FROM l),
        |sid AS (SELECT user_id, ts, sum(new_sess) OVER (
        |PARTITION BY user_id ORDER BY us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM s)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
        |count(*) AS n_events FROM sid GROUP BY user_id, sid""".stripMargin),
    QueryDef("q64_event_paths", ((s, dir) => {
      // session path mining: the top-10 three-step event-type flows inside
      // 30-minute sessions. Islands via the q16 lag/cumsum shape; trigrams
      // via two lead() windows INSIDE the session — no sequence
      // collect_list, so per-row state stays bounded and the whole thing
      // is two user-partitioned window passes plus one count shuffle
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sess = ev
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("new_sess").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // leads run over the SAME user_id window, masked by session-id
      // equality — a (user_id, sid)-partitioned window would be a second
      // full shuffle; this way session flags, ids and trigrams all ride
      // one exchange + one sort (PlanSpec gates it)
      sess
        .withColumn("e2", when(lead(col("sid"), 1).over(wOrd) === col("sid"),
          lead(col("event_type"), 1).over(wOrd)))
        .withColumn("e3", when(lead(col("sid"), 2).over(wOrd) === col("sid"),
          lead(col("event_type"), 2).over(wOrd)))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |event_type FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |ORDER BY us, event_id) AS prev FROM e),
        |sflag AS (SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
        |THEN 1 ELSE 0 END AS new_sess FROM l),
        |sid AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |ORDER BY us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM sflag),
        |tri AS (SELECT event_type AS e1,
        |lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3
        |FROM sid WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)),
        |p AS (SELECT e1 || '>' || e2 || '>' || e3 AS path FROM tri
        |WHERE e3 IS NOT NULL)
        |SELECT path, count(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, path LIMIT 10""".stripMargin),
    QueryDef("q17_full_outer", ((s, dir) => {
      val c = t(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val p = t(s, dir, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      c.join(p, c("c_nationkey") === p("s_nationkey"), "full_outer")
        .select(coalesce(c("c_nationkey"), p("s_nationkey")).as("nationkey"),
          col("n_cust"), col("n_supp"))
    }),
      """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
        |n_cust, n_supp FROM
        |(SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL JOIN
        |(SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.c_nationkey = s.s_nationkey""".stripMargin),
    QueryDef("q18_above_avg", ((s, dir) => {
      // correlated-subquery shape (orders above their customer's average),
      // expressed as a window aggregate: one shuffle, no per-row subquery
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .withColumn("cust_avg", avg(col("o_totalprice")).over(w))
        .filter(col("o_totalprice") > col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
    }),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |SELECT o_orderkey, o_custkey, o_totalprice,
        |avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg FROM orders)
        |WHERE o_totalprice > cust_avg""".stripMargin),
    QueryDef("q19_asof_join", ((s, dir) => {
      val ev = t(s, dir, "events")
      // one right row per (user, ts) for determinism
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("err_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      AsOfJoin.leftAsOf(clicks, errors, "user_id", "ts", Seq("err_id"))
        .select(col("event_id"), col("user_id"), col("asof_err_id"))
    }),
      """WITH errors AS (SELECT user_id, ts, max(event_id) AS err_id
        |FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |clicks AS (SELECT event_id, user_id, ts FROM events
        |WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, e.err_id AS asof_err_id
        |FROM clicks c ASOF LEFT JOIN errors e
        |ON c.user_id = e.user_id AND c.ts >= e.ts""".stripMargin),
    QueryDef("q32_range_join", ((s, dir) => {
      // point-in-interval join via bucketization: overlapping account-
      // balance bands (one per nation, width 2000, step 400) matched to
      // customers by containment — an equi-join on bucket ids, never a
      // nested-loop range comparison
      val bands = t(s, dir, "nation").select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey") * 400.0 - 1000.0).as("lo"),
        (col("n_nationkey") * 400.0 + 1000.0).as("hi"))
      val points = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      graft.operators.RangeJoin.pointInInterval(
          points, "c_acctbal", bands, "lo", "hi", bucketWidth = 500.0)
        .select("c_custkey", "band_id")
    }),
      """SELECT c_custkey, n_nationkey AS band_id
        |FROM customer JOIN nation
        |ON c_acctbal >= n_nationkey * 400.0 - 1000.0
        |AND c_acctbal < n_nationkey * 400.0 + 1000.0""".stripMargin),
    QueryDef("q33_interval_overlap", ((s, dir) => {
      // interval x interval overlap via shared-bucket equi-join with
      // first-overlap-bucket dedup (no distinct over candidates)
      val nb = t(s, dir, "nation").select(
        col("n_nationkey").as("n_band"),
        (col("n_nationkey") * 400.0 - 1000.0).as("n_lo"),
        (col("n_nationkey") * 400.0 + 1000.0).as("n_hi"))
      val rb = t(s, dir, "region").select(
        col("r_regionkey").as("r_band"),
        (col("r_regionkey") * 1500.0 - 2000.0).as("r_lo"),
        (col("r_regionkey") * 1500.0 + 2000.0).as("r_hi"))
      graft.operators.RangeJoin.intervalOverlap(
          nb, "n_lo", "n_hi", rb, "r_lo", "r_hi", bucketWidth = 700.0)
        .select("n_band", "r_band")
    }),
      """SELECT n_nationkey AS n_band, r_regionkey AS r_band
        |FROM nation JOIN region
        |ON n_nationkey * 400.0 - 1000.0 < r_regionkey * 1500.0 + 2000.0
        |AND r_regionkey * 1500.0 - 2000.0 < n_nationkey * 400.0 + 1000.0""".stripMargin),
    QueryDef("q34_exists_subquery", ((s, dir) =>
      // correlated EXISTS / NOT EXISTS — Catalyst decorrelates both into
      // semi/anti joins (RewritePredicateSubquery); the PlanSpec gate
      // asserts no nested-loop survives
      sqlOn(s, dir, Seq("customer", "orders"),
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
          |AND NOT EXISTS (SELECT 1 FROM orders o2
          |  WHERE o2.o_custkey = c.c_custkey
          |  AND o2.o_orderpriority = '1-URGENT')""".stripMargin)),
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |AND NOT EXISTS (SELECT 1 FROM orders o2
        |  WHERE o2.o_custkey = c.c_custkey
        |  AND o2.o_orderpriority = '1-URGENT')""".stripMargin),
    QueryDef("q35_scalar_subquery", ((s, dir) =>
      // correlated scalar subqueries in the select list — decorrelated to
      // left outer aggregate joins; count over an empty group must yield 0
      // (the classic COUNT-bug shape)
      sqlOn(s, dir, Seq("nation", "customer"),
        """SELECT n_nationkey, n_name,
          |(SELECT count(*) FROM customer c
          |  WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
          |(SELECT CAST(floor(coalesce(max(c.c_acctbal), 0.0) * 100.0) / 100.0
          |  AS DOUBLE)
          |  FROM customer c
          |  WHERE c.c_nationkey = n.n_nationkey) AS max_bal
          |FROM nation n""".stripMargin)),
      """SELECT n_nationkey, n_name,
        |(SELECT count(*) FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
        |(SELECT floor(coalesce(max(c.c_acctbal), 0.0) * 100.0) / 100.0
        |  FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey) AS max_bal
        |FROM nation n""".stripMargin),
    QueryDef("q36_range_frame", ((s, dir) => {
      // interval RANGE window frame: per-user trailing-hour event count and
      // value sum. Ordering on unix micros keeps the frame arithmetic
      // integral and engine-portable (events.parquet is TIMESTAMP(NANOS),
      // truncated to micros by Tables.load on the Spark side and by
      // epoch_us on the oracle side). RANGE frames include peers, so
      // duplicate timestamps stay deterministic.
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      t(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double").as("sum_1h"))
    }),
      """SELECT event_id, user_id,
        |count(*) OVER w AS n_1h,
        |(sum(value::DECIMAL(18,2)) OVER w)::DOUBLE AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("q37_setops_all", ((s, dir) => {
      // bag semantics set ops (q9 covers the DISTINCT forms): EXCEPT ALL /
      // INTERSECT ALL preserve multiplicity — one hash shuffle each on the
      // value, no row explosion
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      val b = o.filter(col("o_totalprice") < 100000).select("o_custkey")
      a.exceptAll(b).withColumn("op", lit("except_all"))
        .unionByName(a.intersectAll(b).withColumn("op", lit("intersect_all")))
    }),
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_custkey FROM orders WHERE o_totalprice < 100000)
        |SELECT o_custkey, 'except_all' AS op FROM
        |(SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'intersect_all' AS op FROM
        |(SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)""".stripMargin),
    QueryDef("q38_grouping_sets", ((s, dir) =>
      // explicit GROUPING SETS lattice with grouping() indicators — the
      // general form behind q12's ROLLUP and q31's CUBE; grouping() is cast
      // to BIGINT on both sides (Spark emits TINYINT natively)
      sqlOn(s, dir, Seq("orders"),
        """SELECT o_orderstatus, o_orderpriority,
          |CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          |CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
          |count(*) AS n_orders,
          |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority), ())""".stripMargin)),
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority), ())""".stripMargin),
    QueryDef("q39_lateral", ((s, dir) =>
      // correlated LATERAL subquery with per-group ORDER BY + LIMIT (top-2
      // customers per nation) — the SQL-surface twin of q6's window top-k
      sqlOn(s, dir, Seq("nation", "customer"),
        """SELECT n.n_name, t.c_custkey, t.c_acctbal
          |FROM nation n, LATERAL (
          |  SELECT c_custkey, c_acctbal FROM customer c
          |  WHERE c.c_nationkey = n.n_nationkey
          |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin)),
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n, LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin),
    QueryDef("q42_histogram", ((s, dir) =>
      // equi-width histogram via width_bucket: the plan is one hash
      // aggregation over a scalar binning expression — the distributed
      // histogram shape (no sort, no per-bin pass)
      t(s, dir, "orders").select(
          width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(20))
            .as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_orders"))),
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |WHEN o_totalprice >= 600000.0 THEN 21
        |ELSE floor(o_totalprice / 30000.0)::BIGINT + 1 END AS bin,
        |count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin),
    QueryDef("q43_ordered_set", ((s, dir) =>
      // ordered-set aggregates: discrete + continuous percentiles via
      // WITHIN GROUP — percentile_disc returns an actual data value,
      // percentile_cont interpolates
      sqlOn(s, dir, Seq("orders"),
        """SELECT o_orderstatus,
          |CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
          |  AS DOUBLE) AS p50_disc,
          |CAST(floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
          |  * 100.0) / 100.0 AS DOUBLE) AS p50_cont,
          |CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
          |  AS DOUBLE) AS p90_disc
          |FROM orders GROUP BY o_orderstatus""".stripMargin)),
      """SELECT o_orderstatus,
        |CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
        |  AS DOUBLE) AS p50_disc,
        |CAST(floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
        |  * 100.0) / 100.0 AS DOUBLE) AS p50_cont,
        |CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
        |  AS DOUBLE) AS p90_disc
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    QueryDef("q44_approx_topk", ((s, dir) => {
      // Misra-Gries heavy-hitter sketch (custom TypedImperativeAggregate):
      // with capacity >= the column's distinct count no counter is ever
      // evicted, so the sketch IS the exact count table on any partitioning
      // — which lets the oracle pin exact values, while the sub-capacity
      // regime (underestimate-within-N/(m+1)) is property-tested in
      // MisraGriesSpec
      graft.functions.GraftExtensions.register(s)
      t(s, dir, "events").createOrReplaceTempView("events_mg")
      s.sql("""SELECT mp.event_type, mp.n_events FROM (
              |  SELECT explode(graft_approx_topk(event_type, 64))
              |    AS (event_type, n_events)
              |  FROM events_mg) mp""".stripMargin)
    }),
      // capacity (64) >= distinct event types, so the MG sketch is exactly
      // the count table — the oracle checks real values, not a tolerance
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("q45_kmv_distinct", ((s, dir) => {
      // KMV (bottom-k) distinct sketch: the k smallest multiplicative-hash
      // values per group; estimate = (k-1) / h_k normalized. Unlike HLL the
      // summary itself is engine-portable integer arithmetic, so the oracle
      // matches the sketch CONTENTS bit-for-bit, not just an accuracy gate.
      // Bottom-k is selected with a rank-limited window over DISTINCT
      // hashes — bounded per-group state, never a collect_set of every
      // distinct value into one aggregation buffer
      val k = 16
      val h = pmod(col("o_custkey") * lit(2654435761L), lit(2147483648L))
      val hashed = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_custkey"), h.as("h"))
      val bottomK = hashed.select("o_orderpriority", "h").distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderpriority").orderBy("h")))
        .filter(col("rn") <= k)
        .groupBy("o_orderpriority")
        .agg(sort_array(collect_list(col("h"))).as("kmv"))
      bottomK
        .join(hashed.groupBy("o_orderpriority")
          .agg(countDistinct(col("o_custkey")).as("exact_distinct")),
          "o_orderpriority")
        .select(col("o_orderpriority"),
          array_join(transform(col("kmv"), x => x.cast("string")), ",")
            .as("kmv_sketch"),
          fround(when(size(col("kmv")) < k,
              size(col("kmv")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(2147483648.0) /
              element_at(col("kmv"), k).cast("double")), 2)
            .as("est_distinct"),
          col("exact_distinct"))
    }),
      """WITH h AS (SELECT o_orderpriority, o_custkey,
        |(o_custkey * 2654435761) % 2147483648 AS h FROM orders),
        |g AS (SELECT o_orderpriority,
        |list_sort(list(DISTINCT h))[1:16] AS kmv,
        |count(DISTINCT o_custkey) AS exact_distinct FROM h GROUP BY 1)
        |SELECT o_orderpriority,
        |array_to_string(kmv, ',') AS kmv_sketch,
        |floor((CASE WHEN len(kmv) < 16 THEN len(kmv)::DOUBLE
        |  ELSE 15.0 * 2147483648.0 / kmv[16] END) * 100.0) / 100.0
        |  AS est_distinct,
        |exact_distinct
        |FROM g""".stripMargin),
    QueryDef("q54_streaks", ((s, dir) => {
      // gaps-and-islands: consecutive-day activity streaks per user via
      // the day_index - row_number constant-key trick; one shuffle on
      // user_id feeds both windows and the final reduction
      val days = t(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1990-01-01")).as("di"))
        .distinct()
      val keyed = days.withColumn("streak_key",
        col("di") - row_number().over(
          Window.partitionBy("user_id").orderBy("di")))
      val streaks = keyed.groupBy("user_id", "streak_key")
        .agg(count(lit(1)).as("len"), min(col("di")).as("start_day"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("len").desc, col("start_day"))
      streaks.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("len").as("longest_streak"),
          col("start_day").as("streak_start_day"))
    }),
      """WITH days AS (SELECT DISTINCT user_id,
        |datediff('day', DATE '1990-01-01', ts::DATE) AS di FROM events),
        |keyed AS (SELECT user_id, di, di - row_number() OVER (
        |  PARTITION BY user_id ORDER BY di) AS streak_key FROM days),
        |streaks AS (SELECT user_id, streak_key, count(*) AS len,
        |min(di) AS start_day FROM keyed GROUP BY 1, 2)
        |SELECT user_id, len AS longest_streak, start_day AS streak_start_day
        |FROM (SELECT user_id, len, start_day, row_number() OVER (
        |  PARTITION BY user_id ORDER BY len DESC, start_day) AS rn
        |  FROM streaks) WHERE rn = 1""".stripMargin),
    QueryDef("q90_markov_stationary", ((s, dir) => {
      // stationary distribution of the q55 behavior chain: 5 power-
      // method iterations in g1's integer micro-units — dampingPct=100
      // makes pageRankInt the PURE power method (teleport 0, damped
      // mass x*100 div 100 = x exactly); the "where do user journeys
      // spend their time" readout
      val prev = lag(col("event_type"), 1).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
      val edges = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev_type", prev)
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("w"))
      graft.operators.Graph.pageRankInt(edges, "prev_type", "next_type",
          "w", iterations = 5, dampingPct = 100)
        .select(col("node").as("event_type"), col("rank_u").as("pi_u"))
    }), {
      // g1's unrolled fixed point at damping 100: teleport term is 0 and
      // the damped term collapses to the raw contribution sum exactly
      val head =
        """WITH ev AS (SELECT user_id, ts, event_id, event_type,
          |lag(event_type) OVER (PARTITION BY user_id
          |ORDER BY ts, event_id) AS prev_type FROM events),
          |e0 AS (SELECT prev_type AS src, event_type AS dst,
          |count(*)::BIGINT AS w FROM ev WHERE prev_type IS NOT NULL
          |GROUP BY 1, 2),
          |ow AS (SELECT src, sum(w)::BIGINT AS out_w FROM e0 GROUP BY 1),
          |e AS (SELECT e0.src, e0.dst, e0.w, ow.out_w FROM e0
          |JOIN ow USING (src)),
          |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
          |p AS (SELECT count(*)::BIGINT AS n FROM nodes),
          |r0 AS (SELECT node, (1000000000000 // p.n)::BIGINT AS r
          |FROM nodes, p)""".stripMargin
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT nd.node,
           |((coalesce(c.s, 0) * 100) // 100)::BIGINT AS r
           |FROM nodes nd LEFT JOIN
           |(SELECT e.dst AS node, sum((r.r * e.w) // e.out_w)::BIGINT AS s
           |FROM r${k - 1} r JOIN e ON e.src = r.node GROUP BY 1) c
           |ON c.node = nd.node)""".stripMargin
      }.mkString(",\n")
      head + ",\n" + iters +
        "\nSELECT node AS event_type, r AS pi_u FROM r5"
    }),
    QueryDef("q55_transitions", ((s, dir) => {
      // first-order event-type transition matrix (Markov edge counts):
      // lag over the per-user timeline, then one aggregation
      val prev = lag(col("event_type"), 1).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", prev)
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
    }),
      """SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        |FROM (SELECT event_type, lag(event_type) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin),
    QueryDef("q52_winsorize", ((s, dir) => {
      // winsorization: clip each group's values at its own p01/p99 — the
      // standard outlier-robust cleaning pass. The percentile pair is one
      // tiny per-group aggregate broadcast back onto the fact rows
      val p = t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.01)").as("p01"),
          expr("percentile(o_totalprice, 0.99)").as("p99"))
      t(s, dir, "orders").join(broadcast(p), "o_orderpriority")
        .withColumn("clipped",
          least(greatest(col("o_totalprice"), col("p01")), col("p99")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_raw"),
          fround(sum(col("clipped").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_winsorized"))
    }),
      """WITH p AS (SELECT o_orderpriority,
        |quantile_cont(o_totalprice, 0.01) AS p01,
        |quantile_cont(o_totalprice, 0.99) AS p99
        |FROM orders GROUP BY 1)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw,
        |floor(CAST(sum(CAST(least(greatest(o_totalprice, p01), p99)
        |  AS DECIMAL(18,2))) AS DOUBLE) * 100.0) / 100.0 AS sum_winsorized
        |FROM orders JOIN p USING (o_orderpriority)
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q53_argminmax", ((s, dir) =>
      // arg-extremes: the id carrying each group's max/min value (max_by /
      // min_by; DuckDB arg_max/arg_min). Extreme prices are unique per
      // group in the fixtures at both test scales, so no tie ambiguity
      // crosses the engine boundary
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(max_by(col("o_orderkey"), col("o_totalprice")).as("top_order"),
          min_by(col("o_orderkey"), col("o_totalprice")).as("bottom_order"),
          fround(max(col("o_totalprice")), 2).as("top_price"))),
      """SELECT o_orderpriority,
        |arg_max(o_orderkey, o_totalprice) AS top_order,
        |arg_min(o_orderkey, o_totalprice) AS bottom_order,
        |floor(max(o_totalprice) * 100.0) / 100.0 AS top_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q51_share_of_total", ((s, dir) => {
      // percent-of-total via a partition-spanning window over the grouped
      // aggregate: two shuffles total (group, then the unpartitioned window
      // over the tiny aggregate — constant rows, never the fact table)
      val g = t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      // divide as DOUBLE: decimal/decimal division scale rules differ
      // across engines; the decimal SUMS are exact, their double casts
      // identical, and double division is IEEE-deterministic
      g.select(col("l_returnflag"), col("l_linestatus"),
          col("qty").cast("double").as("sum_qty"),
          fround(col("qty").cast("double") /
            sum(col("qty")).over(Window.partitionBy()).cast("double"), 6)
            .as("share"))
    }),
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, qty::DOUBLE AS sum_qty,
        |floor(qty::DOUBLE / (sum(qty) OVER ())::DOUBLE * 1000000.0)
        |  / 1000000.0 AS share
        |FROM g""".stripMargin),
    QueryDef("q46_unpivot", ((s, dir) =>
      // wide-to-long melt: four measure columns become (metric, val) rows —
      // one narrow Expand projection, no shuffle
      t(s, dir, "lineitem").unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "val")),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  l_quantity AS val FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |  l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |  l_tax FROM lineitem""".stripMargin),
    QueryDef("q47_running_distinct", ((s, dir) => {
      // running COUNT(DISTINCT) over an ordered window — not directly
      // expressible in either engine; the standard two-window reduction:
      // mark each (event_type, user_id)'s first occurrence, then running-sum
      // the markers. Both windows shuffle on the same event_type key.
      val firstSeen = row_number().over(Window
        .partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("ts"), col("event_id")))
      val running = sum(when(col("rn") === 1, 1L).otherwise(0L)).over(Window
        .partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"), col("user_id"))
        .withColumn("rn", firstSeen)
        .withColumn("users_so_far", running)
        .select("event_id", "event_type", "users_so_far")
    }),
      """SELECT event_id, event_type,
        |(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
        |  PARTITION BY event_type ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |  AS users_so_far
        |FROM (SELECT event_id, event_type, ts,
        |  row_number() OVER (PARTITION BY event_type, user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM events)""".stripMargin),
    QueryDef("q48_mode", ((s, dir) =>
      // mode() aggregate — modes are unique in the fixtures (no tie
      // nondeterminism crosses the engine boundary)
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.mode(col("l_linestatus")).as("status_mode"),
          count(lit(1)).as("n_rows"))),
      """SELECT l_returnflag, mode(l_linestatus) AS status_mode,
        |count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q49_stats_agg", ((s, dir) =>
      // second-moment statistics: correlation, covariance, stddev, variance
      // — single-pass mergeable aggregates (Welford-style merge), truncated
      // below the engines' float-merge-order noise floor
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(
          fround(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
          fround(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_cov"),
          fround(stddev_pop(col("l_extendedprice")), 2).as("price_sd"),
          fround(var_pop(col("l_quantity")), 4).as("qty_var"))),
      """SELECT l_returnflag,
        |floor(corr(l_quantity, l_extendedprice) * 10000.0) / 10000.0
        |  AS qty_price_corr,
        |floor(covar_pop(l_quantity, l_extendedprice) * 100.0) / 100.0
        |  AS qty_price_cov,
        |floor(stddev_pop(l_extendedprice) * 100.0) / 100.0 AS price_sd,
        |floor(var_pop(l_quantity) * 10000.0) / 10000.0 AS qty_var
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q41_recursive_cte", ((s, dir) =>
      // recursive CTE month spine (Spark 4 WITH RECURSIVE) + calendar fill:
      // empty months surface with zero counts — the gap-filling reporting
      // shape a plain GROUP BY cannot produce
      sqlOn(s, dir, Seq("orders"),
        """WITH RECURSIVE spine(m) AS (
          |  SELECT TIMESTAMP '1995-01-01 00:00:00'
          |  UNION ALL
          |  SELECT m + INTERVAL 1 MONTH FROM spine
          |  WHERE m < TIMESTAMP '2001-08-01 00:00:00'
          |),
          |agg AS (SELECT date_trunc('month', o_orderdate) AS m,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |  FROM orders GROUP BY 1)
          |SELECT spine.m AS month_start,
          |coalesce(agg.n_orders, 0) AS n_orders,
          |coalesce(agg.sum_price, CAST(0 AS DOUBLE)) AS sum_price
          |FROM spine LEFT JOIN agg ON spine.m = agg.m""".stripMargin)),
      """WITH RECURSIVE spine(m) AS (
        |  SELECT TIMESTAMP '1995-01-01 00:00:00'
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH FROM spine
        |  WHERE m < TIMESTAMP '2001-08-01 00:00:00'
        |),
        |agg AS (SELECT date_trunc('month', o_orderdate) AS m,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY 1)
        |SELECT spine.m AS month_start,
        |coalesce(agg.n_orders, 0) AS n_orders,
        |coalesce(agg.sum_price, CAST(0 AS DOUBLE)) AS sum_price
        |FROM spine LEFT JOIN agg ON spine.m = agg.m""".stripMargin),
    QueryDef("q40_window_nav", ((s, dir) => {
      // navigation window functions: percent_rank/cume_dist (default
      // growing frame) and first/last/nth_value over the full partition —
      // last_value needs the explicit unbounded frame on both engines
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        fround(percent_rank().over(w), 6).as("pr"),
        fround(cume_dist().over(w), 6).as("cd"),
        first_value(col("o_orderkey")).over(wf).as("first_key"),
        last_value(col("o_orderkey")).over(wf).as("last_key"),
        nth_value(col("o_orderkey"), 2).over(wf).as("second_key"))
    }),
      """SELECT o_orderkey, o_orderpriority,
        |floor(percent_rank() OVER w * 1000000.0) / 1000000.0 AS pr,
        |floor(cume_dist() OVER w * 1000000.0) / 1000000.0 AS cd,
        |first_value(o_orderkey) OVER wf AS first_key,
        |last_value(o_orderkey) OVER wf AS last_key,
        |nth_value(o_orderkey, 2) OVER wf AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey),
        |wf AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    QueryDef("q19b_asof_tolerance", ((s, dir) => {
      // bounded-staleness as-of: a prior error older than 30 minutes no
      // longer enriches the click (the market-data/log-enrichment form)
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("err_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      AsOfJoin.leftAsOf(clicks, errors, "user_id", "ts", Seq("err_id"),
          toleranceSeconds = Some(1800L))
        .select(col("event_id"), col("user_id"), col("asof_err_id"))
    }),
      """WITH errors AS (SELECT user_id, ts, max(event_id) AS err_id
        |FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        |clicks AS (SELECT event_id, user_id, ts FROM events
        |WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id,
        |CASE WHEN e.ts >= c.ts - INTERVAL 30 MINUTE THEN e.err_id END AS asof_err_id
        |FROM clicks c ASOF LEFT JOIN errors e
        |ON c.user_id = e.user_id AND c.ts >= e.ts""".stripMargin),
    QueryDef("q20_salted_join", ((s, dir) => {
      // skew-resistant salted join — result must equal the plain join
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", "o_orderstatus")
      // saltCols: a cheap row-distinguishing subset (content-hashed salt
      // must be recomputation-stable; see saltedJoin scaladoc)
      graft.operators.JoinStrategies.saltedJoin(li, orders, Seq("l_orderkey"), 8,
          saltCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
      """SELECT o_orderstatus, count(*) AS n_items,
        |sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin),
    QueryDef("q20b_skew_split_join", ((s, dir) => {
      // hybrid skew join: sampled hot keys get salted, the tail joins
      // plain — same result as the plain join (the oracle), different
      // shuffle distribution
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", "o_orderstatus")
      val hot = graft.operators.JoinStrategies.sampleHotKeys(
        li, Seq("l_orderkey"), fraction = 0.01, minShare = 0.01)
      graft.operators.JoinStrategies.skewSplitJoin(li, orders,
          Seq("l_orderkey"), 8, hot,
          saltCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
      """SELECT o_orderstatus, count(*) AS n_items,
        |sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin),
    QueryDef("q21_percentile", ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(
          fround(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          fround(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          count(lit(1)).as("n"))),
      """SELECT o_orderpriority,
        |floor(quantile_cont(o_totalprice, 0.5) * 100.0) / 100.0 AS p50,
        |floor(quantile_cont(o_totalprice, 0.9) * 100.0) / 100.0 AS p90,
        |count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q22_pivot", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")))
        .withColumn("F", col("F").cast("double"))
        .withColumn("O", col("O").cast("double"))),
      """SELECT l_returnflag,
        |sum(CASE WHEN l_linestatus = 'F'
        |  THEN CAST(l_quantity AS DECIMAL(18,2)) END)::DOUBLE AS "F",
        |sum(CASE WHEN l_linestatus = 'O'
        |  THEN CAST(l_quantity AS DECIMAL(18,2)) END)::DOUBLE AS "O"
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q23_null_semantics", ((s, dir) =>
      // NULL-handling parity: injected nulls, null-safe equality, and
      // null-aware aggregation (count vs count(col))
      t(s, dir, "orders")
        .withColumn("status_n", nullif(col("o_orderstatus"), lit("P")))
        .groupBy(col("status_n").eqNullSafe("F").as("is_f"))
        .agg(count(lit(1)).as("n_rows"), count(col("status_n")).as("n_nonnull"),
          countDistinct(col("status_n")).as("n_distinct"))),
      """SELECT (nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F') AS is_f,
        |count(*) AS n_rows, count(nullif(o_orderstatus, 'P')) AS n_nonnull,
        |count(DISTINCT nullif(o_orderstatus, 'P')) AS n_distinct
        |FROM orders GROUP BY 1""".stripMargin),
    QueryDef("q24_lead_lag_ntile", ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("first_order"))
    }),
      """SELECT o_orderkey, o_custkey,
        |lag(o_orderkey, 1) OVER w AS prev_order,
        |lead(o_orderkey, 1) OVER w AS next_order,
        |ntile(4) OVER w AS quartile,
        |first_value(o_orderkey) OVER (PARTITION BY o_custkey
        |ORDER BY o_orderdate, o_orderkey
        |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
    QueryDef("q25_array_agg", ((s, dir) =>
      // the list itself is serialized to a CSV string at the output boundary:
      // the oracle gate canonicalizes through pandas, which cannot sort/hash raw
      // array cells — the array ops (sort_array/array_contains/element_at)
      // still run on the real array column
      t(s, dir, "orders").groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ok_arr"),
          count(lit(1)).as("n_orders"))
        .withColumn("has_first", array_contains(col("ok_arr"),
          element_at(col("ok_arr"), 1)))
        .select(col("o_custkey"),
          array_join(col("ok_arr").cast("array<string>"), ",").as("order_keys"),
          col("n_orders"), col("has_first"))),
      """SELECT o_custkey,
        |array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
        |count(*) AS n_orders,
        |list_contains(list_sort(list(o_orderkey)), list_sort(list(o_orderkey))[1]) AS has_first
        |FROM orders GROUP BY o_custkey""".stripMargin),
    QueryDef("q26_from_json_struct", ((s, dir) =>
      // typed JSON parsing into a struct column (vs q14's path extraction)
      t(s, dir, "events")
        .withColumn("props_s", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy("event_type")
        .agg(sum(col("props_s.k").cast("long")).as("sum_k"),
          count(when(col("props_s.k") > 50, 1)).as("n_high"))),
      """SELECT event_type,
        |sum(CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT))::BIGINT AS sum_k,
        |count(CASE WHEN CAST(regexp_extract(props, '(\d+)', 1) AS INT) > 50
        |THEN 1 END) AS n_high
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("q27_posexplode", ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      docs.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents
         |WHERE doc_id < 20)
         |SELECT doc_id, i - 1 AS pos, t[i::INT] AS token
         |FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)""".stripMargin),
    QueryDef("q29_funnel", ((s, dir) => {
      // ordered conversion funnel view -> click -> purchase: each stage's
      // timestamp must strictly follow the previous stage's first hit.
      // Three narrow per-user aggregations chained by broadcast-able joins
      // (150 users at test scale; at 100 TB the user-keyed aggs shuffle
      // once each and the joins co-locate on the same key)
      val ev = t(s, dir, "events")
      def firstOf(tpe: String) = ev.filter(col("event_type") === tpe)
      val v = firstOf("view").groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val c = firstOf("click").join(v, "user_id")
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min(col("ts")).as("t_click"))
      val p = firstOf("purchase").join(c, "user_id")
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
      v.agg(count(lit(1)).as("n_view")).crossJoin(
        c.agg(count(lit(1)).as("n_click"))).crossJoin(
        p.agg(count(lit(1)).as("n_purchase")))
    }),
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |JOIN v ON e.user_id = v.user_id
        |WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |JOIN c ON e.user_id = c.user_id
        |WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |(SELECT count(*) FROM c) AS n_click,
        |(SELECT count(*) FROM p) AS n_purchase""".stripMargin),
    QueryDef("q30_cohort_retention", ((s, dir) => {
      // weekly signup cohorts + week-2 retention ([7d, 14d) after first
      // event): two shuffles on user_id, one on the cohort week
      val ev = t(s, dir, "events")
      val first = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      val retained = ev.join(first, "user_id")
        .filter(col("ts") >= col("first_ts") + expr("INTERVAL 7 DAY") &&
          col("ts") < col("first_ts") + expr("INTERVAL 14 DAY"))
        .select("user_id").distinct().withColumn("retained", lit(1))
      first
        .withColumn("cohort_week", date_trunc("week", col("first_ts")))
        .join(retained, Seq("user_id"), "left")
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("retained"), lit(0))).as("n_retained"))
    }),
      """WITH first AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        |ret AS (SELECT DISTINCT e.user_id FROM events e
        |JOIN first f ON e.user_id = f.user_id
        |WHERE e.ts >= f.first_ts + INTERVAL 7 DAY
        |AND e.ts < f.first_ts + INTERVAL 14 DAY)
        |SELECT date_trunc('week', first_ts) AS cohort_week,
        |count(*) AS n_users,
        |sum(CASE WHEN ret.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_retained
        |FROM first LEFT JOIN ret ON first.user_id = ret.user_id
        |GROUP BY 1""".stripMargin),
    QueryDef("q50_preagg_join", ((s, dir) => {
      // aggregate-below-join: per-order revenue is reduced BEFORE joining
      // order metadata, so the join shuffle carries one row per order
      // instead of one per lineitem — the canonical shuffle-volume
      // optimization for fact-to-fact rollups
      val rev = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"), count(lit(1)).as("n_items"))
      t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .join(rev, "l_orderkey")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("revenue").cast("decimal(18,2)")).cast("double")
            .as("total_revenue"),
          sum(col("n_items")).as("total_items"))
    }),
      """WITH rev AS (SELECT l_orderkey,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |count(*) AS n_items FROM lineitem GROUP BY 1)
        |SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |CAST(sum(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |sum(n_items)::BIGINT AS total_items
        |FROM orders JOIN rev ON rev.l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("q87_cuped_readout", ((s, dir) =>
      // CUPED variance-reduced experiment readout (Deng et al. 2013):
      // post-period conversions adjusted by the pre-period activity
      // covariate, pooled theta in integer ppm, per-arm raw vs adjusted
      // variance and the achieved reduction — nothing after the
      // user-grain combine grows with |events|
      graft.operators.Experiment.cupedReadout(
        t(s, dir, "events"), "user_id", "ts", "event_type", "purchase")),
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu
        |FROM events WHERE ts IS NOT NULL),
        |sp AS (SELECT min(tu)::BIGINT AS lo, max(tu)::BIGINT AS hi FROM ev),
        |md AS (SELECT lo + (hi - lo) // 2 AS mid FROM sp),
        |u AS (SELECT user_id,
        |sum(CASE WHEN tu < mid THEN 1 ELSE 0 END)::BIGINT AS x,
        |sum(CASE WHEN tu >= mid AND event_type = 'purchase'
        |  THEN 1 ELSE 0 END)::BIGINT AS y
        |FROM ev CROSS JOIN md GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |sum(x * x)::BIGINT AS sxx FROM u),
        |th AS (SELECT n, sx // greatest(n, 1) AS xbar,
        |((n * sxy - sx * sy) * 1000000)
        |  // greatest(n * sxx - sx * sx, 1) AS theta_ppm FROM st),
        |adj AS (SELECT
        |CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
        |  AS arm,
        |theta_ppm, y * 100 AS y_c,
        |y * 100 - (theta_ppm * (x - xbar)) // 10000 AS yadj_c
        |FROM u CROSS JOIN th),
        |g AS (SELECT arm, theta_ppm, count(*)::BIGINT AS n_users,
        |sum(y_c)::BIGINT AS syc, sum(y_c * y_c)::BIGINT AS sycc,
        |sum(yadj_c)::BIGINT AS sac, sum(yadj_c * yadj_c)::BIGINT AS sacc
        |FROM adj GROUP BY 1, 2),
        |f AS (SELECT arm, n_users, theta_ppm,
        |syc // n_users AS mean_y_centi,
        |(n_users * sycc - syc * syc) // (n_users * n_users)
        |  AS var_y_centi2,
        |sac // n_users AS mean_yadj_centi,
        |(n_users * sacc - sac * sac) // (n_users * n_users)
        |  AS var_yadj_centi2
        |FROM g)
        |SELECT arm, n_users, theta_ppm, mean_y_centi, var_y_centi2,
        |mean_yadj_centi, var_yadj_centi2,
        |((var_y_centi2 - var_yadj_centi2) * 1000000)
        |  // greatest(var_y_centi2, 1) AS var_reduction_ppm
        |FROM f""".stripMargin),
    QueryDef("q77_bootstrap_ci", ((s, dir) =>
      // deterministic subsampling CI (Politis-Romano) for the corpus mean
      // doc length: md5-parity half-samples, one map-side-combined agg
      // per replicate, constant-size quantile step — uncertainty
      // quantification with a bit-for-bit SQL oracle
      graft.operators.Bootstrap.subsampleMeanCI(
        t(s, dir, "documents"), "doc_id", "n_chars")),
      """WITH rep AS (SELECT r, n_chars FROM documents, range(0, 32) rr(r)
        |WHERE ('0x' || substr(md5(r::VARCHAR || ':' || doc_id::VARCHAR),
        |  1, 8))::BIGINT % 2 = 0),
        |means AS (SELECT r,
        |floor(sum(n_chars)::DOUBLE / count(*) * 10000.0) / 10000.0 AS m
        |FROM rep GROUP BY 1),
        |ranked AS (SELECT m,
        |row_number() OVER (ORDER BY m, r) AS rn FROM means),
        |o AS (SELECT
        |floor(sum(n_chars)::DOUBLE / count(*) * 10000.0) / 10000.0
        |  AS est_mean FROM documents)
        |SELECT 32 AS n_replicates, o.est_mean,
        |(SELECT m FROM ranked WHERE rn = 2) AS lo95,
        |(SELECT m FROM ranked WHERE rn = 31) AS hi95
        |FROM o""".stripMargin),
    QueryDef("q78_seasonal_decompose", ((s, dir) =>
      // classical additive decomposition of hourly activity: hour-of-day
      // seasonal mean + centered 25h moving-average trend + residual;
      // per-key windows only, explicit floored integer-sum divisions
      graft.operators.TimeSeries.seasonalDecompose(
        t(s, dir, "events").filter(col("ts").isNotNull))),
      """WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |count(*)::BIGINT AS n FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2),
        |se AS (SELECT event_type, extract(hour FROM h)::INT AS hod,
        |floor(sum(n)::DOUBLE / count(*) * 10000.0) / 10000.0 AS seasonal
        |FROM hc GROUP BY 1, 2),
        |tr AS (SELECT event_type, h, n, extract(hour FROM h)::INT AS hod,
        |floor(sum(n) OVER w::DOUBLE / count(n) OVER w * 10000.0) / 10000.0
        |  AS trend
        |FROM hc WINDOW w AS (PARTITION BY event_type ORDER BY h
        |ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING))
        |SELECT tr.event_type, tr.h, tr.n, se.seasonal, tr.trend,
        |floor((tr.n - se.seasonal - tr.trend) * 10000.0) / 10000.0 AS resid
        |FROM tr JOIN se
        |ON se.event_type = tr.event_type AND se.hod = tr.hod""".stripMargin),
    QueryDef("q79_cusum_changepoint", ((s, dir) =>
      // CUSUM level-shift detection (Page 1954): argmax of the
      // mean-centered cumulative deviation, scaled by the bucket count so
      // the whole statistic stays in integer arithmetic
      graft.operators.TimeSeries.cusumChangepoint(
        t(s, dir, "events").filter(col("ts").isNotNull))),
      """WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |count(*)::BIGINT AS n FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2),
        |sc AS (SELECT event_type, h,
        |abs((count(*) OVER wa) * (sum(n) OVER wo)
        |  - (row_number() OVER wo) * (sum(n) OVER wa))::BIGINT AS s_abs
        |FROM hc WINDOW
        |wo AS (PARTITION BY event_type ORDER BY h
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |wa AS (PARTITION BY event_type))
        |SELECT event_type, h AS cp_h, s_abs FROM (
        |SELECT event_type, h, s_abs, row_number() OVER
        |(PARTITION BY event_type ORDER BY s_abs DESC, h) AS rn FROM sc)
        |WHERE rn = 1""".stripMargin),
    QueryDef("q81_retention_matrix", ((s, dir) => {
      // the full cohort-retention triangle (q30 generalized from one
      // cohort to the matrix): users grouped by first-activity week,
      // distinct actives per (cohort_week, age_week) — two hash
      // aggregations and one equi-join, integer week arithmetic in UTC
      val e = t(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      val firstW = e.groupBy("user_id").agg(min(col("w")).as("cw"))
      e.join(firstW, "user_id")
        .groupBy(col("cw").as("cohort_week"),
          ((unix_micros(col("w")) - unix_micros(col("cw")))
            / 604800000000L).cast("long").as("age_week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
      """WITH e AS (SELECT user_id, date_trunc('week', ts) AS w
        |FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT user_id, min(w) AS cw FROM e GROUP BY 1)
        |SELECT cw AS cohort_week,
        |(epoch_us(w) - epoch_us(cw)) // 604800000000 AS age_week,
        |count(DISTINCT e.user_id)::BIGINT AS n_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin),
    QueryDef("q80_position_attribution", ((s, dir) => {
      // U-shaped (position-based) multi-touch attribution: each user's
      // touches before their FIRST purchase split 1e6 ppm of credit
      // 40/20/40 (first / evenly-among-middles / last), integer
      // arithmetic with the division remainder assigned to the earliest
      // middles — deterministic on any engine. Complements q74's
      // last-touch rule.
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
      val wFp = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val fp = ev.filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("fp_ts"),
          col("event_id").as("fp_id"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .join(fp, "user_id")
        .filter(col("ts") < col("fp_ts") ||
          (col("ts") === col("fp_ts") && col("event_id") < col("fp_id")))
      val wT = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val wN = Window.partitionBy("user_id")
      touches
        .withColumn("i", row_number().over(wT).cast("long"))
        .withColumn("n", count(lit(1)).over(wN))
        .withColumn("credit_ppm",
          when(col("n") === 1, 1000000L)
            .when(col("n") === 2, 500000L)
            .when(col("i") === 1 || col("i") === col("n"), 400000L)
            .otherwise(expr("200000 div (n - 2)") +
              when(col("i") - 1 <= expr("200000 % (n - 2)"), 1L)
                .otherwise(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_ppm")).as("credit_ppm"))
    }),
      """WITH e AS (SELECT user_id, event_id, ts, event_type FROM events
        |WHERE ts IS NOT NULL),
        |fp AS (SELECT user_id, ts AS fp_ts, event_id AS fp_id FROM (
        |SELECT user_id, ts, event_id,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS rn FROM e WHERE event_type = 'purchase') WHERE rn = 1),
        |t AS (SELECT e.user_id, e.event_id, e.ts, e.event_type
        |FROM e JOIN fp USING (user_id)
        |WHERE e.event_type <> 'purchase' AND (e.ts < fp.fp_ts
        |  OR (e.ts = fp.fp_ts AND e.event_id < fp.fp_id))),
        |c AS (SELECT event_type,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS i,
        |count(*) OVER (PARTITION BY user_id) AS n FROM t)
        |SELECT event_type, count(*)::BIGINT AS n_touches,
        |sum(CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
        |WHEN i = 1 OR i = n THEN 400000
        |ELSE 200000 // (n - 2) +
        |  (CASE WHEN i - 1 <= 200000 % (n - 2) THEN 1 ELSE 0 END)
        |END)::BIGINT AS credit_ppm
        |FROM c GROUP BY 1""".stripMargin),
    QueryDef("q91_theilsen", ((s, dir) => {
      // Theil-Sen robust revenue trend per order priority: median of
      // pairwise slopes over the MONTHLY aggregate (84 calendar months
      // — the O(n^2) pair join is calendar-bounded by construction,
      // never data-sized), integer cents, micro-unit slopes, lower
      // median under a total order — engine-exact robust drift
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mx"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      graft.operators.TimeSeries.theilSen(monthly, "priority", "mx",
          "cents")
        .withColumnRenamed("key", "priority")
    }),
      """WITH monthly AS (SELECT o_orderpriority AS priority,
        |(year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1, 2),
        |pairs AS (SELECT a.priority, a.mx AS x1, b.mx AS x2,
        |((b.cents - a.cents) * 1000000) // (b.mx - a.mx) AS slope_micro
        |FROM monthly a JOIN monthly b
        |ON a.priority = b.priority AND a.mx < b.mx),
        |ranked AS (SELECT priority, slope_micro,
        |row_number() OVER (PARTITION BY priority
        |  ORDER BY slope_micro, x1, x2) AS rn,
        |count(*) OVER (PARTITION BY priority)::BIGINT AS n_pairs
        |FROM pairs),
        |nb AS (SELECT priority, count(*)::BIGINT AS n_buckets
        |FROM monthly GROUP BY 1)
        |SELECT r.priority, nb.n_buckets, r.n_pairs,
        |r.slope_micro AS median_slope_micro
        |FROM ranked r JOIN nb USING (priority)
        |WHERE rn = (n_pairs + 1) // 2""".stripMargin),
    QueryDef("q92_markov_attribution", ((s, dir) => {
      // Markov removal-effect attribution (Anderl et al. 2014): build
      // the first-order journey chain (distributed windows + one agg —
      // the q55 plan), then credit each channel by the drop in START's
      // absorption probability when that channel is pinned to zero.
      // The K=16 fixed point runs on the collected transition matrix —
      // bounded by (event types + 3)^2 BY CONSTRUCTION — in exact
      // integer micro-units the oracle unrolls CTE-for-CTE
      val trans = graft.operators.Attribution.journeyTransitions(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        "purchase")
      graft.operators.Attribution.removalEffects(trans, iterations = 16)
    }), {
      // the g1/g7 unrolled-iteration discipline applied to the
      // absorption fixed point: one CTE per step, scenario ('remove
      // channel c' / '__none__') carried as a column, clamps identical
      // to Attribution.removalEffects — bit-exact at every k
      val head =
        """WITH ev AS (SELECT user_id AS u, ts, event_id AS eid,
          |event_type AS et FROM events),
          |fp AS MATERIALIZED (SELECT u, ts AS fp_ts, eid AS fp_id FROM (
          |SELECT u, ts, eid, row_number() OVER (PARTITION BY u
          |  ORDER BY ts, eid) AS rn FROM ev WHERE et = 'purchase')
          |WHERE rn = 1),
          |touches AS MATERIALIZED (SELECT e.u, e.ts, e.eid, e.et,
          |fp.u IS NOT NULL AS converted
          |FROM ev e LEFT JOIN fp ON e.u = fp.u
          |WHERE e.et <> 'purchase' AND (fp.u IS NULL
          |  OR e.ts < fp.fp_ts
          |  OR (e.ts = fp.fp_ts AND e.eid < fp.fp_id))),
          |seq AS (SELECT u, et, converted,
          |lag(et) OVER (PARTITION BY u ORDER BY ts, eid) AS prev,
          |row_number() OVER (PARTITION BY u ORDER BY ts, eid) AS i,
          |count(*) OVER (PARTITION BY u) AS m FROM touches),
          |trans AS (
          |SELECT coalesce(prev, 'START') AS src, et AS dst FROM seq
          |UNION ALL SELECT et,
          |CASE WHEN converted THEN 'CONV' ELSE 'NULL' END
          |FROM seq WHERE i = m
          |UNION ALL SELECT 'START', 'CONV' FROM fp
          |LEFT JOIN (SELECT DISTINCT u FROM touches) t ON fp.u = t.u
          |WHERE t.u IS NULL),
          |cnt AS MATERIALIZED (SELECT src, dst, count(*)::BIGINT AS n
          |FROM trans GROUP BY 1, 2),
          |outs AS MATERIALIZED (SELECT src, sum(n)::BIGINT AS o
          |FROM cnt GROUP BY 1),
          |states AS MATERIALIZED (SELECT src AS st FROM cnt
          |UNION SELECT dst FROM cnt),
          |scen AS MATERIALIZED (SELECT DISTINCT et AS scen FROM touches
          |UNION ALL SELECT '__none__'),
          |v0 AS (SELECT s.scen, st.st,
          |(CASE WHEN st.st = 'CONV' THEN 1000000 ELSE 0 END)::BIGINT
          |  AS v
          |FROM scen s CROSS JOIN states st)""".stripMargin
      val iters = (1 to 16).map { k =>
        s"""v$k AS MATERIALIZED (SELECT b.scen, b.st,
           |(CASE WHEN b.st = 'CONV' THEN 1000000
           |  WHEN b.st = 'NULL' OR b.st = b.scen THEN 0
           |  ELSE coalesce(r.sv, 0) END)::BIGINT AS v
           |FROM (SELECT s.scen, st.st FROM scen s CROSS JOIN states st)
           |  b
           |LEFT JOIN (SELECT p.scen, c.src AS st,
           |  sum(c.n * p.v)::BIGINT // o.o AS sv
           |  FROM v${k - 1} p JOIN cnt c ON c.dst = p.st
           |  JOIN outs o ON o.src = c.src
           |  GROUP BY p.scen, c.src, o.o) r
           |ON r.scen = b.scen AND r.st = b.st)""".stripMargin
      }.mkString(",\n")
      head + ",\n" + iters + ",\n" +
        """rv AS (SELECT scen, v FROM v16 WHERE st = 'START'),
          |pf AS (SELECT v AS p_full FROM rv WHERE scen = '__none__'),
          |ch AS (SELECT scen AS channel, v AS p_removed FROM rv
          |WHERE scen <> '__none__')
          |SELECT channel, pf.p_full AS p_full_u,
          |p_removed AS p_removed_u,
          |(pf.p_full - p_removed)::BIGINT AS removal_u,
          |(((pf.p_full - p_removed) * 1000000)
          |  // greatest((sum(pf.p_full - p_removed) OVER ())::BIGINT,
          |    1))::BIGINT AS attribution_ppm
          |FROM ch, pf""".stripMargin
    }),
    QueryDef("q100_survival_km", ((s, dir) => {
      // Kaplan-Meier time-to-convert with right censoring over the
      // signup cohort: duration = days from first signup to the first
      // purchase AT OR AFTER it; users who never convert censor at the
      // observation end (max event ts). Complements q93's life-table
      // hazards with the product-limit survival curve itself, carried
      // as an exact nano-unit integer product (per-step floor) — see
      // Survival.kaplanMeier for the estimator conventions. One
      // user-grain shuffle builds the observations; everything after is
      // calendar-sized
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id").filter(col("ts") >= col("t0"))
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val end = ev.agg(max(col("ts")).as("obs_end"))
      val obs = su.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(end))
        .select(
          when(col("t1").isNotNull,
              datediff(to_date(col("t1")), to_date(col("t0"))))
            .otherwise(
              datediff(to_date(col("obs_end")), to_date(col("t0"))))
            .cast("long").as("dur"),
          when(col("t1").isNotNull, 1L).otherwise(0L).as("event"))
      graft.operators.Survival.kaplanMeier(obs, "dur", "event")
    }),
      // same estimator conventions as Survival.kaplanMeier: censored-at-t
      // still at risk at t, event rows only, ppm floors, and the KM
      // product as a nano-unit recurrence (per-step floor) unrolled by a
      // linear recursive CTE over the row-numbered event times
      """WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
        |WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |JOIN su USING (user_id)
        |WHERE e.event_type = 'purchase' AND e.ts >= su.t0 GROUP BY 1),
        |fin AS (SELECT max(ts) AS obs_end FROM events),
        |obs AS (SELECT CASE WHEN t1 IS NOT NULL
        |THEN date_diff('day', t0::DATE, t1::DATE)
        |ELSE date_diff('day', t0::DATE, obs_end::DATE) END::BIGINT AS dur,
        |CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS ev
        |FROM su LEFT JOIN pu USING (user_id) CROSS JOIN fin),
        |g AS (SELECT dur AS t, sum(ev)::BIGINT AS d,
        |sum(1 - ev)::BIGINT AS c FROM obs GROUP BY 1),
        |r AS (SELECT t, d, c, sum(d + c) OVER ()::BIGINT AS total,
        |coalesce(sum(d + c) OVER (ORDER BY t
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |AS prior FROM g),
        |e AS (SELECT t, total - prior AS n_risk, d AS n_event,
        |c AS n_censored, row_number() OVER (ORDER BY t)::BIGINT AS i
        |FROM r WHERE d >= 1),
        |km AS (WITH RECURSIVE k(i, s) AS (
        |SELECT 0::BIGINT, 1000000000::BIGINT
        |UNION ALL
        |SELECT e.i, (k.s * (e.n_risk - e.n_event)) // e.n_risk
        |FROM k JOIN e ON e.i = k.i + 1)
        |SELECT i, s FROM k WHERE i >= 1)
        |SELECT e.t, e.n_risk, e.n_event, e.n_censored,
        |e.n_event * 1000000 // e.n_risk AS hazard_ppm,
        |(sum(e.n_event * 1000000 // e.n_risk)
        |OVER (ORDER BY e.t))::BIGINT AS na_cum_ppm,
        |km.s // 1000 AS km_ppm
        |FROM e JOIN km ON km.i = e.i""".stripMargin),
    QueryDef("q101_competing_risks", ((s, dir) => {
      // Aalen-Johansen cumulative incidence: after signup a user exits
      // by FIRST purchase (risk 1) or FIRST error (risk 2), whichever
      // comes first — "1 - KM per risk" would overstate both; AJ
      // allocates each step's mass to the risk that took it. The
      // first-exit pick is an integer min over epoch_us*4 + type, a
      // total order both engines share bit-for-bit (no arg_min tie
      // ambiguity). Estimator arithmetic in Survival.cumulativeIncidence
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
      val fx = ev.filter(col("event_type").isin("purchase", "error"))
        .join(su, "user_id").filter(col("ts") >= col("t0"))
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts")) * 4L +
          when(col("event_type") === "purchase", 1L).otherwise(2L))
          .as("k"))
      val end = ev.agg(max(col("ts")).as("obs_end"))
      val obs = su.join(fx, Seq("user_id"), "left")
        .crossJoin(broadcast(end))
        .select(
          when(col("k").isNotNull,
              datediff(to_date(timestamp_micros(expr("k div 4"))),
                to_date(col("t0"))))
            .otherwise(
              datediff(to_date(col("obs_end")), to_date(col("t0"))))
            .cast("long").as("dur"),
          coalesce(expr("k % 4"), lit(0L)).as("typ"))
      graft.operators.Survival.cumulativeIncidence(obs, "dur", "typ")
        .select(col("t"), col("n_risk"),
          col("d1").as("n_purchase"), col("d2").as("n_error"),
          col("n_censored"), col("surv_ppm"),
          col("cif1_ppm").as("cif_purchase_ppm"),
          col("cif2_ppm").as("cif_error_ppm"))
    }),
      // the AJ recurrence unrolled by a linear recursive CTE carrying
      // (s, cif1, cif2); increments use the PRIOR s (mass allocated
      // before the step), matching Survival.cumulativeIncidence exactly
      """WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
        |WHERE event_type = 'signup' GROUP BY 1),
        |fx AS (SELECT e.user_id, min(epoch_us(e.ts) * 4 +
        |CASE e.event_type WHEN 'purchase' THEN 1 ELSE 2 END)::BIGINT AS k
        |FROM events e JOIN su USING (user_id)
        |WHERE e.event_type IN ('purchase', 'error') AND e.ts >= su.t0
        |GROUP BY 1),
        |fin AS (SELECT max(ts) AS obs_end FROM events),
        |obs AS (SELECT CASE WHEN k IS NOT NULL
        |THEN date_diff('day', t0::DATE, make_timestamp(k // 4)::DATE)
        |ELSE date_diff('day', t0::DATE, obs_end::DATE) END::BIGINT AS dur,
        |coalesce(k % 4, 0)::BIGINT AS typ
        |FROM su LEFT JOIN fx USING (user_id) CROSS JOIN fin),
        |g AS (SELECT dur AS t,
        |sum(CASE WHEN typ = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
        |sum(CASE WHEN typ = 2 THEN 1 ELSE 0 END)::BIGINT AS d2,
        |sum(CASE WHEN typ = 0 THEN 1 ELSE 0 END)::BIGINT AS c
        |FROM obs GROUP BY 1),
        |r AS (SELECT t, d1, d2, c,
        |sum(d1 + d2 + c) OVER ()::BIGINT AS total,
        |coalesce(sum(d1 + d2 + c) OVER (ORDER BY t
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |AS prior FROM g),
        |e AS (SELECT t, total - prior AS n_risk, d1, d2,
        |c AS n_censored, row_number() OVER (ORDER BY t)::BIGINT AS i
        |FROM r WHERE d1 + d2 >= 1),
        |aj AS (WITH RECURSIVE k(i, s, c1, c2) AS (
        |SELECT 0::BIGINT, 1000000000::BIGINT, 0::BIGINT, 0::BIGINT
        |UNION ALL
        |SELECT e.i, (k.s * (e.n_risk - e.d1 - e.d2)) // e.n_risk,
        |k.c1 + (k.s * e.d1) // e.n_risk, k.c2 + (k.s * e.d2) // e.n_risk
        |FROM k JOIN e ON e.i = k.i + 1)
        |SELECT i, s, c1, c2 FROM k WHERE i >= 1)
        |SELECT e.t, e.n_risk, e.d1 AS n_purchase, e.d2 AS n_error,
        |e.n_censored, aj.s // 1000 AS surv_ppm,
        |aj.c1 // 1000 AS cif_purchase_ppm,
        |aj.c2 // 1000 AS cif_error_ppm
        |FROM e JOIN aj ON aj.i = e.i""".stripMargin),
    QueryDef("q102_holt_winters", ((s, dir) => {
      // additive Holt-Winters over monthly revenue (period 12, alpha
      // 1/5, beta 1/10, gamma 1/5): one-step-ahead fitted values +
      // residuals from the exact integer recurrence — the forecasting
      // complement to q78's decomposition and q61's rolling anomalies
      // (residual spikes here are "surprising vs level+trend+season",
      // not just "far from the rolling mean"). One monthly aggregation
      // is the only data-sized work; the fold is calendar-sized
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mx"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      val idx = gaplessMonthIdx(monthly)
      graft.operators.TimeSeries
        .holtWintersAdditive(idx, "i", "cents", period = 12,
          alphaInv = 5, betaInv = 10, gammaInv = 5)
        .join(idx.select(col("i").as("idx"), col("mx")), Seq("idx"))
        .select(col("mx"), col("x").as("cents"),
          col("fitted").as("fitted_cents"),
          col("resid").as("resid_cents"))
    }),
      // the HW recurrence as a linear recursive CTE carrying (l, b,
      // seasonal LIST); `//` and Spark's `div` share truncate-toward-
      // zero semantics, so negative trends/residuals stay engine-exact
      """WITH monthly AS (SELECT
        |(year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1),
        |idx AS (SELECT mx, cents,
        |row_number() OVER (ORDER BY mx)::BIGINT AS i FROM monthly),
        |init1 AS (SELECT
        |(sum(CASE WHEN i <= 12 THEN cents END) // 12)::BIGINT AS l0,
        |((sum(CASE WHEN i > 12 AND i <= 24 THEN cents END)
        |  - sum(CASE WHEN i <= 12 THEN cents END)) // 144)::BIGINT AS b0
        |FROM idx),
        |sinit AS (SELECT list(cents - (SELECT l0 FROM init1)
        |ORDER BY i) AS s0 FROM idx WHERE i <= 12),
        |hw AS (WITH RECURSIVE k(i, l, b, s, fitted) AS (
        |SELECT 12::BIGINT, (SELECT l0 FROM init1),
        |(SELECT b0 FROM init1), (SELECT s0 FROM sinit), NULL::BIGINT
        |UNION ALL
        |SELECT st.i,
        |((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5,
        |((((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5 - k.l)
        |  + 9 * k.b) // 10,
        |k.s[2:12] || [((st.cents
        |  - ((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5)
        |  + 4 * k.s[1]) // 5],
        |k.l + k.b + k.s[1]
        |FROM k JOIN idx st ON st.i = k.i + 1)
        |SELECT i, fitted FROM k WHERE i >= 13)
        |SELECT idx.mx, idx.cents, hw.fitted AS fitted_cents,
        |idx.cents - hw.fitted AS resid_cents
        |FROM hw JOIN idx USING (i)""".stripMargin),
    QueryDef("q110_anova_dow", ((s, dir) => {
      // one-way ANOVA: does day-of-week move order value? Between/
      // within sums of squares from ONE moment aggregation (group sums
      // + squares; fact rows touched once), the categorical sibling of
      // dq13's numeric correlation screen. Floored forms documented
      // and identical in both engines: t_g = S_g^2 div n_g,
      // SSB = sum(t_g) - S^2 div n, SST = sum(X^2) - S^2 div n; effect
      // size eta^2 and the F statistic in floored ppm, sqrt-free
      val cells = t(s, dir, "orders")
        .select(dayofweek(to_date(col("o_orderdate"))).cast("long")
            .as("dow"),
          floor(col("o_totalprice")).cast("long").as("x"))
        .groupBy("dow")
        .agg(count(lit(1)).as("ng"),
          sum(col("x")).cast("decimal(38,0)").as("sg"),
          sum(expr("cast(x as decimal(38,0)) * x")).as("qg"))
      cells.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg")).as("s"), sum(col("qg")).as("q"),
          sum(expr("sg * sg div ng")).as("tg"))
        // SSB = tg - s^2 div n uses per-group floored tg, so it can dip
        // a hair below 0 (bounded by -k) when between-group variance is
        // ~0 — clamp with greatest(.., 0) so a sum of squares can never
        // print negative (ADVICE r8); SSW/SST are >= 0 by construction
        .select(col("n").cast("long").as("n_orders"),
          col("k").cast("long").as("k_groups"),
          expr("cast(greatest(tg - s * s div n, 0) as bigint)").as("ssb"),
          expr("cast(q - tg as bigint)").as("ssw"),
          expr("cast(greatest(tg - s * s div n, 0) * 1000000 " +
            "div greatest(q - s * s div n, 1) as bigint)").as("eta2_ppm"),
          // F = (SSB/(k-1)) / (SSW/(n-k)) in floored ppm
          expr("cast(greatest(tg - s * s div n, 0) div (k - 1) * 1000000 " +
            "div greatest((q - tg) div (n - k), 1) as bigint)")
            .as("f_ppm"))
    }),
      // identical floored SSB/SST forms in HUGEINT; DuckDB dayofweek
      // is 0-based Sunday where Spark's is 1-based, hence the +1
      """WITH c AS (SELECT
        |(dayofweek(o_orderdate::TIMESTAMP::DATE) + 1)::BIGINT AS dow,
        |floor(o_totalprice)::BIGINT AS x FROM orders),
        |g AS (SELECT dow, count(*)::HUGEINT AS ng,
        |sum(x)::HUGEINT AS sg, sum(x::HUGEINT * x) AS qg
        |FROM c GROUP BY 1),
        |m AS (SELECT count(*)::HUGEINT AS k, sum(ng) AS n,
        |sum(sg) AS s, sum(qg) AS q, sum(sg * sg // ng) AS tg FROM g)
        |SELECT n::BIGINT AS n_orders, k::BIGINT AS k_groups,
        |greatest(tg - s * s // n, 0)::BIGINT AS ssb,
        |(q - tg)::BIGINT AS ssw,
        |(greatest(tg - s * s // n, 0) * 1000000
        |  // greatest(q - s * s // n, 1))::BIGINT AS eta2_ppm,
        |(greatest(tg - s * s // n, 0) // (k - 1) * 1000000
        |  // greatest((q - tg) // (n - k), 1))::BIGINT AS f_ppm
        |FROM m""".stripMargin),
    QueryDef("q109_price_index", ((s, dir) => {
      // matched-model Laspeyres/Paasche price indices (the CPI
      // construction; Laspeyres 1871, Paasche 1874): each part's base
      // period is its FIRST observed ship month (the matched-model
      // convention for assortments with churn); for every later month,
      // Laspeyres weights price relatives by BASE quantities, Paasche
      // by CURRENT ones. Unit prices are floored cents (cents div qty,
      // both engines); basket sums run in DECIMAL(38,0). One fact
      // aggregation to the (part, month) grain, one part-keyed join —
      // the only data-sized work
      val wb = Window.partitionBy("pk").orderBy("mx")
      val pm = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("mx"))
        .agg(sum(floor(col("l_extendedprice") * 100.0).cast("long"))
          .as("cents"), sum(floor(col("l_quantity")).cast("long")).as("qty"))
        .withColumn("u", expr("cents div qty"))
        // base period via first_value over the SAME part-month frame:
        // one fact scan, one pk window exchange (a self-join on the
        // first month would scan lineitem twice — PlanSpec gates this)
        .withColumn("u0", first(col("u")).over(wb))
        .withColumn("q0", first(col("qty")).over(wb))
        .withColumn("mx0", first(col("mx")).over(wb))
      pm.where(col("mx") > col("mx0"))
        .groupBy("mx")
        .agg(count(lit(1)).as("n_parts"),
          sum(expr("cast(u as decimal(38,0)) * q0")).as("ln_"),
          sum(expr("cast(u0 as decimal(38,0)) * q0")).as("ld"),
          sum(expr("cast(u as decimal(38,0)) * qty")).as("pn"),
          sum(expr("cast(u0 as decimal(38,0)) * qty")).as("pd"))
        .select(col("mx"), col("n_parts"),
          expr("cast(ln_ * 1000000 div greatest(ld, 1) as bigint)")
            .as("laspeyres_ppm"),
          expr("cast(pn * 1000000 div greatest(pd, 1) as bigint)")
            .as("paasche_ppm"))
    }),
      // identical (part, month) unit prices, per-part first-month base,
      // basket sums in HUGEINT
      """WITH pm AS (SELECT l_partkey AS pk,
        |(year(l_shipdate::TIMESTAMP) * 12
        |  + month(l_shipdate::TIMESTAMP))::BIGINT AS mx,
        |sum(floor(l_extendedprice * 100.0)::BIGINT)::BIGINT AS cents,
        |sum(floor(l_quantity)::BIGINT)::BIGINT AS qty
        |FROM lineitem GROUP BY 1, 2),
        |pu AS (SELECT pk, mx, qty, (cents // qty)::BIGINT AS u FROM pm),
        |base AS (SELECT pk, u AS u0, qty AS q0, mx AS mx0 FROM (
        |SELECT pk, u, qty, mx, row_number() OVER (
        |PARTITION BY pk ORDER BY mx) AS rn FROM pu) WHERE rn = 1),
        |j AS (SELECT c.mx, c.u::HUGEINT AS u, c.qty::HUGEINT AS qty,
        |b.u0::HUGEINT AS u0, b.q0::HUGEINT AS q0
        |FROM pu c JOIN base b ON b.pk = c.pk WHERE c.mx > b.mx0),
        |g AS (SELECT mx, count(*)::BIGINT AS n_parts,
        |sum(u * q0) AS ln_, sum(u0 * q0) AS ld,
        |sum(u * qty) AS pn, sum(u0 * qty) AS pd FROM j GROUP BY 1)
        |SELECT mx, n_parts,
        |(ln_ * 1000000 // greatest(ld, 1))::BIGINT AS laspeyres_ppm,
        |(pn * 1000000 // greatest(pd, 1))::BIGINT AS paasche_ppm
        |FROM g""".stripMargin),
    QueryDef("q108_mase_backtest", ((s, dir) => {
      // forecast-accuracy backtest (Hyndman & Koehler 2006 MASE): hold
      // out the last 6 months, forecast them with q107's fold, and
      // scale the model's MAE by the seasonal-naive baseline's
      // (x[t-12]) — MASE < 1e6 ppm means the model beats the naive.
      // Everything after the monthly aggregation is calendar-sized;
      // the holdout split rides a 1-row series-length broadcast cross
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mx"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      val idx = gaplessMonthIdx(monthly).select("cents", "i")
      val nRow = idx.agg(max(col("i")).as("n"))
      val train = idx.crossJoin(broadcast(nRow))
        .where(col("i") <= col("n") - 6).select("i", "cents")
      graft.operators.TimeSeries.holtWintersForecast(train, "i", "cents",
          period = 12, alphaInv = 5, betaInv = 10, gammaInv = 5,
          horizon = 6)
        .join(idx.select(col("i").as("idx"), col("cents").as("actual")),
          Seq("idx"))
        .join(idx.select((col("i") + 12L).as("idx"),
          col("cents").as("naive")), Seq("idx"))
        .agg(count(lit(1)).as("n_test"),
          expr("sum(abs(actual - forecast)) div count(1)")
            .as("mae_model_cents"),
          expr("sum(abs(actual - naive)) div count(1)")
            .as("mae_naive_cents"))
        .withColumn("mase_ppm", expr(
          "mae_model_cents * 1000000 div greatest(mae_naive_cents, 1)"))
    }),
      // q107's recursion on the TRAIN prefix (i <= n-6), extrapolated 6
      // steps, scored against actuals and the x[t-12] seasonal naive
      """WITH monthly AS (SELECT
        |(year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1),
        |idx0 AS (SELECT cents,
        |row_number() OVER (ORDER BY mx)::BIGINT AS i FROM monthly),
        |nn AS (SELECT max(i)::BIGINT AS n FROM idx0),
        |idx AS (SELECT i, cents FROM idx0, nn WHERE i <= n - 6),
        |init1 AS (SELECT
        |(sum(CASE WHEN i <= 12 THEN cents END) // 12)::BIGINT AS l0,
        |((sum(CASE WHEN i > 12 AND i <= 24 THEN cents END)
        |  - sum(CASE WHEN i <= 12 THEN cents END)) // 144)::BIGINT AS b0
        |FROM idx),
        |sinit AS (SELECT list(cents - (SELECT l0 FROM init1)
        |ORDER BY i) AS s0 FROM idx WHERE i <= 12),
        |hw AS (WITH RECURSIVE k(i, l, b, s) AS (
        |SELECT 12::BIGINT, (SELECT l0 FROM init1),
        |(SELECT b0 FROM init1), (SELECT s0 FROM sinit)
        |UNION ALL
        |SELECT st.i,
        |((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5,
        |((((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5 - k.l)
        |  + 9 * k.b) // 10,
        |k.s[2:12] || [((st.cents
        |  - ((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5)
        |  + 4 * k.s[1]) // 5]
        |FROM k JOIN idx st ON st.i = k.i + 1)
        |SELECT i, l, b, s FROM k),
        |fin AS (SELECT i, l, b, s FROM hw ORDER BY i DESC LIMIT 1),
        |fc AS (SELECT (fin.i + h)::BIGINT AS idx,
        |(fin.l + h * fin.b + fin.s[((h - 1) % 12)::INT + 1])::BIGINT
        |  AS forecast
        |FROM fin, (SELECT unnest(range(1, 7)) AS h)),
        |scored AS (SELECT a.cents AS actual, fc.forecast,
        |nv.cents AS naive FROM fc
        |JOIN idx0 a ON a.i = fc.idx
        |JOIN idx0 nv ON nv.i + 12 = fc.idx),
        |m AS (SELECT count(*)::BIGINT AS n_test,
        |(sum(abs(actual - forecast)) // count(*))::BIGINT
        |  AS mae_model_cents,
        |(sum(abs(actual - naive)) // count(*))::BIGINT
        |  AS mae_naive_cents FROM scored)
        |SELECT n_test, mae_model_cents, mae_naive_cents,
        |(mae_model_cents * 1000000
        |  // greatest(mae_naive_cents, 1))::BIGINT AS mase_ppm
        |FROM m""".stripMargin),
    QueryDef("q107_hw_forecast", ((s, dir) => {
      // the true h-step FORECAST q102's one-step fitted values stop
      // short of: roll the same exact integer fold to the end of the
      // monthly history, keep the final (level, trend, seasonal ring),
      // extrapolate 6 months with pure integer multiply-add — the
      // capacity-planning number, engine-exact at every horizon
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mx"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      val idx = gaplessMonthIdx(monthly).select("cents", "i")
      graft.operators.TimeSeries.holtWintersForecast(idx, "i", "cents",
          period = 12, alphaInv = 5, betaInv = 10, gammaInv = 5,
          horizon = 6)
        .select(col("h"), col("idx"),
          col("forecast").as("forecast_cents"))
    }),
      // q102's recursion carried to the last index, then pure
      // multiply-add extrapolation off the final (l, b, s) state
      """WITH monthly AS (SELECT
        |(year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1),
        |idx AS (SELECT cents,
        |row_number() OVER (ORDER BY mx)::BIGINT AS i FROM monthly),
        |init1 AS (SELECT
        |(sum(CASE WHEN i <= 12 THEN cents END) // 12)::BIGINT AS l0,
        |((sum(CASE WHEN i > 12 AND i <= 24 THEN cents END)
        |  - sum(CASE WHEN i <= 12 THEN cents END)) // 144)::BIGINT AS b0
        |FROM idx),
        |sinit AS (SELECT list(cents - (SELECT l0 FROM init1)
        |ORDER BY i) AS s0 FROM idx WHERE i <= 12),
        |hw AS (WITH RECURSIVE k(i, l, b, s) AS (
        |SELECT 12::BIGINT, (SELECT l0 FROM init1),
        |(SELECT b0 FROM init1), (SELECT s0 FROM sinit)
        |UNION ALL
        |SELECT st.i,
        |((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5,
        |((((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5 - k.l)
        |  + 9 * k.b) // 10,
        |k.s[2:12] || [((st.cents
        |  - ((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5)
        |  + 4 * k.s[1]) // 5]
        |FROM k JOIN idx st ON st.i = k.i + 1)
        |SELECT i, l, b, s FROM k),
        |fin AS (SELECT i, l, b, s FROM hw ORDER BY i DESC LIMIT 1)
        |SELECT h::BIGINT AS h, (fin.i + h)::BIGINT AS idx,
        |(fin.l + h * fin.b
        |  + fin.s[((h - 1) % 12)::INT + 1])::BIGINT AS forecast_cents
        |FROM fin, (SELECT unnest(range(1, 7)) AS h)""".stripMargin),
    QueryDef("q103_hw_by_group", ((s, dir) => {
      // q102's Holt-Winters fitted PER ORDER PRIORITY — the production
      // shape (one grouped aggregation, folds parallel across the key
      // domain, no per-series loop). Per-key contiguous index from a
      // key-partitioned window; everything after the monthly agg is
      // |keys| x |calendar| sized
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mx"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      // per-group series are SPARSE at tiny SF (priority x month gaps
      // exist at sf0.001), so the index is deliberately positional over
      // observed months — both engines share the construction; the
      // gapless guard applies only to the dense global series. The
      // alignment basis is made VISIBLE instead of silent:
      // n_missing_months = (month span) - (observed months) per group,
      // so a reader can see exactly how far each group's positional
      // index deviates from a true calendar index (0 = calendar-exact)
      val idx = monthly.select(col("priority"), col("mx"), col("cents"),
        row_number().over(Window.partitionBy("priority").orderBy("mx"))
          .cast("long").as("i"))
      val gaps = monthly.groupBy("priority")
        .agg((max(col("mx")) - min(col("mx")) + lit(1L) - count(lit(1)))
          .as("n_missing_months"))
      graft.operators.TimeSeries
        .holtWintersByGroup(idx, "priority", "i", "cents", period = 12,
          alphaInv = 5, betaInv = 10, gammaInv = 5)
        .join(idx.select(col("priority").as("key"), col("i").as("idx"),
          col("mx")), Seq("key", "idx"))
        .select(col("key").as("priority"), col("mx"),
          col("x").as("cents"), col("fitted").as("fitted_cents"),
          (col("x") - col("fitted")).as("resid_cents"))
        .join(broadcast(gaps), Seq("priority"))
    }),
      // q102's recursion with the group carried through every CTE: the
      // per-key chains advance independently inside ONE recursive CTE
      """WITH monthly AS (SELECT o_orderpriority AS g,
        |(year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mx,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1, 2),
        |idx AS (SELECT g, mx, cents, row_number() OVER (
        |PARTITION BY g ORDER BY mx)::BIGINT AS i FROM monthly),
        |init1 AS (SELECT g,
        |(sum(CASE WHEN i <= 12 THEN cents END) // 12)::BIGINT AS l0,
        |((sum(CASE WHEN i > 12 AND i <= 24 THEN cents END)
        |  - sum(CASE WHEN i <= 12 THEN cents END)) // 144)::BIGINT AS b0
        |FROM idx GROUP BY g
        |HAVING sum(CASE WHEN i <= 24 THEN 1 ELSE 0 END) = 24),
        |sinit AS (SELECT idx.g, list(cents - init1.l0 ORDER BY i) AS s0
        |FROM idx JOIN init1 ON init1.g = idx.g WHERE i <= 12
        |GROUP BY idx.g),
        |hw AS (WITH RECURSIVE k(g, i, l, b, s, fitted) AS (
        |SELECT init1.g, 12::BIGINT, init1.l0, init1.b0, sinit.s0,
        |NULL::BIGINT FROM init1 JOIN sinit ON sinit.g = init1.g
        |UNION ALL
        |SELECT st.g, st.i,
        |((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5,
        |((((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5 - k.l)
        |  + 9 * k.b) // 10,
        |k.s[2:12] || [((st.cents
        |  - ((st.cents - k.s[1]) + 4 * (k.l + k.b)) // 5)
        |  + 4 * k.s[1]) // 5],
        |k.l + k.b + k.s[1]
        |FROM k JOIN idx st ON st.g = k.g AND st.i = k.i + 1)
        |SELECT g, i, fitted FROM k WHERE i >= 13),
        |gaps AS (SELECT g, (max(mx) - min(mx) + 1
        |  - count(*))::BIGINT AS n_missing_months FROM monthly GROUP BY g)
        |SELECT idx.g AS priority, idx.mx, idx.cents,
        |hw.fitted AS fitted_cents,
        |idx.cents - hw.fitted AS resid_cents,
        |gaps.n_missing_months
        |FROM hw JOIN idx ON idx.g = hw.g AND idx.i = hw.i
        |JOIN gaps ON gaps.g = hw.g""".stripMargin),
    QueryDef("q104_did", ((s, dir) => {
      // difference-in-differences readout: treat = odd custkey (the
      // assignment-hash stand-in), post = ordered on/after 1998-01-01
      // (interior to the corpus' 1995..2001 span, so all 4 cells fill);
      // cell means in floored cents, and the DiD estimate
      // (m11-m10)-(m01-m00) restated as the signed sum over the four
      // cells — ONE fact pass to the 2x2 grain, then a 4-row window.
      // The pre-period difference (m10-m00) is the parallel-trends
      // baseline the post difference is corrected by
      val cells = t(s, dir, "orders")
        .select((col("o_custkey") % 2).cast("long").as("treat"),
          when(to_date(col("o_orderdate")) >= lit("1998-01-01"), 1L)
            .otherwise(0L).as("post"),
          floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
        .groupBy("treat", "post")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .withColumn("mean_cents", expr("sum_cents div n"))
      cells.withColumn("did_cents",
          sum((col("treat") * 2 - 1) * (col("post") * 2 - 1) *
            col("mean_cents")).over(Window.partitionBy()))
        .select("treat", "post", "n", "mean_cents", "did_cents")
    }),
      """WITH c AS (SELECT (o_custkey % 2)::BIGINT AS treat,
        |(CASE WHEN o_orderdate::TIMESTAMP::DATE >= DATE '1998-01-01'
        |THEN 1 ELSE 0 END)::BIGINT AS post,
        |CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT treat, post, count(*)::BIGINT AS n,
        |sum(cents)::BIGINT AS sc FROM c GROUP BY 1, 2),
        |m AS (SELECT treat, post, n, (sc // n)::BIGINT AS mean_cents
        |FROM g)
        |SELECT treat, post, n, mean_cents,
        |(sum((treat * 2 - 1) * (post * 2 - 1) * mean_cents)
        |  OVER ())::BIGINT AS did_cents
        |FROM m""".stripMargin),
    QueryDef("q105_fifo_aging", ((s, dir) => {
      // FIFO inventory aging: per part, returned units (l_returnflag =
      // 'R') consume earlier-shipped non-returned units first-in-first-
      // out, and each matched allocation's age (outflow ship date minus
      // inflow ship date) feeds a 30-day-bucket holding-time histogram
      // — the inventory-aging readout ONLY a FIFO match can produce
      // (totals alone can't say WHICH units left). The classic
      // cursor-loop problem, restated declaratively: cumulative-qty
      // intervals per side ([hi-qty, hi) from one per-part window
      // each), FIFO allocation = interval overlap, matched qty =
      // least(hi) - greatest(lo). Per-part overlap count is linear in
      // that part's line count (sorted intervals), never quadratic in
      // the table; both windows and the join share the l_partkey
      // partitioning
      val li = t(s, dir, "lineitem").select(
        col("l_partkey").as("pk"),
        (col("l_returnflag") === "R").as("is_out"),
        floor(col("l_quantity")).cast("long").as("qty"),
        to_date(col("l_shipdate")).as("d"),
        col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"))
      // ONE window pass over (pk, side) instead of one filtered window
      // per side (r11): filter-then-window-by-pk equals
      // window-by-(pk, is_out)-then-filter row for row, so both sides
      // derive from a single persisted cumulative frame — one scan and
      // one window shuffle instead of two of each
      val w = Window.partitionBy("pk", "is_out").orderBy("d", "ok", "ln")
      val cum = graft.operators.PlanPersist("entry.q105.cum",
        li.withColumn("hi", sum(col("qty")).over(w))
          .withColumn("lo", col("hi") - col("qty")))
      val ins = cum.filter(!col("is_out"))
      val outs = cum.filter(col("is_out"))
      ins.as("b").join(outs.as("s"),
          col("b.pk") === col("s.pk") &&
          col("b.hi") > col("s.lo") && col("s.hi") > col("b.lo"))
        .select(datediff(col("s.d"), col("b.d")).as("age_days"),
          (least(col("b.hi"), col("s.hi")) -
            greatest(col("b.lo"), col("s.lo"))).as("qty"))
        .groupBy(floor(col("age_days") / lit(30.0)).cast("long")
          .as("age_month"))
        .agg(count(lit(1)).as("n_allocs"), sum(col("qty")).as("qty"))
    }),
      // the identical cumulative-interval FIFO restatement: both sides'
      // [hi-qty, hi) intervals from per-part windows, overlap = match
      """WITH li AS (SELECT l_partkey AS pk, l_returnflag = 'R' AS is_out,
        |floor(l_quantity)::BIGINT AS qty,
        |l_shipdate::TIMESTAMP::DATE AS d, l_orderkey AS ok,
        |l_linenumber AS ln FROM lineitem),
        |ins AS (SELECT pk, d, qty, sum(qty) OVER (
        |PARTITION BY pk ORDER BY d, ok, ln) AS hi FROM li
        |WHERE NOT is_out),
        |outs AS (SELECT pk, d, qty, sum(qty) OVER (
        |PARTITION BY pk ORDER BY d, ok, ln) AS hi FROM li
        |WHERE is_out),
        |a AS (SELECT datediff('day', b.d, s.d) AS age_days,
        |least(b.hi, s.hi) - greatest(b.hi - b.qty, s.hi - s.qty) AS qty
        |FROM ins b JOIN outs s ON b.pk = s.pk
        |AND b.hi > s.hi - s.qty AND s.hi > b.hi - b.qty)
        |SELECT CAST(floor(age_days / 30.0) AS BIGINT) AS age_month,
        |count(*)::BIGINT AS n_allocs, sum(qty)::BIGINT AS qty
        |FROM a GROUP BY 1""".stripMargin),
    QueryDef("q99_interarrival", ((s, dir) => {
      // per-event-type inter-arrival p50/p95 in exact microseconds: one
      // lag window partitioned by user (deterministic (ts, event_id)
      // tie order) produces the gap stream, then the GROUPED histogram
      // bisection takes the percentiles — no grouped sort, no
      // per-distinct-value state; the ops-latency readout at any scale
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("gap_us", unix_micros(col("ts")) -
          lag(unix_micros(col("ts")), 1).over(
            Window.partitionBy("user_id")
              .orderBy(col("ts"), col("event_id"))))
        .filter(col("gap_us").isNotNull)
      graft.operators.Quantile.exactQuantilesByGroup(
        ev, "event_type", "gap_us",
        Seq(("p50", 1L, 2L), ("p95", 19L, 20L)))
        .withColumnRenamed("g", "event_type")
    }),
      """WITH g0 AS (SELECT event_type,
        |epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |ORDER BY ts, event_id) AS gap FROM events),
        |v AS (SELECT event_type AS g, gap AS x FROM g0
        |WHERE gap IS NOT NULL),
        |n AS (SELECT g, count(*)::BIGINT AS n FROM v GROUP BY 1),
        |t AS (SELECT g, 'p50' AS q, greatest(1, (n + 1) // 2)::BIGINT AS k
        |FROM n
        |UNION ALL SELECT g, 'p95',
        |greatest(1, (n * 19 + 19) // 20)::BIGINT FROM n),
        |r AS (SELECT g, x,
        |row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM v)
        |SELECT t.g AS event_type, q, k, x AS value FROM t
        |JOIN r ON r.g = t.g AND r.rn = t.k""".stripMargin),
    QueryDef("q98_group_quantile", ((s, dir) =>
      // per-return-flag exact p50/p99 via GROUPED histogram bisection —
      // histogram frames are |groups| x 4096 rows, group stats ride
      // broadcast joins, the corpus pays map-side scans only; no grouped
      // sort, no per-distinct-value percentile state
      graft.operators.Quantile.exactQuantilesByGroup(
        t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents")),
        "flag", "cents", Seq(("p50", 1L, 2L), ("p99", 99L, 100L)))
        .withColumnRenamed("g", "flag")),
      """WITH v AS (SELECT l_returnflag AS g,
        |CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
        |FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT g, count(*)::BIGINT AS n FROM v GROUP BY 1),
        |t AS (SELECT g, 'p50' AS q, greatest(1, (n + 1) // 2)::BIGINT AS k
        |FROM n
        |UNION ALL SELECT g, 'p99',
        |greatest(1, (n * 99 + 99) // 100)::BIGINT FROM n),
        |r AS (SELECT g, x,
        |row_number() OVER (PARTITION BY g ORDER BY x) AS rn FROM v)
        |SELECT t.g AS flag, q, k, x AS value FROM t
        |JOIN r ON r.g = t.g AND r.rn = t.k""".stripMargin),
    QueryDef("q97_pareto", ((s, dir) => {
      // revenue-concentration (Pareto) report: customer deciles by
      // revenue, share and cumulative share in exact floored ppm — the
      // "how top-heavy is the business" readout. The global ntile sort
      // runs on the CUSTOMER aggregate (dimension-sized), never fact
      // rows; whole-dollar units keep every product inside BIGINT
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("cust"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("d"))
      rev.withColumn("decile", ntile(10)
          .over(Window.orderBy(col("d").desc, col("cust"))).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_cust"), sum(col("d")).as("dollars"))
        .withColumn("share_ppm",
          expr("dollars * 1000000 div (sum(dollars) over ())"))
        .withColumn("cum_share_ppm",
          expr("(sum(dollars) over (order by decile)) * 1000000 " +
            "div (sum(dollars) over ())"))
    }),
      """WITH rev AS (SELECT o_custkey AS cust,
        |sum(CAST(floor(o_totalprice) AS BIGINT))::BIGINT AS d
        |FROM orders GROUP BY 1),
        |dd AS (SELECT cust, d,
        |ntile(10) OVER (ORDER BY d DESC, cust) AS decile FROM rev),
        |g AS (SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_cust,
        |sum(d)::BIGINT AS dollars FROM dd GROUP BY 1)
        |SELECT decile, n_cust, dollars,
        |(dollars * 1000000 // (sum(dollars) OVER ()))::BIGINT
        |  AS share_ppm,
        |((sum(dollars) OVER (ORDER BY decile)) * 1000000
        |  // (sum(dollars) OVER ()))::BIGINT AS cum_share_ppm
        |FROM g""".stripMargin),
    QueryDef("q106_gini", ((s, dir) => {
      // Gini coefficient of customer revenue — the single-number
      // concentration summary q97's decile table expands: with customers
      // ranked ascending by revenue (ties broken by custkey — the rank
      // SUM over a tied run is order-free, so the statistic is exact),
      // G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)), floored ppm.
      // The global sort runs on the CUSTOMER aggregate, never fact rows
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("cust"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long"))
          .as("cents"))
      rev.withColumn("i", row_number()
          .over(Window.orderBy(col("cents"), col("cust"))).cast("long"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("nc"),
          sum(col("cents")).cast("decimal(38,0)").as("tot"),
          sum(col("i").cast("decimal(38,0)") * col("cents")).as("si"))
        .select(col("nc").cast("long").as("n_customers"),
          col("tot").cast("long").as("total_cents"),
          expr("cast((2*si - (nc+1)*tot) * 1000000 div (nc * tot) " +
            "as bigint)").as("gini_ppm"))
    }),
      // identical ascending rank-sum Gini in HUGEINT; // == div since
      // the ascending-order numerator is provably non-negative
      """WITH rev AS (SELECT o_custkey AS cust,
        |sum(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS cents
        |FROM orders GROUP BY 1),
        |r AS (SELECT cents::HUGEINT AS cents, (row_number() OVER (
        |ORDER BY cents, cust))::HUGEINT AS i FROM rev),
        |m AS (SELECT count(*)::HUGEINT AS nc, sum(cents) AS tot,
        |sum(i * cents) AS si FROM r)
        |SELECT nc::BIGINT AS n_customers, tot::BIGINT AS total_cents,
        |((2*si - (nc+1)*tot) * 1000000 // (nc * tot))::BIGINT
        |  AS gini_ppm FROM m""".stripMargin),
    QueryDef("q96_assoc_rules", ((s, dir) =>
      // market-basket rules over orders: parts bought together, apriori
      // pruning bounds the basket self-join to frequent items, rule
      // metrics in exact floored ppm/micro, top-100 under a total order
      graft.operators.MarketBasket.pairRules(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minItemBaskets = 2, minPairBaskets = 2, topK = 100)),
      """WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM li),
        |fi AS (SELECT it, count(*)::BIGINT AS n_it FROM li GROUP BY 1
        |HAVING count(*) >= 2),
        |fitems AS (SELECT li.bk, li.it, fi.n_it FROM li
        |JOIN fi ON fi.it = li.it),
        |p AS (SELECT a.it AS ia, b.it AS ib, count(*)::BIGINT AS n_ab,
        |min(a.n_it)::BIGINT AS n_a, min(b.n_it)::BIGINT AS n_b
        |FROM fitems a JOIN fitems b ON a.bk = b.bk AND a.it < b.it
        |GROUP BY 1, 2 HAVING count(*) >= 2),
        |r AS (SELECT ia AS antecedent, ib AS consequent, n_ab, n_a, n_b
        |FROM p
        |UNION ALL SELECT ib, ia, n_ab, n_b, n_a FROM p)
        |SELECT antecedent, consequent, n_ab,
        |(n_ab * 1000000 // n_baskets)::BIGINT AS support_ppm,
        |(n_ab * 1000000 // n_a)::BIGINT AS confidence_ppm,
        |((n_ab * 1000000 // n_a) * 1000000
        |  // greatest(n_b * 1000000 // n_baskets, 1))::BIGINT
        |  AS lift_micro
        |FROM r, nb
        |ORDER BY lift_micro DESC, confidence_ppm DESC,
        |antecedent, consequent
        |LIMIT 100""".stripMargin),
    QueryDef("q95_acf", ((s, dir) =>
      // lag-1..7 autocorrelation of daily order revenue — the
      // seasonality diagnostic before any forecast fit. One corpus
      // shuffle (the daily bucketing agg); the centered series joins
      // itself per lag at calendar-day offsets, all bucket-sized.
      // Units are whole dollars: ACF's denominator sums squared daily
      // deviations, so unit choice bounds it (dollars keep it < 2^63
      // through sf1; cents overflow under ANSI at sf0.01 already)
      graft.operators.TimeSeries.acf(
        t(s, dir, "orders")
          .filter(col("o_orderdate").isNotNull)
          .groupBy(datediff(to_date(col("o_orderdate")),
            lit("1970-01-01")).cast("long").as("x"))
          .agg(sum(floor(col("o_totalprice")).cast("long")).as("y")),
        "x", "y", maxLag = 7)),
      """WITH s AS (SELECT datediff('day', DATE '1970-01-01',
        |CAST(o_orderdate AS DATE))::BIGINT AS x,
        |sum(CAST(floor(o_totalprice) AS BIGINT))::BIGINT AS y
        |FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy FROM s),
        |c AS (SELECT x, y - (SELECT sy // n FROM st) AS c FROM s),
        |dn AS (SELECT sum(c * c)::BIGINT AS den FROM c),
        |l AS (SELECT unnest(range(1, 8))::BIGINT AS lag),
        |p AS (SELECT l.lag AS lag, a.c * b.c AS prod
        |FROM l CROSS JOIN c a JOIN c b ON b.x = a.x + l.lag),
        |agg AS (SELECT lag, count(*)::BIGINT AS n_pairs,
        |sum(prod)::BIGINT AS num FROM p GROUP BY 1)
        |SELECT lag, n_pairs,
        |(CASE WHEN den >= 1000000 THEN num // (den // 1000000)
        |ELSE num * 1000000 // greatest(den, 1) END)::BIGINT AS rho_ppm
        |FROM agg, dn""".stripMargin),
    QueryDef("q94_exact_quantile", ((s, dir) =>
      // exact p50/p90/p99 of line-item price WITHOUT a global sort —
      // two-level histogram bisection: per-level map-side-combined
      // bucket counts (<= 4096 rows on the wire), then only the final
      // n/4096^2-row sliver ever sorts; percentile()'s per-distinct-value
      // state and orderBy's range exchange both stay off the plan
      graft.operators.Quantile.exactQuantiles(
        t(s, dir, "lineitem").select(
          floor(col("l_extendedprice") * 100.0).cast("long").as("cents")),
        "cents",
        Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))),
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
        |FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*)::BIGINT AS n FROM v),
        |t AS (SELECT 'p50' AS q, greatest(1, (n * 1 + 1) // 2)::BIGINT AS k FROM n
        |UNION ALL SELECT 'p90', greatest(1, (n * 9 + 9) // 10)::BIGINT FROM n
        |UNION ALL SELECT 'p99', greatest(1, (n * 99 + 99) // 100)::BIGINT FROM n),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
        |SELECT q, k, x AS value FROM t JOIN r ON r.rn = t.k""".stripMargin),
    QueryDef("q93_conversion_hazard", ((s, dir) => {
      // discrete-time conversion hazard with right censoring (the
      // life-table form of time-to-convert; Kaplan-Meier's product is
      // implied by the published hazards without ever multiplying):
      // per user one (lag-day, converted?) event — converts die at
      // datediff(first purchase, first touch), the rest censor at the
      // observation end — then at-risk counts fall out of one cumulative
      // window over the day grain: n_at_risk(t) = total - all deaths and
      // censorings before t. Day rows without an exit are omitted
      // (hazard there is exactly 0). Everything after the per-user agg
      // is calendar-sized; exact integer ppm throughout
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val users = ev.groupBy("user_id")
        .agg(min(col("ts")).as("ft"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("fp"))
      val end = ev.agg(max(col("ts")).as("obs_end"))
      val exits = users.crossJoin(broadcast(end))
        .select(
          when(col("fp").isNotNull,
              datediff(to_date(col("fp")), to_date(col("ft"))))
            .otherwise(
              datediff(to_date(col("obs_end")), to_date(col("ft"))))
            .cast("long").as("t_day"),
          col("fp").isNotNull.as("is_conv"))
        .groupBy("t_day")
        .agg(sum(when(col("is_conv"), 1L).otherwise(0L))
            .as("n_converted"),
          sum(when(col("is_conv"), 0L).otherwise(1L)).as("n_censored"))
      val wOrd = Window.orderBy("t_day")
      val wAll = Window.partitionBy()
      exits
        .withColumn("total", sum(col("n_converted") + col("n_censored"))
          .over(wAll))
        .withColumn("prior", coalesce(
          sum(col("n_converted") + col("n_censored")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cum_conv", sum(col("n_converted")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("t_day"), (col("total") - col("prior"))
            .as("n_at_risk"),
          col("n_converted"), col("n_censored"),
          expr("n_converted * 1000000 div (total - prior)")
            .as("hazard_ppm"),
          expr("cum_conv * 1000000 div total").as("cum_conv_ppm"))
    }),
      """WITH ev AS (SELECT user_id, ts, event_type FROM events),
        |users AS (SELECT user_id, min(ts) AS ft,
        |min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        |FROM ev GROUP BY 1),
        |e AS (SELECT max(ts) AS obs_end FROM ev),
        |exits AS (SELECT
        |(CASE WHEN fp IS NOT NULL
        |  THEN date_diff('day', ft::DATE, fp::DATE)
        |  ELSE date_diff('day', ft::DATE, obs_end::DATE) END)::BIGINT
        |  AS t_day,
        |fp IS NOT NULL AS is_conv FROM users, e),
        |g AS (SELECT t_day,
        |sum(CASE WHEN is_conv THEN 1 ELSE 0 END)::BIGINT
        |  AS n_converted,
        |sum(CASE WHEN is_conv THEN 0 ELSE 1 END)::BIGINT AS n_censored
        |FROM exits GROUP BY 1),
        |w AS (SELECT t_day, n_converted, n_censored,
        |sum(n_converted + n_censored) OVER ()::BIGINT AS total,
        |coalesce(sum(n_converted + n_censored) OVER (ORDER BY t_day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  0)::BIGINT AS prior,
        |sum(n_converted) OVER (ORDER BY t_day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |  AS cum_conv
        |FROM g)
        |SELECT t_day, (total - prior) AS n_at_risk, n_converted,
        |n_censored,
        |n_converted * 1000000 // (total - prior) AS hazard_ppm,
        |cum_conv * 1000000 // total AS cum_conv_ppm
        |FROM w""".stripMargin),
    QueryDef("q75_market_basket", ((s, dir) => {
      // co-occurrence mining (market basket): part pairs appearing in the
      // same order, top 50 by support. The self-join key is the order —
      // fan-out is bounded by (items per order choose 2), a data-model
      // constant (<= 21 for 7-line orders), NOT corpus size; one shuffle
      // on orderkey, one aggregation on the pair
      // persisted: both self-join legs consume it, and the aggregate-leg
      // exchanges don't canonicalize equal, so unpersisted each leg
      // re-ran the scan+distinct (r11: 2 parquet scans -> 1)
      val items = graft.operators.PlanPersist("entry.q75.items",
        t(s, dir, "lineitem")
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
          .distinct())
      items.as("a").join(items.as("b"),
          col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
        .groupBy(col("a.pkey").as("part_a"), col("b.pkey").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(50)
    }),
      """WITH i AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
        |FROM lineitem)
        |SELECT a.pkey AS part_a, b.pkey AS part_b, count(*)::BIGINT AS n_orders
        |FROM i a JOIN i b ON a.okey = b.okey AND a.pkey < b.pkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b
        |LIMIT 50""".stripMargin),
    QueryDef("q63_mom_change", ((s, dir) => {
      // reporting staple: month-over-month revenue change per priority —
      // integer-cent monthly series, lag window, exact-int ratio
      val monthly = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
          col("o_orderpriority"))
        .agg(sum(floor(col("o_totalprice") * 100.0).cast("long")).as("cents"))
      val w = Window.partitionBy("o_orderpriority").orderBy("month")
      monthly.withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .select(col("month"), col("o_orderpriority"),
          fround(col("cents").cast("double") / 100.0, 2).as("revenue"),
          fround(col("prev_cents").cast("double") / 100.0, 2)
            .as("prev_revenue"),
          fround((col("cents") - col("prev_cents")).cast("double") /
            col("prev_cents"), 6).as("mom_change"))
    }),
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
        |o_orderpriority,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS cents
        |FROM orders GROUP BY 1, 2),
        |l AS (SELECT month, o_orderpriority, cents,
        |lag(cents) OVER (PARTITION BY o_orderpriority ORDER BY month)
        |  AS prev FROM m)
        |SELECT month, o_orderpriority,
        |floor(cents::DOUBLE / 100.0 * 100.0) / 100.0 AS revenue,
        |floor(prev::DOUBLE / 100.0 * 100.0) / 100.0 AS prev_revenue,
        |floor((cents - prev)::DOUBLE / prev * 1000000.0) / 1000000.0
        |  AS mom_change
        |FROM l""".stripMargin),
    QueryDef("q61_rolling_anomaly", ((s, dir) => {
      // time-series anomaly gate: hourly event counts vs a trailing-24h
      // baseline (RANGE frame over epoch seconds, excluding the current
      // hour). Mean/variance come from integer frame sums (sum, sum of
      // squares, n are BIGINT window aggs — order-free), so the z-score
      // divides exact integers: engine-identical
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("epoch", unix_timestamp(col("hour")))
      val w = Window.partitionBy("event_type").orderBy("epoch")
        .rangeBetween(-86400L, -3600L)
      hourly
        .withColumn("cnt_sum", sum(col("n")).over(w))
        .withColumn("cnt_sq", sum(col("n") * col("n")).over(w))
        .withColumn("cnt_k", count(col("n")).over(w))
        .filter(col("cnt_k") >= 12) // need a real baseline
        // var = (k*sumsq - sum^2) / (k*(k-1)); z = (n - mean)/sqrt(var)
        .withColumn("z",
          (col("n") * col("cnt_k") - col("cnt_sum")).cast("double") /
            (col("cnt_k").cast("double") *
              sqrt(greatest((col("cnt_k") * col("cnt_sq") -
                col("cnt_sum") * col("cnt_sum")).cast("double") /
                (col("cnt_k") * (col("cnt_k") - 1)).cast("double"),
                lit(1e-12)))))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_type"), col("hour"), col("n"),
          col("cnt_k").as("baseline_hours"), fround(col("z"), 4).as("z"))
    }),
      """WITH hourly AS (SELECT date_trunc('hour', ts::TIMESTAMP) AS hour,
        |event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
        |we AS (SELECT *, epoch(hour)::BIGINT AS ep FROM hourly),
        |fr AS (SELECT event_type, hour, n,
        |sum(n) OVER w AS cnt_sum, sum(n * n) OVER w AS cnt_sq,
        |count(n) OVER w AS cnt_k
        |FROM we WINDOW w AS (PARTITION BY event_type ORDER BY ep
        |RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)),
        |z AS (SELECT event_type, hour, n, cnt_k,
        |(n * cnt_k - cnt_sum)::DOUBLE / (cnt_k::DOUBLE *
        |sqrt(greatest((cnt_k * cnt_sq - cnt_sum * cnt_sum)::DOUBLE
        |  / (cnt_k * (cnt_k - 1))::DOUBLE, 1e-12))) AS z
        |FROM fr WHERE cnt_k >= 12)
        |SELECT event_type, hour, n, cnt_k AS baseline_hours,
        |floor(z * 10000.0) / 10000.0 AS z
        |FROM z WHERE abs(z) > 3.0""".stripMargin),
    QueryDef("q56_scd2", ((s, dir) => {
      // SCD2 dimension build from the event log: per-user event_type
      // timeline, consecutive duplicates collapsed, validity intervals
      // [valid_from, valid_to) from each change to the next — two windows
      // over ONE shuffle on user_id
      val ordW = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(ordW))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(ordW))
        .withColumn("valid_to", lead(col("ts"), 1).over(ordW))
        .select(col("user_id"), col("event_type").as("state"), col("version"),
          col("ts").as("valid_from"), col("valid_to"))
    }),
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type
        |FROM events),
        |ch AS (SELECT user_id, ts, event_id, event_type,
        |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS prev_type FROM e),
        |f AS (SELECT * FROM ch
        |WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS state,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::INT
        |  AS version,
        |ts AS valid_from,
        |lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS valid_to
        |FROM f""".stripMargin),
    QueryDef("q85_scd2_enrich", ((s, dir) => {
      // the canonical warehouse pattern: enrich each purchase with the
      // SCD2 state valid AT ITS TIME. Point-in-validity against an SCD2
      // dimension is an AS-OF join, NOT an interval join: SCD2 intervals
      // TILE time per user (row k's valid_to == row k+1's valid_from), so
      // "the state valid at p" is exactly "the latest state change
      // at-or-before p". AsOfJoin.leftAsOf does that with ONE window
      // shuffle on user_id and ZERO fan-out — bucketization is the tool
      // for OVERLAPPING intervals (q32); tiling intervals never need it
      // (an hour-bucket explode here is users x horizon-hours of rows,
      // because every user's open last state spans the whole remaining
      // corpus horizon). Zero-width intervals (two state changes at the
      // same ts — the earlier one never valid) are dropped AFTER version
      // numbering so surviving versions match the full SCD2 numbering.
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
      val ordW = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val scd = ev
        .withColumn("prev_type", lag(col("event_type"), 1).over(ordW))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(ordW))
        .withColumn("valid_to", lead(col("ts"), 1).over(ordW))
        .filter(col("valid_to").isNull || col("valid_to") =!= col("ts"))
        .select(col("user_id"), col("ts"),
          col("event_type").as("state"), col("version"))
      val pts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      AsOfJoin.leftAsOf(pts, scd, "user_id", "ts",
          Seq("state", "version"))
        .filter(col("asof_state").isNotNull)
        .select(col("user_id"), col("event_id"),
          col("asof_state").as("state"),
          col("asof_version").as("version"))
    }),
      """WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type
        |FROM events WHERE ts IS NOT NULL),
        |ch AS (SELECT user_id, ts, event_id, event_type,
        |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS prev_type FROM e),
        |f AS (SELECT * FROM ch
        |WHERE prev_type IS NULL OR prev_type <> event_type),
        |scd AS (SELECT user_id, event_type AS state,
        |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::INT
        |  AS version,
        |epoch_us(ts) AS lo,
        |epoch_us(lead(ts) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id)) AS hi
        |FROM f),
        |cap AS (SELECT epoch_us(max(ts)) + 1 AS hi_cap FROM e),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS pu FROM e
        |WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, s.state, s.version
        |FROM p JOIN scd s ON s.user_id = p.user_id, cap
        |WHERE p.pu >= s.lo AND p.pu < coalesce(s.hi, cap.hi_cap)""".stripMargin),
    QueryDef("q57_mad_outliers", ((s, dir) => {
      // robust per-group outlier gate: median + MAD instead of mean/stddev
      // (one wild value cannot move the fence). Exact percentile for the
      // oracle; the 100 TB mode swaps approx_percentile exactly as tx7b
      val ev = t(s, dir, "events").select("event_type", "value")
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val stats = ev.join(broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(first(col("med")).as("med"),
          expr("percentile(abs(value - med), 0.5)").as("mad"),
          count(lit(1)).as("n"))
      val outl = ev.join(broadcast(stats), "event_type")
        .filter(abs(col("value") - col("med")) > lit(3.0) * col("mad"))
        .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
      stats.join(outl, Seq("event_type"), "left")
        .select(col("event_type"), fround(col("med"), 6).as("med"),
          fround(col("mad"), 6).as("mad"), col("n"),
          coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
    }),
      """WITH med AS (SELECT event_type, median(value) AS med
        |FROM events GROUP BY 1),
        |stats AS (SELECT e.event_type, any_value(m.med) AS med,
        |median(abs(e.value - m.med)) AS mad, count(*)::BIGINT AS n
        |FROM events e JOIN med m USING (event_type) GROUP BY 1),
        |outl AS (SELECT e.event_type, count(*)::BIGINT AS n_outliers
        |FROM events e JOIN stats s USING (event_type)
        |WHERE abs(e.value - s.med) > 3.0 * s.mad GROUP BY 1)
        |SELECT s.event_type, floor(s.med * 1000000.0) / 1000000.0 AS med,
        |floor(s.mad * 1000000.0) / 1000000.0 AS mad, s.n,
        |coalesce(o.n_outliers, 0)::BIGINT AS n_outliers
        |FROM stats s LEFT JOIN outl o USING (event_type)""".stripMargin),
    QueryDef("q60_star_join", ((s, dir) => {
      // TPC-H Q5 shape: local-supplier revenue per nation inside one
      // region and one order year — the canonical star join. Dims
      // broadcast; only the fact-side keys drive shuffles. Revenue is
      // summed in integer cents (floored per row), so the aggregate is
      // order-free and engine-exact
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nat = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .withColumn("cents", floor(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 100.0).cast("long"))
        .groupBy(col("n_name").as("nation_name"))
        .agg(fround(sum(col("cents")).cast("double") / 100.0, 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
      """SELECT n_name AS nation_name,
        |floor(sum(floor(l_extendedprice * (1 - l_discount) * 100.0)::BIGINT)::DOUBLE
        |  / 100.0 * 100.0) / 100.0 AS revenue,
        |count(*)::BIGINT AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= '1996-01-01'
        |AND o_orderdate < '1997-01-01'
        |GROUP BY 1""".stripMargin),
    QueryDef("q62_timed_funnel", ((s, dir) => {
      // conversion funnel with a TIME BOUND: click -> purchase within 1h,
      // counted once per user — the interval-join form of q29's ordered
      // funnel, with the conversion share of clicking users
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").as("buy_ts"))
      val conv = clicks.join(buys, col("user_id") === col("b_user") &&
          col("buy_ts") > col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select("user_id").distinct()
      clicks.select("user_id").distinct()
        .agg(count(lit(1)).as("n_click_users"))
        .crossJoin(conv.agg(count(lit(1)).as("n_converted")))
        .select(col("n_click_users"), col("n_converted"),
          fround(col("n_converted").cast("double") /
            greatest(col("n_click_users"), lit(1L)), 4).as("conversion"))
    }),
      """WITH clicks AS (SELECT user_id, ts AS click_ts FROM events
        |WHERE event_type = 'click'),
        |buys AS (SELECT user_id, ts AS buy_ts FROM events
        |WHERE event_type = 'purchase'),
        |conv AS (SELECT DISTINCT c.user_id FROM clicks c JOIN buys b
        |ON b.user_id = c.user_id AND b.buy_ts > c.click_ts
        |AND b.buy_ts <= c.click_ts + INTERVAL 1 HOUR)
        |SELECT
        |(SELECT count(DISTINCT user_id) FROM clicks)::BIGINT
        |  AS n_click_users,
        |(SELECT count(*) FROM conv)::BIGINT AS n_converted,
        |floor((SELECT count(*) FROM conv)::DOUBLE /
        |greatest((SELECT count(DISTINCT user_id) FROM clicks), 1)
        |  * 10000.0) / 10000.0 AS conversion""".stripMargin),
    QueryDef("q59_id_gaps", ((s, dir) => {
      // sequence-completeness audit: missing event_id runs in the 'click'
      // subset. Scale-correct two-level shape: per-block windows (block =
      // id div 1024) find interior gaps in parallel; block summaries (one
      // row per block) stitch the boundaries — no global single-task sort
      val ids = t(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id"), expr("event_id div 1024").as("blk"))
      val wIn = Window.partitionBy("blk").orderBy("event_id")
      val interior = ids
        .withColumn("next_id", lead(col("event_id"), 1).over(wIn))
        .filter(col("next_id") - col("event_id") > 1)
        .select(col("event_id").as("gap_after"),
          (col("next_id") - col("event_id") - 1).as("n_missing"))
      val wBlk = Window.orderBy("blk") // one row per block: tiny
      val boundary = ids.groupBy("blk")
        .agg(min("event_id").as("first_id"), max("event_id").as("last_id"))
        .withColumn("next_first", lead(col("first_id"), 1).over(wBlk))
        .filter(col("next_first") - col("last_id") > 1)
        .select(col("last_id").as("gap_after"),
          (col("next_first") - col("last_id") - 1).as("n_missing"))
      interior.unionByName(boundary)
    }),
      """WITH ids AS (SELECT event_id FROM events WHERE event_type = 'click'),
        |g AS (SELECT event_id,
        |lead(event_id) OVER (ORDER BY event_id) AS next_id FROM ids)
        |SELECT event_id AS gap_after, (next_id - event_id - 1) AS n_missing
        |FROM g WHERE next_id - event_id > 1""".stripMargin),
    QueryDef("q70_skyline", ((s, dir) =>
      // 2-D Pareto frontier (cheapest-price / largest-size tradeoffs):
      // two running maxima over one-row-per-distinct-price decide
      // dominance in O(n log n) — same rows as the oracle's quadratic
      // NOT EXISTS self-join
      graft.operators.Skyline.pareto2(
          t(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
          minCol = "p_retailprice", maxCol = "p_size")
        .select(col("p_partkey"), fround(col("p_retailprice"), 2).as("price"),
          col("p_size"))),
      """SELECT p_partkey, floor(p_retailprice * 100.0) / 100.0 AS price,
        |  p_size
        |FROM part b
        |WHERE NOT EXISTS (SELECT 1 FROM part a
        |  WHERE a.p_retailprice <= b.p_retailprice AND a.p_size >= b.p_size
        |    AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size))""".stripMargin),
    QueryDef("q65_regression", ((s, dir) =>
      // per-group simple OLS via the single-pass mergeable regr_*
      // aggregates (sums of x, y, xy, x², one shuffle with map-side
      // combine) — the statistics shape behind drift monitors; truncated
      // below the engines' float-merge-order noise floor
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          fround(regr_slope(col("l_extendedprice"), col("l_quantity")), 2)
            .as("slope"),
          fround(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2)
            .as("intercept"),
          fround(regr_r2(col("l_extendedprice"), col("l_quantity")), 4)
            .as("r2"))),
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        |floor(regr_slope(l_extendedprice, l_quantity) * 100.0) / 100.0
        |  AS slope,
        |floor(regr_intercept(l_extendedprice, l_quantity) * 100.0) / 100.0
        |  AS intercept,
        |floor(regr_r2(l_extendedprice, l_quantity) * 10000.0) / 10000.0
        |  AS r2
        |FROM lineitem GROUP BY 1""".stripMargin),
    QueryDef("q66_ewma", ((s, dir) => {
      // exponential decay score over each user's daily event counts with
      // alpha = 1/2 and an 8-observation horizon: weights are powers of
      // two, counts are integers, so the score is EXACT integer arithmetic
      // (bit-identical across engines — no float tolerance needed) and the
      // double form is an exact dyadic rational. One shuffle on user_id
      // feeds the single window with all eight lag expressions.
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val score = (0 to 7).map(j =>
        coalesce(lag(col("cnt"), j).over(w), lit(0L)) *
          lit(1L << (7 - j))).reduce(_ + _)
      daily.select(col("user_id"), col("day"),
        col("cnt"), score.as("decay_score"),
        (score.cast("double") / 128.0).as("ewma"))
    }),
      """WITH daily AS (SELECT user_id, date_trunc('day', ts::TIMESTAMP)
        |  AS day, count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2)
        |SELECT user_id, day, cnt,
        |(cnt * 128 + coalesce(lag(cnt, 1) OVER w, 0) * 64
        | + coalesce(lag(cnt, 2) OVER w, 0) * 32
        | + coalesce(lag(cnt, 3) OVER w, 0) * 16
        | + coalesce(lag(cnt, 4) OVER w, 0) * 8
        | + coalesce(lag(cnt, 5) OVER w, 0) * 4
        | + coalesce(lag(cnt, 6) OVER w, 0) * 2
        | + coalesce(lag(cnt, 7) OVER w, 0))::BIGINT AS decay_score,
        |(cnt * 128 + coalesce(lag(cnt, 1) OVER w, 0) * 64
        | + coalesce(lag(cnt, 2) OVER w, 0) * 32
        | + coalesce(lag(cnt, 3) OVER w, 0) * 16
        | + coalesce(lag(cnt, 4) OVER w, 0) * 8
        | + coalesce(lag(cnt, 5) OVER w, 0) * 4
        | + coalesce(lag(cnt, 6) OVER w, 0) * 2
        | + coalesce(lag(cnt, 7) OVER w, 0)) / 128.0 AS ewma
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day)""".stripMargin),
    QueryDef("q67_countmin", ((s, dir) => {
      // Count-Min frequency sketch, engine-portable by construction: d=4
      // md5-derived hash rows × w=64 buckets (integer arithmetic only, so
      // the oracle rebuilds the identical sketch in SQL). Sketch build is
      // one groupBy(depth,bucket) over an explode(d) pass — map-side
      // combinable, 256 cells total regardless of key cardinality; the
      // top-10 probe estimates join the tiny sketch and take min over d.
      // Guarantee checked in-row: CMS never underestimates.
      val wdt = 64
      val keyed = t(s, dir, "orders").select(col("o_custkey"))
      def bucket(depth: Column, key: Column): Column =
        conv(substring(md5(concat(depth.cast("string"), lit(":"),
          key.cast("string"))), 1, 8), 16, 10).cast("long") % wdt
      val exploded = keyed
        .select(col("o_custkey"), explode(sequence(lit(0), lit(3))).as("d"))
        .withColumn("bucket", bucket(col("d"), col("o_custkey")))
      val sketch = exploded.groupBy("d", "bucket")
        .agg(count(lit(1)).as("cell"))
      val probes = keyed.groupBy("o_custkey")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("o_custkey")).limit(10)
      probes
        .select(col("o_custkey"), col("exact_cnt"),
          explode(sequence(lit(0), lit(3))).as("d"))
        .withColumn("bucket", bucket(col("d"), col("o_custkey")))
        .join(sketch, Seq("d", "bucket"))
        .groupBy("o_custkey", "exact_cnt")
        .agg(min(col("cell")).as("cms_estimate"))
        .select(col("o_custkey"), col("exact_cnt"), col("cms_estimate"),
          (col("cms_estimate") >= col("exact_cnt")).as("no_underestimate"))
    }),
      """WITH keyed AS (SELECT o_custkey FROM orders),
        |b AS (SELECT o_custkey, d,
        |  ('0x' || substr(md5(d::VARCHAR || ':' || o_custkey::VARCHAR),
        |    1, 8))::BIGINT % 64 AS bucket
        |  FROM keyed CROSS JOIN range(0, 4) r(d)),
        |sketch AS (SELECT d, bucket, count(*)::BIGINT AS cell
        |  FROM b GROUP BY 1, 2),
        |probes AS (SELECT o_custkey, count(*)::BIGINT AS exact_cnt
        |  FROM keyed GROUP BY 1
        |  ORDER BY exact_cnt DESC, o_custkey LIMIT 10),
        |pe AS (SELECT p.o_custkey, p.exact_cnt, r.d AS d,
        |  ('0x' || substr(md5(r.d::VARCHAR || ':' || p.o_custkey::VARCHAR),
        |    1, 8))::BIGINT % 64 AS bucket
        |  FROM probes p CROSS JOIN range(0, 4) r(d))
        |SELECT pe.o_custkey, pe.exact_cnt,
        |  min(s.cell)::BIGINT AS cms_estimate,
        |  min(s.cell) >= pe.exact_cnt AS no_underestimate
        |FROM pe JOIN sketch s USING (d, bucket)
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("q89_rfm_segments", ((s, dir) => {
      // RFM customer segmentation: recency/frequency/monetary quintiles
      // from the VALUE domain (tx38's exclusive-higher-count discipline
      // — no global row sort; ties share a score), monetary in exact
      // integer cents, segment = concatenated scores. One customer agg
      // (persisted: three scorers + the final join read it) + three
      // value-domain window frames joined back
      val cust = graft.operators.PlanPersist("entry.rfm.cust",
        t(s, dir, "orders").groupBy("o_custkey").agg(
          max(col("o_orderdate")).as("r_v"),
          count(lit(1)).as("f_v"),
          sum(floor(col("o_totalprice") * 100.0).cast("long")).as("m_v")))
      def score(vcol: String, sname: String) = {
        val byVal = cust.groupBy(vcol).agg(count(lit(1)).as("c"))
        val tot = byVal.agg(sum(col("c")).as("n"))
        byVal.withColumn("cb", coalesce(sum(col("c")).over(
            Window.orderBy(col(vcol).desc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col(vcol),
            (lit(5L) - least(expr("cb * 5 div n"), lit(4L))).as(sname))
      }
      cust.join(score("r_v", "r_score"), "r_v")
        .join(score("f_v", "f_score"), "f_v")
        .join(score("m_v", "m_score"), "m_v")
        .select(col("o_custkey"), col("r_score"), col("f_score"),
          col("m_score"),
          concat(col("r_score").cast("string"),
            col("f_score").cast("string"),
            col("m_score").cast("string")).as("segment"))
    }), {
      def sc(m: String, s: String) =
        s"""${m}b AS (SELECT ${m}_v, count(*)::BIGINT AS c
           |FROM cust GROUP BY 1),
           |${m}s AS (SELECT ${m}_v,
           |(5 - least(coalesce(cb, 0)::BIGINT * 5
           |  // (SELECT sum(c)::BIGINT FROM ${m}b), 4))::BIGINT AS $s
           |FROM (SELECT ${m}_v, sum(c) OVER (ORDER BY ${m}_v DESC
           |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cb
           |FROM ${m}b))""".stripMargin
      """WITH cust AS (SELECT o_custkey, max(o_orderdate) AS r_v,
        |count(*)::BIGINT AS f_v,
        |sum(floor(o_totalprice * 100.0)::BIGINT)::BIGINT AS m_v
        |FROM orders GROUP BY 1),
        |""".stripMargin +
        Seq(sc("r", "r_score"), sc("f", "f_score"), sc("m", "m_score"))
          .mkString(",\n") +
        """
          |SELECT c.o_custkey, rs.r_score, fs.f_score, ms.m_score,
          |rs.r_score::VARCHAR || fs.f_score::VARCHAR
          |  || ms.m_score::VARCHAR AS segment
          |FROM cust c JOIN rs USING (r_v) JOIN fs USING (f_v)
          |JOIN ms USING (m_v)""".stripMargin
    }),
    QueryDef("q88_sketch_rollup", ((s, dir) => {
      // the sketch-reaggregation pattern: one Count-Min sketch PER DAY
      // of events (the artifact a pipeline persists at ingest), merged
      // by CMS linearity into a whole-corpus sketch — 256 rows per day
      // in, never a raw re-scan — then probed for the top-10 users.
      // exact_cnt rides along purely to exhibit the no-underestimate
      // guarantee in-row
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val daily = graft.operators.Sketches.countMinByGroup(
        ev, "day", "user_id")
      val merged = graft.operators.Sketches.mergeCountMin(daily)
      val probes = ev.groupBy("user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("user_id")).limit(10)
      graft.operators.Sketches.probeCountMin(merged, probes, "user_id")
        .select(col("user_id"), col("exact_cnt"), col("cms_estimate"),
          (col("cms_estimate") >= col("exact_cnt")).as("no_underestimate"))
    }),
      """WITH e AS (SELECT user_id, ts::TIMESTAMP::DATE AS day
        |FROM events),
        |b AS (SELECT day, user_id, d,
        |('0x' || substr(md5(d::VARCHAR || ':' || user_id::VARCHAR),
        |  1, 8))::BIGINT % 64 AS bucket
        |FROM e CROSS JOIN range(0, 4) r(d)),
        |daily AS (SELECT day, d, bucket, count(*)::BIGINT AS cell
        |FROM b GROUP BY 1, 2, 3),
        |merged AS (SELECT d, bucket, sum(cell)::BIGINT AS cell
        |FROM daily GROUP BY 1, 2),
        |probes AS (SELECT user_id, count(*)::BIGINT AS exact_cnt
        |FROM e GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 10),
        |pe AS (SELECT p.user_id, p.exact_cnt, r.d AS d,
        |('0x' || substr(md5(r.d::VARCHAR || ':' || p.user_id::VARCHAR),
        |  1, 8))::BIGINT % 64 AS bucket
        |FROM probes p CROSS JOIN range(0, 4) r(d))
        |SELECT pe.user_id, pe.exact_cnt,
        |min(m.cell)::BIGINT AS cms_estimate,
        |min(m.cell) >= pe.exact_cnt AS no_underestimate
        |FROM pe JOIN merged m USING (d, bucket)
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("q68_interval_allocate", ((s, dir) => {
      // interval-to-bucket pro-rating: each event becomes a deterministic
      // [ts, ts + (event_id mod 7200) s) interval whose duration is
      // allocated to every hour bucket it overlaps — sequence + explode
      // (a row becomes at most ceil(dur/1h)+1 rows, no join against a
      // calendar table), overlap computed exactly in BIGINT microseconds.
      // The utilization/billing shape: shuffle only for the final
      // per-hour reduction.
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        timestamp_micros(unix_micros(col("ts")) +
          (col("event_id") % 7200) * 1000000L).as("en"))
      ev.select(col("ts"), col("en"),
          explode(sequence(date_trunc("hour", col("ts")),
            date_trunc("hour", col("en")),
            expr("interval 1 hour"))).as("h"))
        .select(col("h"),
          (least(unix_micros(col("en")),
              unix_micros(col("h") + expr("interval 1 hour"))) -
            greatest(unix_micros(col("ts")), unix_micros(col("h"))))
            .as("overlap_us"))
        .filter(col("overlap_us") > 0)
        .groupBy(col("h").as("hour_start"))
        .agg(sum(col("overlap_us")).as("busy_us"),
          count(lit(1)).as("n_intervals"))
    }),
      """WITH ev AS (SELECT event_id, ts::TIMESTAMP AS ts,
        |  ts::TIMESTAMP + to_seconds(event_id % 7200) AS en FROM events),
        |e2 AS (SELECT ts, en,
        |  unnest(generate_series(date_trunc('hour', ts),
        |    date_trunc('hour', en), INTERVAL 1 HOUR)) AS h FROM ev),
        |o AS (SELECT h,
        |  least(epoch_us(en), epoch_us(h + INTERVAL 1 HOUR)) -
        |  greatest(epoch_us(ts), epoch_us(h)) AS overlap_us FROM e2)
        |SELECT h AS hour_start, sum(overlap_us)::BIGINT AS busy_us,
        |  count(*)::BIGINT AS n_intervals
        |FROM o WHERE overlap_us > 0 GROUP BY 1""".stripMargin),
    QueryDef("q71_ohlc_bars", ((s, dir) => {
      // time-series downsampling to OHLC bars: per (event_type, hour) the
      // opening/high/low/closing `value` plus exact micro-unit volume —
      // the market-data / metrics-rollup shape. Open/close come from
      // boundary row_numbers (ties broken by event_id, deterministic on
      // any partitioning); the windows and the aggregation share the
      // (event_type, hour) keys, so one shuffle serves both.
      val e = t(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bar_ts"),
          col("ts"), col("event_id"), col("value"))
      val asc = Window.partitionBy("event_type", "bar_ts")
        .orderBy(col("ts").asc, col("event_id").asc)
      val desc = Window.partitionBy("event_type", "bar_ts")
        .orderBy(col("ts").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy("event_type", "bar_ts")
        .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * lit(1e6)).cast("long")).as("vol_u"))
    }),
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |ts, event_id, value FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT *,
        |row_number() OVER (PARTITION BY event_type, bar_ts
        |ORDER BY ts, event_id) AS rn_a,
        |row_number() OVER (PARTITION BY event_type, bar_ts
        |ORDER BY ts DESC, event_id DESC) AS rn_d FROM e)
        |SELECT event_type, bar_ts,
        |max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |max(value) AS high, min(value) AS low,
        |max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |count(*)::BIGINT AS n_events,
        |sum(floor(value * 1e6)::BIGINT)::BIGINT AS vol_u
        |FROM r GROUP BY 1, 2""".stripMargin),
    QueryDef("q72_gapfill", ((s, dir) => {
      // time-series gap-fill + linear interpolation: a sparse daily series
      // (high-value events only) is re-gridded onto the full per-type day
      // spine; missing days get floor-linear interpolation between the
      // bracketing observations (trailing gaps forward-fill, leading gaps
      // stay null). Integer-cent carry keeps the interpolation exact and
      // order-free. One groupBy + a 1-row-broadcast spine cross + two
      // windows over the SAME (event_type, day) partitioning — the spine
      // is bounded by calendar span, never by |events|.
      val ev = t(s, dir, "events").filter(col("value") > 300)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100.0).cast("long")).as("cents"))
      val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val spine = daily.select("event_type").distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val wPrev = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
      val known = when(col("cents").isNotNull, col("day"))
      val g = spine.join(daily, Seq("event_type", "day"), "left")
        .withColumn("prev_cents", last(col("cents"), ignoreNulls = true).over(wPrev))
        .withColumn("prev_day", last(known, ignoreNulls = true).over(wPrev))
        .withColumn("next_cents", first(col("cents"), ignoreNulls = true).over(wNext))
        .withColumn("next_day", first(known, ignoreNulls = true).over(wNext))
      val interp = col("prev_cents") +
        floor((col("next_cents") - col("prev_cents")).cast("double") *
          datediff(col("day"), col("prev_day")) /
          datediff(col("next_day"), col("prev_day"))).cast("long")
      g.select(col("event_type"),
        // DATE surfaces as a python date from Spark parquet but as a
        // midnight datetime64 from DuckDB's .df() — emit TIMESTAMP so both
        // engines render identically in the oracle gate's canonical form
        col("day").cast("timestamp").as("day"),
        fround(col("cents").cast("double") / 100.0, 2).as("observed"),
        fround(when(col("cents").isNotNull, col("cents"))
          .when(col("prev_cents").isNotNull && col("next_cents").isNotNull, interp)
          .otherwise(col("prev_cents"))
          .cast("double") / 100.0, 2).as("filled"))
    }),
      """WITH ev AS (SELECT event_type, ts::DATE AS day, value
        |FROM events WHERE value > 300),
        |daily AS (SELECT event_type, day,
        |sum(CAST(floor(value * 100.0) AS BIGINT)) AS cents
        |FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |spine AS (SELECT event_type,
        |unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |FROM (SELECT DISTINCT event_type FROM daily), span),
        |j AS (SELECT s.event_type, s.day, d.cents FROM spine s
        |LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day),
        |w AS (SELECT event_type, day, cents,
        |last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_cents,
        |last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
        |OVER (PARTITION BY event_type ORDER BY day
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
        |first_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
        |ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_cents,
        |first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
        |OVER (PARTITION BY event_type ORDER BY day
        |ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
        |FROM j)
        |SELECT event_type, day,
        |floor(cents / 100.0 * 100.0) / 100.0 AS observed,
        |floor((CASE WHEN cents IS NOT NULL THEN cents
        |WHEN prev_cents IS NOT NULL AND next_cents IS NOT NULL THEN
        |prev_cents + CAST(floor((next_cents - prev_cents) * 1.0 *
        |date_diff('day', prev_day, day) /
        |date_diff('day', prev_day, next_day)) AS BIGINT)
        |ELSE prev_cents END) / 100.0 * 100.0) / 100.0 AS filled
        |FROM w""".stripMargin),
    QueryDef("q73_ab_test", ((s, dir) => {
      // experiment readout: users split into two deterministic arms
      // (user_id parity stands in for the assignment hash), conversion =
      // a high-value purchase (plain purchase saturates at 100% in this
      // corpus, which degenerates the pooled variance to zero); the
      // two-proportion pooled z-statistic decides significance. Two hash
      // aggregations (user grain, then arm grain) and a 1-row result —
      // nothing here grows with |events| beyond the user-grain combine.
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150, 1).otherwise(0))
          .as("converted"))
        .withColumn("arm",
          when(col("user_id") % 2 === 0, "control").otherwise("treatment"))
      val arms = users.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
      val one = arms.agg(
        max(when(col("arm") === "control", col("n"))).as("n_control"),
        max(when(col("arm") === "control", col("conv"))).as("conv_control"),
        max(when(col("arm") === "treatment", col("n"))).as("n_treatment"),
        max(when(col("arm") === "treatment", col("conv"))).as("conv_treatment"))
      val p1 = col("conv_control").cast("double") / col("n_control")
      val p2 = col("conv_treatment").cast("double") / col("n_treatment")
      val pPool = (col("conv_control") + col("conv_treatment")).cast("double") /
        (col("n_control") + col("n_treatment"))
      val z = (p2 - p1) / sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_control") + lit(1.0) / col("n_treatment")))
      one.select(col("n_control"), col("conv_control"),
        col("n_treatment"), col("conv_treatment"),
        fround(p2 - p1, 6).as("rate_diff"),
        fround(z, 4).as("z_stat"),
        (abs(z) > 1.96).as("significant"))
    }),
      """WITH u AS (SELECT user_id,
        |max(CASE WHEN event_type = 'purchase' AND value > 150
        |THEN 1 ELSE 0 END) AS converted,
        |CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS arm
        |FROM events GROUP BY user_id),
        |a AS (SELECT arm, count(*)::BIGINT AS n, sum(converted)::BIGINT AS conv
        |FROM u GROUP BY 1),
        |one AS (SELECT
        |max(CASE WHEN arm = 'control' THEN n END) AS n_control,
        |max(CASE WHEN arm = 'control' THEN conv END) AS conv_control,
        |max(CASE WHEN arm = 'treatment' THEN n END) AS n_treatment,
        |max(CASE WHEN arm = 'treatment' THEN conv END) AS conv_treatment
        |FROM a),
        |s AS (SELECT *,
        |conv_control * 1.0 / n_control AS p1,
        |conv_treatment * 1.0 / n_treatment AS p2,
        |(conv_control + conv_treatment) * 1.0 / (n_control + n_treatment) AS pp
        |FROM one),
        |zs AS (SELECT *,
        |(p2 - p1) / sqrt(pp * (1.0 - pp) * (1.0 / n_control + 1.0 / n_treatment)) AS z
        |FROM s)
        |SELECT n_control, conv_control, n_treatment, conv_treatment,
        |floor((p2 - p1) * 1000000.0) / 1000000.0 AS rate_diff,
        |floor(z * 10000.0) / 10000.0 AS z_stat,
        |abs(z) > 1.96 AS significant FROM zs""".stripMargin),
    QueryDef("q74_attribution", ((s, dir) => {
      // last-touch marketing attribution: each purchase credits the most
      // recent preceding non-purchase event of the same user (ties broken
      // by event_id — deterministic on any partitioning); purchases with
      // no preceding touch are 'direct'. One window over the user grain,
      // one arm-length aggregation; revenue carried in integer cents.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("last_touch"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          fround(sum(floor(col("value") * 100.0).cast("long"))
            .cast("double") / 100.0, 2).as("attributed_revenue"))
    }),
      """WITH t AS (SELECT user_id, event_id, ts, event_type, value,
        |last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |FROM events)
        |SELECT coalesce(last_touch, 'direct') AS channel,
        |count(*)::BIGINT AS n_purchases,
        |floor(sum(CAST(floor(value * 100.0) AS BIGINT)) / 100.0 * 100.0) / 100.0
        |AS attributed_revenue
        |FROM t WHERE event_type = 'purchase' GROUP BY 1""".stripMargin),
    QueryDef("q58_equidepth_hist", ((s, dir) =>
      // equi-depth (quantile) histogram: ntile splits each priority's
      // price distribution into 4 equal-count buckets; per-bucket bounds
      // + counts are the optimizer-statistics shape (complements q42's
      // equi-width bins)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"),
          ntile(4).over(Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice"), col("o_orderkey"))).as("bucket"))
        .groupBy("o_orderpriority", "bucket")
        .agg(count(lit(1)).as("n"),
          fround(min(col("o_totalprice")), 2).as("lo"),
          fround(max(col("o_totalprice")), 2).as("hi"))),
      """WITH t AS (SELECT o_orderpriority, o_totalprice,
        |ntile(4) OVER (PARTITION BY o_orderpriority
        |ORDER BY o_totalprice, o_orderkey) AS bucket FROM orders)
        |SELECT o_orderpriority, bucket::INT AS bucket, count(*)::BIGINT AS n,
        |floor(min(o_totalprice) * 100.0) / 100.0 AS lo,
        |floor(max(o_totalprice) * 100.0) / 100.0 AS hi
        |FROM t GROUP BY 1, 2""".stripMargin)
  )
}

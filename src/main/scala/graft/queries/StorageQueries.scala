package graft
package queries

import graft.catalog.Catalog
import graft.functions.TextFunctions
import graft.functions.NumericFunctions.fround

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `s` family: catalog discovery, scans, file formats, layout and
  * storage audits over the fixture tables. */
private[queries] object StorageQueries {
  import QueryKit._

  val all: Seq[QueryDef] = Seq(
    QueryDef("s1_discovery", ((s, dir) => {
      import s.implicits._
      Catalog.discoverTables(dir, s.sparkContext.hadoopConfiguration)
        .toDF("table_name")
    }),
      """SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'), ('events'),
        |('lineitem'), ('nation'), ('orders'), ('part'), ('region'), ('supplier'))
        |AS t(table_name)""".stripMargin),
    QueryDef("s4_pk_probe", ((s, _) => {
      import s.implicits._
      // reference uses only the FIRST pk column (common/db.py:449-452)
      Tables.specs.map(sp => (sp.name, sp.pk.head)).sortBy(_._1)
        .toDF("table_name", "pk_first")
    }),
      """SELECT * FROM (VALUES
        |('customer', 'c_custkey'), ('documents', 'doc_id'), ('embeddings', 'vec_id'),
        |('events', 'event_id'), ('lineitem', 'l_orderkey'), ('nation', 'n_nationkey'),
        |('orders', 'o_orderkey'), ('part', 'p_partkey'), ('region', 'r_regionkey'),
        |('supplier', 's_suppkey')) AS t(table_name, pk_first)""".stripMargin),
    QueryDef("s6_filtered_scan", ((s, dir) => archivedOrders(s, dir)),
      s"SELECT * FROM orders WHERE o_orderdate IS NOT NULL AND o_orderdate <= TIMESTAMP '$Cutoff'"),
    QueryDef("s9_csv_roundtrip", ((s, dir) => {
      // CSV writer + reader fidelity: doubles survive because Spark writes
      // shortest-roundtrip representations; the oracle reads the SAME rows
      // from parquet, so any text-format loss would hash-mismatch
      val out = tmpPath("graft-csv")
      val src = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") % 100 === 0)
      src.write.mode("overwrite").option("header", "true")
        .csv(out.toString)
      s.read.option("header", "true").schema(src.schema).csv(out.toString)
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin),
    QueryDef("s10_json_roundtrip", ((s, dir) => {
      // JSON-lines writer + reader fidelity, schema-first read (no
      // inference pass — the 100 TB contract: schema travels with the
      // catalog, not re-derived per scan)
      val out = tmpPath("graft-json")
      val src = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") % 100 === 0)
      src.write.mode("overwrite").json(out.toString)
      s.read.schema(src.schema).json(out.toString)
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin),
    QueryDef("s8_column_stats", ((s, dir) => {
      // ANALYZE-style catalog statistics: ndv / null count / min / max per
      // column in ONE aggregation pass (Spark expands the multi-distinct
      // internally), stacked to the long (column_name, ...) catalog shape
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val aggs = cols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"${c}__ndv"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max")))
      t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${cols.size}, " +
          cols.map(c => s"'$c', ${c}__ndv, ${c}__nulls, ${c}__min, ${c}__max")
            .mkString(", ") +
          ") as (column_name, ndv, n_nulls, min_v, max_v)"))
    }),
      """SELECT 'o_orderkey' AS column_name, count(DISTINCT o_orderkey) AS ndv,
        |sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
        |min(o_orderkey)::DOUBLE AS min_v, max(o_orderkey)::DOUBLE AS max_v
        |FROM orders
        |UNION ALL SELECT 'o_custkey', count(DISTINCT o_custkey),
        |sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |min(o_custkey)::DOUBLE, max(o_custkey)::DOUBLE FROM orders
        |UNION ALL SELECT 'o_totalprice', count(DISTINCT o_totalprice),
        |sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE FROM orders""".stripMargin),
    QueryDef("s21_skew_audit", ((s, dir) =>
      // per-join-key skew profile (rows, keys, heaviest key, max/mean
      // ratio) — the measurement that decides salting vs plain hash
      // before a 100 TB join; one map-side-combined pass per column
      graft.operators.SkewAudit.keyProfile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),
      """SELECT 'l_orderkey' AS key_col, sum(c)::BIGINT AS n_rows,
        |count(*)::BIGINT AS n_keys, max(c)::BIGINT AS max_key_rows,
        |floor((max(c) * count(*))::DOUBLE / sum(c) * 10000.0) / 10000.0
        |  AS skew_ratio
        |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)
        |UNION ALL
        |SELECT 'l_partkey', sum(c)::BIGINT, count(*)::BIGINT,
        |max(c)::BIGINT,
        |floor((max(c) * count(*))::DOUBLE / sum(c) * 10000.0) / 10000.0
        |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey)
        |UNION ALL
        |SELECT 'l_suppkey', sum(c)::BIGINT, count(*)::BIGINT,
        |max(c)::BIGINT,
        |floor((max(c) * count(*))::DOUBLE / sum(c) * 10000.0) / 10000.0
        |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_suppkey)""".stripMargin),
    QueryDef("s22_file_inventory", ((s, dir) => {
      // physical-layout inventory from input_file_name(): first WRITE a
      // deterministic hash-bucketed layout (partitionBy over 4 md5
      // buckets — every bucket's rows land in one task, so exactly one
      // file per bucket dir), then inventory THAT scan — the per-file
      // row counts surface through real input_file_name() plumbing yet
      // equal the per-bucket counts the pathless oracle reproduces.
      // FileAuditSpec gates arbitrary layouts incl. the UUID basenames.
      val out = s22LayoutDir(s, dir)
      graft.operators.FileAudit.fileInventory(s, Seq("documents" -> out))
        .select(col("tbl"), col("file_dir").as("part_dir"), col("n_rows"))
    }),
      // the Spark side writes one file per md5 bucket (partitionBy), so
      // the per-file row counts the input_file_name() scan reports are
      // exactly the per-bucket counts; part_dir is the partition value
      // dir, the only deterministic component of the file path
      """SELECT 'documents' AS tbl, 'b=' || b::VARCHAR AS part_dir,
        |count(*)::BIGINT AS n_rows FROM
        |(SELECT (strpos('123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) * 16 +
        | strpos('123456789abcdef', substr(md5(doc_id::VARCHAR), 2, 1)))::INT % 4 AS b
        |FROM documents) GROUP BY b""".stripMargin),
    QueryDef("s23_coherent_sample", ((s, dir) => {
      // referential-integrity-preserving sampling: hash-sample the ROOT
      // table, semi-join each child level down the FK chain — every
      // sampled lineitem still has its order and customer (a per-table
      // Bernoulli sample orphans ~90% of child rows). The dev-fixture /
      // debug-subset generator; summary row per table
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val sc = graft.operators.Sampling.hashPrefixSample(cust, "c_custkey",
        "1a")
      val so = ord.join(sc.select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"), "left_semi")
      val sl = li.join(so.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      def row(name: String, all: org.apache.spark.sql.DataFrame,
          sampled: org.apache.spark.sql.DataFrame) =
        all.agg(count(lit(1)).as("n_total"))
          .crossJoin(sampled.agg(count(lit(1)).as("n_sampled")))
          .select(lit(name).as("tbl"), col("n_total"), col("n_sampled"),
            fround(col("n_sampled").cast("double") / col("n_total"), 4)
              .as("frac"))
      row("customer", cust, sc)
        .unionAll(row("orders", ord, so))
        .unionAll(row("lineitem", li, sl))
    }),
      """WITH sc AS (SELECT c_custkey FROM customer
        |WHERE substr(md5(c_custkey::VARCHAR), 1, 2) < '1a'),
        |so AS (SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM sc)),
        |sl AS (SELECT l_orderkey FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM so))
        |SELECT 'customer' AS tbl,
        |(SELECT count(*) FROM customer)::BIGINT AS n_total,
        |(SELECT count(*) FROM sc)::BIGINT AS n_sampled,
        |floor((SELECT count(*) FROM sc)::DOUBLE
        |  / (SELECT count(*) FROM customer) * 10000.0) / 10000.0 AS frac
        |UNION ALL SELECT 'orders',
        |(SELECT count(*) FROM orders)::BIGINT,
        |(SELECT count(*) FROM so)::BIGINT,
        |floor((SELECT count(*) FROM so)::DOUBLE
        |  / (SELECT count(*) FROM orders) * 10000.0) / 10000.0
        |UNION ALL SELECT 'lineitem',
        |(SELECT count(*) FROM lineitem)::BIGINT,
        |(SELECT count(*) FROM sl)::BIGINT,
        |floor((SELECT count(*) FROM sl)::DOUBLE
        |  / (SELECT count(*) FROM lineitem) * 10000.0) / 10000.0""".stripMargin),
    QueryDef("s24_coalesce_plan", ((s, dir) =>
      // partition-coalescence planning: contiguous daily partitions merge
      // into rewrite groups of >= 2k rows (exclusive running total div
      // target) — date clustering preserved so min/max pruning survives
      // the rewrite; one day-level agg + a calendar-bounded window
      graft.operators.Compaction.coalescePlan(
        t(s, dir, "events"), "ts", targetRows = 2000L)),
      """WITH daily AS (SELECT ts::DATE AS d, count(*)::BIGINT AS nr
        |FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |c AS (SELECT d, nr, coalesce(sum(nr) OVER (ORDER BY d
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |AS cb FROM daily)
        |SELECT cb // 2000 AS grp, count(*)::BIGINT AS n_days,
        |min(d)::VARCHAR AS d_from, max(d)::VARCHAR AS d_to,
        |sum(nr)::BIGINT AS total_rows
        |FROM c GROUP BY 1""".stripMargin),
    QueryDef("s25_stats_rollup", ((s, dir) => {
      // incremental catalog statistics: per-ingest-day column stats
      // artifacts (counts/extrema + KMV bottom-k for NDV) merged into
      // whole-table stats with zero raw re-scan — bottom-k of per-day
      // bottom-k's IS the union's bottom-k, exactly. exact_distinct
      // rides along to exhibit estimator quality in-row
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = graft.operators.Sketches.columnStatsByGroup(
        ev, "day", "user_id")
      graft.operators.Sketches.mergeColumnStats(daily)
        .crossJoin(broadcast(ev.agg(
          countDistinct(col("user_id")).as("exact_distinct"))))
    }),
      """WITH e AS (SELECT ts::TIMESTAMP::DATE AS day, user_id AS v
        |FROM events),
        |per AS (SELECT day, count(*)::BIGINT AS n_rows,
        |count(*) FILTER (WHERE v IS NULL)::BIGINT AS n_nulls,
        |min(v) AS min_v, max(v) AS max_v FROM e GROUP BY 1),
        |hs AS (SELECT DISTINCT day, (v * 2654435761) % 2147483648 AS h
        |FROM e WHERE v IS NOT NULL),
        |pk AS (SELECT day, list_sort(list(h))[1:16] AS kmv
        |FROM hs GROUP BY 1),
        |m AS (SELECT sum(n_rows)::BIGINT AS n_rows,
        |sum(n_nulls)::BIGINT AS n_nulls,
        |min(min_v) AS min_v, max(max_v) AS max_v FROM per),
        |mh AS (SELECT DISTINCT unnest(kmv) AS h FROM pk),
        |mk AS (SELECT list_sort(list(h))[1:16] AS kmv FROM mh),
        |ex AS (SELECT count(DISTINCT v)::BIGINT AS exact_distinct
        |FROM e WHERE v IS NOT NULL)
        |SELECT m.n_rows, m.n_nulls, m.min_v, m.max_v,
        |array_to_string(mk.kmv, ',') AS kmv_sketch,
        |floor((CASE WHEN len(mk.kmv) < 16 THEN len(mk.kmv)::DOUBLE
        |ELSE 15.0 * 2147483648.0 / mk.kmv[16] END) * 100.0) / 100.0
        |  AS est_distinct,
        |ex.exact_distinct
        |FROM m, mk, ex""".stripMargin),
    QueryDef("s27_sliding_quantile", ((s, dir) => {
      // trailing-7-day p50/p95 of event value, daily — answered
      // ENTIRELY from merged per-day histograms (s26's shape for
      // percentiles, completing the mergeable algebra: CMS counts, KMV
      // NDV, MG heavy hitters, histogram quantiles): one corpus pass
      // builds <=1024-bucket daily artifacts, every window after that
      // adds 7 constant-size frames. 64-cent grid over the [0, 655.36)
      // value domain; answers are bucket lower edges by convention
      val ev = t(s, dir, "events")
        .select(datediff(to_date(col("ts")), lit("1970-01-01"))
            .cast("long").as("day"),
          floor(col("value") * 100.0).cast("long").as("cents"))
      graft.operators.Sketches.slidingQuantile(
        graft.operators.Sketches.histogramByGroup(
          ev, "day", "cents", bucketWidth = 64L, nBuckets = 1024),
        "grp", windowDays = 7, bucketWidth = 64L, quantilesPc = Seq(50, 95))
    }),
      // identical daily histograms, window join restricted to existing
      // anchor days, ceil-k bucket pick per quantile
      """WITH e AS (SELECT datediff('day', DATE '1970-01-01',
        |ts::TIMESTAMP::DATE)::BIGINT AS day,
        |floor(value * 100.0)::BIGINT AS cents FROM events),
        |daily AS (SELECT day, least(greatest(cents // 64, 0), 1023)
        |  AS bucket, count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
        |anchors AS (SELECT DISTINCT day AS wd FROM daily),
        |merged AS (SELECT a.wd, d.bucket, sum(d.cnt)::BIGINT AS cnt
        |FROM anchors a JOIN daily d
        |ON d.day BETWEEN a.wd - 6 AND a.wd GROUP BY 1, 2),
        |cum AS (SELECT wd, bucket, cnt,
        |sum(cnt) OVER (PARTITION BY wd ORDER BY bucket)::BIGINT AS cum,
        |sum(cnt) OVER (PARTITION BY wd)::BIGINT AS n FROM merged),
        |q AS (SELECT wd, 50::BIGINT AS q_pc, max(n)::BIGINT AS n_window,
        |(min(bucket) * 64)::BIGINT AS lo_cents FROM cum
        |WHERE cum >= (n * 50 + 99) // 100 GROUP BY 1
        |UNION ALL
        |SELECT wd, 95::BIGINT, max(n)::BIGINT,
        |(min(bucket) * 64)::BIGINT FROM cum
        |WHERE cum >= (n * 95 + 99) // 100 GROUP BY 1)
        |SELECT wd AS d, q_pc, n_window, lo_cents FROM q""".stripMargin),
    QueryDef("s26_sliding_ndv", ((s, dir) => {
      // trailing-7-day distinct users, daily — answered entirely from
      // the s25/dq8 per-day KMV artifacts (bottom-k of a union = bottom-k
      // of the per-day bottom-k's): one corpus pass builds the daily
      // sketches, every window after that merges 7 constant-size lists.
      // The naive form re-scans 7 days of facts per report day
      val ev = t(s, dir, "events")
        .select(datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"), col("user_id"))
      graft.operators.Sketches.slidingNdv(
        graft.operators.Sketches.columnStatsByGroup(
          ev, "day", "user_id", 16),
        "grp", windowDays = 7, k = 16)
    }),
      """WITH e AS (SELECT datediff('day', DATE '1970-01-01',
        |ts::TIMESTAMP::DATE)::BIGINT AS day, user_id AS v FROM events),
        |per AS (SELECT day, count(*)::BIGINT AS n_rows FROM e GROUP BY 1),
        |hs AS (SELECT DISTINCT day, (v * 2654435761) % 2147483648 AS h
        |FROM e WHERE v IS NOT NULL),
        |pk AS (SELECT day, list_sort(list(h))[1:16] AS kmv
        |FROM hs GROUP BY 1),
        |art AS (SELECT per.day, per.n_rows,
        |coalesce(pk.kmv, []::BIGINT[]) AS kmv
        |FROM per LEFT JOIN pk ON pk.day = per.day),
        |exp AS (SELECT n_rows, kmv, unnest(range(day, day + 7)) AS wd
        |FROM art),
        |anch AS (SELECT exp.* FROM exp
        |JOIN (SELECT DISTINCT day AS wd FROM art) dd ON dd.wd = exp.wd),
        |base AS (SELECT wd, count(*)::BIGINT AS n_days,
        |sum(n_rows)::BIGINT AS n_rows_win FROM anch GROUP BY 1),
        |uh AS (SELECT DISTINCT wd, h FROM
        |(SELECT wd, unnest(kmv) AS h FROM anch)),
        |bk AS (SELECT wd, list_sort(list(h))[1:16] AS kmv
        |FROM uh GROUP BY 1)
        |SELECT base.wd AS d, n_days, n_rows_win,
        |floor((CASE WHEN bk.wd IS NULL THEN 0.0
        |WHEN len(kmv) < 16 THEN len(kmv)::DOUBLE
        |ELSE 15.0 * 2147483648.0 / kmv[16] END) * 100.0) / 100.0
        |  AS est_distinct
        |FROM base LEFT JOIN bk ON bk.wd = base.wd""".stripMargin),
    QueryDef("s12_schema_evolution", ((s, dir) => {
      // additive schema evolution: generation-1 parquet lacks a column that
      // generation-2 adds; mergeSchema unifies, old files surface NULL —
      // the long-lived-archive contract (new columns never rewrite history)
      val out = tmpPath("graft-evo")
      val v1 = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select("o_orderkey", "o_totalprice")
      val v2 = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 50)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      v1.write.parquet(s"$out/g1")
      v2.write.parquet(s"$out/g2")
      s.read.option("mergeSchema", "true").parquet(s"$out/g1", s"$out/g2")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    }),
      """SELECT o_orderkey, o_totalprice, NULL::VARCHAR AS o_orderstatus
        |FROM orders WHERE o_orderkey % 100 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 100 = 50""".stripMargin),
    QueryDef("s18_integrity_audit", ((s, dir) => {
      // pre-archival constraint audit on a deliberately-perturbed copy of
      // the store (duplicated customer keys, orphaned order FKs): PK
      // uniqueness, key non-nullness, FK orphan counts, value ranges —
      // the invariants delete-back's safety depends on, each one
      // aggregate/anti-join reducing to a single report row
      import graft.operators.QualityAudit
      import graft.operators.QualityAudit._
      val customerDup = t(s, dir, "customer").unionByName(
        t(s, dir, "customer").filter(col("c_custkey") % 500 === 0))
      val ordersBad = t(s, dir, "orders").withColumn("o_custkey",
        when(col("o_orderkey") % 97 === 0, -col("o_custkey"))
          .otherwise(col("o_custkey")))
      QualityAudit.run(s, Map(
        "customer" -> customerDup,
        "orders" -> ordersBad,
        "lineitem" -> t(s, dir, "lineitem"),
        "events" -> t(s, dir, "events")), Seq(
        Unique("customer", Seq("c_custkey")),
        NotNull("orders", "o_custkey"),
        Fk("orders", "o_custkey", "customer", "c_custkey"),
        Fk("lineitem", "l_orderkey", "orders", "o_orderkey"),
        InRange("orders", "o_totalprice", 0.0, 1e7),
        Unique("lineitem", Seq("l_orderkey", "l_linenumber")),
        NotNull("events", "user_id")))
    }),
      """WITH customer2 AS (SELECT * FROM customer UNION ALL
        |  SELECT * FROM customer WHERE c_custkey % 500 = 0),
        |orders2 AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 97 = 0 THEN -o_custkey ELSE o_custkey END
        |    AS o_custkey,
        |  o_totalprice FROM orders)
        |SELECT 'customer' AS table_name, 'unique_c_custkey' AS check_name,
        |  (SELECT count(*) FROM customer2)::BIGINT AS checked_rows,
        |  ((SELECT count(*) FROM customer2) -
        |   (SELECT count(DISTINCT c_custkey) FROM customer2))::BIGINT
        |    AS violations,
        |  ((SELECT count(*) FROM customer2) =
        |   (SELECT count(DISTINCT c_custkey) FROM customer2)) AS ok
        |UNION ALL SELECT 'orders', 'not_null_o_custkey',
        |  (SELECT count(*) FROM orders2)::BIGINT,
        |  (SELECT count(*) FROM orders2 WHERE o_custkey IS NULL)::BIGINT,
        |  (SELECT count(*) FROM orders2 WHERE o_custkey IS NULL) = 0
        |UNION ALL SELECT 'orders', 'fk_o_custkey_to_customer',
        |  (SELECT count(*) FROM orders2 WHERE o_custkey IS NOT NULL)::BIGINT,
        |  (SELECT count(*) FROM orders2 WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer2))::BIGINT,
        |  (SELECT count(*) FROM orders2 WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer2)) = 0
        |UNION ALL SELECT 'lineitem', 'fk_l_orderkey_to_orders',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)::BIGINT,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders2))::BIGINT,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders2)) = 0
        |UNION ALL SELECT 'orders', 'range_o_totalprice',
        |  (SELECT count(*) FROM orders2 WHERE o_totalprice IS NOT NULL)::BIGINT,
        |  (SELECT count(*) FROM orders2
        |    WHERE o_totalprice < 0.0 OR o_totalprice > 10000000.0)::BIGINT,
        |  (SELECT count(*) FROM orders2
        |    WHERE o_totalprice < 0.0 OR o_totalprice > 10000000.0) = 0
        |UNION ALL SELECT 'lineitem', 'unique_l_orderkey_l_linenumber',
        |  (SELECT count(*) FROM lineitem)::BIGINT,
        |  ((SELECT count(*) FROM lineitem) - (SELECT count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)))::BIGINT,
        |  ((SELECT count(*) FROM lineitem) = (SELECT count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)))
        |UNION ALL SELECT 'events', 'not_null_user_id',
        |  (SELECT count(*) FROM events)::BIGINT,
        |  (SELECT count(*) FROM events WHERE user_id IS NULL)::BIGINT,
        |  (SELECT count(*) FROM events WHERE user_id IS NULL) = 0""".stripMargin),
    QueryDef("s19_kanon_audit", ((s, dir) =>
      // release-gate privacy audit: k-anonymity + l-diversity per
      // quasi-identifier class (language x document-size band), with
      // `source` as the sensitive attribute — one two-level hash
      // aggregation with map-side combine, no joins (operators.Privacy)
      graft.operators.Privacy.kAnonymityReport(
        t(s, dir, "documents")
          .select(col("lang"), expr("n_chars DIV 500").as("size_band"),
            col("source")),
        qiCols = Seq("lang", "size_band"), sensitiveCol = "source",
        k = 10, l = 2)),
      """WITH c AS (SELECT lang, n_chars // 500 AS size_band, source
        |  FROM documents),
        |g AS (SELECT lang, size_band, source, count(*) AS n
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT lang, size_band, sum(n)::BIGINT AS class_size,
        |  count(*)::BIGINT AS n_sensitive,
        |  sum(n) >= 10 AS k_ok, count(*) >= 2 AS l_ok
        |FROM g GROUP BY 1, 2""".stripMargin),
    QueryDef("s20_dataset_card", ((s, dir) => {
      // dataset datasheet (Gebru et al. 2021): the per-source release
      // summary — volume, token mass, language spread, exact-dup mass in
      // ppm — one tokenize pass feeding two hash aggregations; every
      // ratio is integer floor division, engine- and partitioning-exact
      val base = t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
          md5(col("text")).as("h"))
      val dup = base.groupBy("source", "h").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .as("dup_docs"))
      base.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tok"),
          expr("sum(n_tok) div count(1)").as("avg_tok"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"))
        .join(dup, "source")
        .withColumn("dup_ppm", expr("dup_docs * 1000000 div n_docs"))
        .select("source", "n_docs", "total_tok", "avg_tok", "n_langs",
          "total_chars", "dup_docs", "dup_ppm")
    }),
      s"""WITH b AS (SELECT source, lang, n_chars,
         |len($duckToks)::BIGINT AS n_tok, md5(text) AS h FROM documents),
         |dup AS (SELECT source,
         |coalesce(sum(CASE WHEN c > 1 THEN c END), 0)::BIGINT AS dup_docs
         |FROM (SELECT source, h, count(*)::BIGINT AS c FROM b GROUP BY 1, 2)
         |GROUP BY 1),
         |agg AS (SELECT source, count(*)::BIGINT AS n_docs,
         |sum(n_tok)::BIGINT AS total_tok,
         |(sum(n_tok) // count(*))::BIGINT AS avg_tok,
         |count(DISTINCT lang)::BIGINT AS n_langs,
         |sum(n_chars)::BIGINT AS total_chars FROM b GROUP BY 1)
         |SELECT agg.source, n_docs, total_tok, avg_tok, n_langs,
         |total_chars, dup.dup_docs,
         |(dup.dup_docs * 1000000 // n_docs)::BIGINT AS dup_ppm
         |FROM agg JOIN dup USING (source)""".stripMargin),
    QueryDef("s13_join_overlap_est", ((s, dir) => {
      // optimizer-statistics shape: estimate the JOIN KEY OVERLAP of two
      // tables from their KMV bottom-k sketches (q45's hash, sketch
      // contents engine-exact) next to the exact answer — what a CBO
      // consults before picking join order/strategy, computed without
      // ever joining the full tables
      val k = 64
      // bottom-k via global sort-limit (TakeOrderedAndProject): bounded
      // memory at any ndv, identical result to sorting the full set
      def kmv(df: DataFrame, c: String) = df
        .select(pmod(col(c) * lit(2654435761L), lit(2147483648L)).as("h"))
        .distinct().orderBy("h").limit(k)
        .agg(sort_array(collect_list(col("h"))).as("kmv"))
      val li = t(s, dir, "lineitem")
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      val a = kmv(li, "l_orderkey").select(col("kmv").as("kmv_a"))
      val b = kmv(bigOrders, "o_orderkey").select(col("kmv").as("kmv_b"))
      val exact = li.join(bigOrders,
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg(countDistinct(col("l_orderkey")).as("exact_overlap"))
      a.crossJoin(b).crossJoin(exact)
        .withColumn("kmv_u",
          slice(sort_array(array_union(col("kmv_a"), col("kmv_b"))), 1, k))
        .withColumn("n_u", size(col("kmv_u")))
        .withColumn("inter_u", size(array_intersect(col("kmv_u"),
          array_intersect(col("kmv_a"), col("kmv_b")))))
        .withColumn("union_est",
          when(col("n_u") < k, col("n_u").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(2147483648.0) /
              element_at(col("kmv_u"), k).cast("double")))
        .select(col("exact_overlap"),
          fround(col("inter_u").cast("double") / col("n_u") *
            col("union_est"), 2).as("est_overlap"),
          col("inter_u"), col("n_u"))
    }),
      """WITH ha AS (SELECT DISTINCT (l_orderkey * 2654435761) % 2147483648
        |  AS h FROM lineitem),
        |hb AS (SELECT DISTINCT (o_orderkey * 2654435761) % 2147483648 AS h
        |FROM orders WHERE o_totalprice > 200000),
        |ka AS (SELECT (list_sort(list(h)))[1:64] AS kmv FROM ha),
        |kb AS (SELECT (list_sort(list(h)))[1:64] AS kmv FROM hb),
        |ex AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS exact_overlap
        |FROM lineitem WHERE l_orderkey IN
        |(SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)),
        |m AS (SELECT ka.kmv AS kmv_a, kb.kmv AS kmv_b,
        |(list_sort(list_distinct(ka.kmv || kb.kmv)))[1:64] AS kmv_u
        |FROM ka, kb),
        |st AS (SELECT kmv_u, len(kmv_u) AS n_u,
        |len(list_filter(kmv_u, x -> list_contains(kmv_a, x)
        |  AND list_contains(kmv_b, x))) AS inter_u FROM m),
        |est AS (SELECT n_u, inter_u,
        |CASE WHEN n_u < 64 THEN n_u::DOUBLE
        |ELSE 63.0 * 2147483648.0 / kmv_u[64]::DOUBLE END AS union_est
        |FROM st)
        |SELECT ex.exact_overlap,
        |floor(inter_u::DOUBLE / n_u * union_est * 100.0) / 100.0
        |  AS est_overlap,
        |inter_u::INT AS inter_u, n_u::INT AS n_u
        |FROM est, ex""".stripMargin),
    QueryDef("s11_orc_roundtrip", ((s, dir) => {
      // ORC writer + reader fidelity, schema-first read — same contract as
      // the CSV/JSON round-trips; ORC is the third columnar interchange
      // format the sinks speak
      val out = tmpPath("graft-orc")
      val src = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .filter(col("o_orderkey") % 100 === 0)
      src.write.mode("overwrite").orc(out.toString)
      s.read.schema(src.schema).orc(out.toString)
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin),
    QueryDef("s16_partition_pruned", ((s, dir) => {
      // directory-level partition pruning: orders re-laid-out with
      // partitionBy(year), then a year-bounded read lists ONLY that
      // partition's directory — at 100 TB this is the difference between
      // listing one year and scanning seven (PartitionPruningSpec asserts
      // the physical file set; this entry oracle-checks the re-layout +
      // pruned-read semantics end to end)
      val out = tmpPath("graft-part")
      t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(out.toString)
      s.read.parquet(out.toString)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }),
      """SELECT o_orderpriority, count(*) AS n_orders,
        |sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("s14_bucketed_join", ((s, dir) => {
      // bucketed co-located join: both sides written bucketBy(join key)
      // once, so every later join on that key is exchange-free — the
      // 100 TB layout investment (one clustering write, zero shuffles on
      // each downstream join/agg). JoinStrategiesSpec gates the plan
      // (SortMergeJoin, no Exchange); this entry oracle-checks that the
      // bucketed layout preserves join semantics exactly. r12: the
      // clustering write is memoized per (session, sf dir, source mtime)
      // — "pay the clustering write once" IS the documented contract,
      // and every invocation still runs the (exchange-free) join + agg
      // from the bucketed files.
      val (bl, bo) = s14Buckets(s, dir)
      bl.join(bo, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    }),
      """SELECT o_orderstatus, count(*) AS n_items,
        |sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin),
    QueryDef("s15_clustered_skip", ((s, dir) => {
      // cluster-and-write then bounded read: orders range-partitioned and
      // sorted on o_orderdate, so every output file owns a DISJOINT date
      // range and a date-bounded scan skips all files outside it via
      // parquet min/max stats (CompactionSpec asserts the physical skip;
      // this entry oracle-checks the re-layout preserves semantics)
      val out = tmpPath("graft-clustered")
      graft.operators.Compaction.clusteredWrite(
        t(s, dir, "orders"), out.toString, Seq("o_orderdate"), parts = 4)
      s.read.parquet(out.toString)
        .filter(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .groupBy(month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }),
      """SELECT month(o_orderdate) AS m, count(*) AS n_orders,
        |sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS revenue
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY month(o_orderdate)""".stripMargin),
    QueryDef("s17_zorder_key", ((s, dir) =>
      // 2-D Z-order (Morton) clustering key: bit-interleave orderkey and
      // suppkey so rows close in EITHER dimension cluster together — the
      // multi-column data-skipping layout (CompactionSpec asserts the
      // two-dimensional file skip on the zorderWrite layout; this entry
      // oracle-checks the key arithmetic bit for bit)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          graft.operators.Compaction.zorderKey2(
            col("l_orderkey"), col("l_suppkey"), bits = 20).as("zkey"))), {
      // the same bit-interleave, spelled as shift/mask arithmetic
      val terms = (0 until 20).flatMap(i => Seq(
        s"(((l_orderkey >> $i) & 1) << ${2 * i})",
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_suppkey,
         |($terms)::BIGINT AS zkey FROM lineitem""".stripMargin
    })
  )
}

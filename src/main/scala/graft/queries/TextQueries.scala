package graft
package queries

import graft.functions.TextFunctions
import graft.functions.NumericFunctions.fround
import graft.operators.{Dedup, TokenizerTrain}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `tx` family: tokenization, text statistics, filters and the
  * tokenizer/classifier trainers over `documents`. */
private[queries] object TextQueries {
  import QueryKit._

  /** Shared CTE chain for tx34/tx36: base features + n unrolled
    * full-batch GD steps, ending at weight CTE `w{n}` (relation `b`
    * carries the centered features). */
  private def domainGdOracleCtes(n: Int): String = {
    val head =
      s"""WITH base AS (SELECT len($duckToks)::BIGINT AS x,
         |(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS y
         |FROM documents),
         |st AS (SELECT count(*)::BIGINT AS n,
         |coalesce(sum(x), 0)::BIGINT // greatest(count(*), 1) AS xbar
         |FROM base),
         |b AS (SELECT x - xbar AS xc, y, n FROM base CROSS JOIN st),
         |w0 AS (SELECT 0 AS step, 0::BIGINT AS s0, 0::BIGINT AS s1,
         |0::BIGINT AS w0_u, 0::BIGINT AS w1_u)""".stripMargin
    val steps = (1 to n).map { k =>
      s"""g$k AS (SELECT n, coalesce(sum(g0), 0)::BIGINT AS s0,
         |coalesce(sum(g0 * xc), 0)::BIGINT AS s1 FROM (
         |SELECT n, xc,
         |floor((y - (0.5 + z / (2 * (1 + abs(z))))) * 1000000.0)::BIGINT
         |  AS g0
         |FROM (SELECT xc, y, n,
         |(w.w0_u + w.w1_u * xc) / 1000000.0 AS z
         |FROM b CROSS JOIN w${k - 1} w)) GROUP BY n),
         |w$k AS (SELECT $k AS step, g.s0, g.s1,
         |(w.w0_u + g.s0 // greatest(2 * g.n, 1))::BIGINT AS w0_u,
         |(w.w1_u + g.s1 // greatest(128 * g.n, 1))::BIGINT AS w1_u
         |FROM g$k g CROSS JOIN w${k - 1} w)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + steps
  }

  /** tx35's oracle: n unrolled BPE merge rounds as chained CTEs (the
    * ss13 unrolled-greedy pattern). Mirrors TokenizerTrain.bpeTrain
    * exactly: two-space symbol serialization, literal replace merges,
    * (cnt DESC, pair) tie-break. */
  private def bpeCtes(n: Int): String = {
    val init =
      "WITH w0 AS (SELECT w, count(*)::BIGINT AS freq FROM (SELECT " +
        s"unnest($duckToks) AS w FROM documents) GROUP BY 1),\n" +
      "v0 AS (SELECT freq, regexp_replace(w, '(.)', ' " + "\\1" +
        " ', 'g') AS s FROM w0)"
    val rounds = (1 to n).map { k =>
      s"p$k AS (SELECT pair, sum(freq)::BIGINT AS cnt FROM (SELECT freq, " +
        "unnest(list_transform(range(1, len(syms)), i -> syms[i] || ' ' " +
        "|| syms[i + 1])) AS pair FROM (SELECT freq, " +
        s"regexp_split_to_array(trim(s), ' +') AS syms FROM v${k - 1}) " +
        "WHERE len(syms) >= 2) GROUP BY 1),\n" +
      s"b$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair " +
        "LIMIT 1),\n" +
      s"v$k AS (SELECT freq, replace(s, ' ' || split_part(pair, ' ', 1) " +
        "|| '  ' || split_part(pair, ' ', 2) || ' ', ' ' || " +
        s"replace(pair, ' ', '') || ' ') AS s FROM v${k - 1}, b$k)"
    }.mkString(",\n")
    s"$init,\n$rounds"
  }

  private def bpeTrainOracleSql(n: Int): String = {
    val sel = (1 to n).map(k =>
      s"SELECT $k::BIGINT AS step, pair, cnt FROM b$k")
      .mkString("\nUNION ALL\n")
    s"${bpeCtes(n)}\n$sel"
  }

  /** Oracle for tx39: replays the tx35 training CTEs, then encodes the
    * per-(source, word) vocabulary with the same nested literal-replace
    * merge semantics and aggregates per source. */
  private def bpeEncodeOracleSql(n: Int): String = {
    val mrg = "mrg AS (SELECT " +
      (1 to n).map(k => s"b$k.pair AS p$k").mkString(", ") +
      " FROM " + (1 to n).map(k => s"b$k").mkString(", ") + ")"
    val ser = (1 to n).foldLeft("regexp_replace(w, '(.)', ' \\1 ', 'g')") {
      (c, k) =>
        s"replace($c, ' ' || split_part(p$k, ' ', 1) || '  ' || " +
          s"split_part(p$k, ' ', 2) || ' ', ' ' || " +
          s"replace(p$k, ' ', '') || ' ')"
    }
    s"""${bpeCtes(n)},
       |$mrg,
       |sv AS (SELECT source, w, count(*)::BIGINT AS freq FROM
       |(SELECT source, unnest($duckToks) AS w FROM documents)
       |GROUP BY 1, 2),
       |enc AS (SELECT source, freq, len(w)::BIGINT AS nc,
       |len(regexp_split_to_array(trim($ser), ' +'))::BIGINT AS nt
       |FROM sv, mrg)
       |SELECT source, sum(freq)::BIGINT AS n_words,
       |sum(freq * nc)::BIGINT AS n_chars,
       |sum(freq * nt)::BIGINT AS n_tokens,
       |(sum(freq * nt) * 1000 // greatest(sum(freq * nc), 1))::BIGINT
       |AS tok_per_kchar
       |FROM enc GROUP BY 1""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("tx12_top_ngrams", ((s, dir) =>
      // corpus-level top-20 bigrams by occurrence (distinct=false: counts
      // occurrences, not documents) — the vocabulary/boilerplate probe
      t(s, dir, "documents")
        .select(TextFunctions.tokens(col("text")).as("toks"))
        .select(explode(TextFunctions.shinglesOfTokens(col("toks"), 2,
          distinct = false)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram")).limit(20)),
      s"""WITH toks AS (SELECT $duckToks AS t FROM documents),
         |ng AS (SELECT array_to_string(t[i:i+1], ' ') AS ngram
         |FROM (SELECT t,
         |unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks))
         |SELECT ngram, count(*) AS n FROM ng GROUP BY 1
         |ORDER BY n DESC, ngram LIMIT 20""".stripMargin),
    QueryDef("tx23_bm25_topk", ((s, dir) =>
      // BM25 retrieval: rank the corpus against a bag-of-terms query
      // (targeted decontamination / topic mining). Per-(doc, term)
      // contributions truncate to integer micro-units before the
      // per-doc sum — partitioning- and engine-exact (tx14 discipline)
      graft.operators.Retrieval.bm25TopK(
        t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("spark", "join", "vector"), k = 10)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |base AS (SELECT doc_id, len(t) AS dl, t FROM toks),
         |stats AS (SELECT count(*)::BIGINT AS n_docs,
         |sum(dl)::BIGINT AS dl_sum FROM base),
         |tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM
         |(SELECT doc_id, dl, unnest(t) AS w FROM base)
         |WHERE w IN ('spark', 'join', 'vector') GROUP BY 1, 2, 3),
         |dfs AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id, floor(
         |ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0) *
         |((tf::DOUBLE * (1.2 + 1.0)) /
         | (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE /
         |   (dl_sum::DOUBLE / n_docs::DOUBLE))))) *
         |1e6)::BIGINT AS s_u
         |FROM tf JOIN dfs USING (w) CROSS JOIN stats),
         |agg AS (SELECT doc_id, sum(s_u)::BIGINT AS bm25_u FROM scored GROUP BY 1),
         |ranked AS (SELECT doc_id, bm25_u,
         |row_number() OVER (ORDER BY bm25_u DESC, doc_id) AS rank FROM agg)
         |SELECT rank, doc_id, floor(bm25_u::DOUBLE / 1e6 * 1000.0) / 1000.0 AS bm25
         |FROM ranked WHERE rank <= 10""".stripMargin),
    QueryDef("tx24_jaro_winkler", ((s, dir) =>
      // entity-resolution fuzzy match: token-inverted-index candidate
      // generation (equi-join on (brand, name token) — candidate volume
      // proportional to true-match volume, not block-size-squared) verified
      // with the native codegen'd Jaro-Winkler scalar. The oracle stays
      // exhaustive-within-brand, so the hash match PROVES the token filter
      // lossless on the fixture (dd30 discipline); the threshold compares
      // the FLOORED score so the cut is engine-exact.
      graft.operators.EntityResolution.tokenBlockedPairs(
        t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand")),
        "p_partkey", "p_name", "p_brand", threshold = 0.9)),
      """SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |a.p_name AS name_a, b.p_name AS name_b,
        |floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 AS jw
        |FROM part a JOIN part b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 >= 0.9""".stripMargin),
    QueryDef("tx31_ccnet_buckets", ((s, dir) =>
      // CCNet head/middle/tail perplexity terciles with VALUE-domain
      // cutoffs (group by the 3-dp floored nll, cumulate over the small
      // value domain, broadcast two cutoffs) — no global row sort, ties
      // share a bucket, engine-exact integer comparisons
      graft.operators.LanguageModel.perplexityBuckets(
        t(s, dir, "documents"), "doc_id", "text")),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |d2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
         |bg AS (SELECT doc_id, t[i::INT] AS w1, t[(i + 1)::INT] AS w2
         |FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d2)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM
         |  (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
         |scored AS (SELECT doc_id,
         |floor(ln((c12.c12 + 1)::DOUBLE / (c1.c1 + v.v)::DOUBLE) * 1e6)::BIGINT
         |  AS lp_u
         |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
         |docnll AS (SELECT doc_id,
         |floor(-(sum(lp_u)::DOUBLE / 1e6) / count(*) * 1000.0) / 1000.0 AS nll
         |FROM scored GROUP BY doc_id),
         |byv AS (SELECT nll, count(*)::BIGINT AS c FROM docnll GROUP BY 1),
         |cum AS (SELECT nll, c,
         |sum(c) OVER (ORDER BY nll)::BIGINT AS cum FROM byv),
         |tot AS (SELECT sum(c)::BIGINT AS n FROM byv),
         |cuts AS (SELECT
         |min(CASE WHEN cum * 3 >= n THEN nll END) AS c1,
         |min(CASE WHEN cum * 3 >= n * 2 THEN nll END) AS c2
         |FROM cum CROSS JOIN tot)
         |SELECT doc_id, nll,
         |CASE WHEN nll <= c1 THEN 'head' WHEN nll <= c2 THEN 'middle'
         |ELSE 'tail' END AS ppl_bucket
         |FROM docnll CROSS JOIN cuts""".stripMargin),
    QueryDef("tx33_dedup_impact", ((s, dir) =>
      // per-source curation summary BEFORE running the expensive dedup:
      // exact-duplicate mass by source (docs minus distinct content
      // fingerprints) — the number that decides which sources are worth
      // near-dup treatment at all. One hash aggregation.
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          (col("n_docs") - col("n_unique")).as("n_exact_dups"),
          fround((col("n_docs") - col("n_unique")).cast("double") /
            col("n_docs"), 4).as("dup_ratio"))),
      """SELECT source, count(*)::BIGINT AS n_docs,
        |count(DISTINCT md5(text))::BIGINT AS n_unique,
        |(count(*) - count(DISTINCT md5(text)))::BIGINT AS n_exact_dups,
        |floor((count(*) - count(DISTINCT md5(text)))::DOUBLE
        |  / count(*) * 10000.0) / 10000.0 AS dup_ratio
        |FROM documents GROUP BY 1""".stripMargin),
    QueryDef("tx34_domain_calibration", ((s, dir) =>
      // distributed domain-classifier calibration: 3 full-batch GD steps
      // of a 2-param logistic-style model P(source=src0 | token count) —
      // rational sigmoid (no libm), per-row residual floored once to
      // micro-units, exact BIGINT gradient sums, dyadic learning rates;
      // publishes the training trajectory (the audit a trainer logs)
      graft.operators.Calibration.domainClassifierSteps(
        t(s, dir, "documents"), "source", "text", "src0", steps = 3)),
      // unrolled full-batch GD steps; rational sigmoid and floored
      // micro-unit residuals make every step integer-exact (no libm)
      (domainGdOracleCtes(3) +
        "\nSELECT step, s0, s1, w0_u, w1_u FROM w1 UNION ALL " +
        "SELECT step, s0, s1, w0_u, w1_u FROM w2 UNION ALL " +
        "SELECT step, s0, s1, w0_u, w1_u FROM w3")),
    QueryDef("tx36_calibration_ece", ((s, dir) =>
      // reliability-diagram audit of tx34's trained filter (per-bin ECE
      // decomposition): score with the final weights, 10 equal-width
      // probability bins, exact micro-unit confidence vs observed rate.
      // One extra scoring scan over the training passes; <=10-row agg
      graft.operators.Calibration.calibrationReport(
        t(s, dir, "documents"), "source", "text", "src0", steps = 3)),
      // tx34's training CTEs + one scoring pass with the final weights,
      // binned into 10 equal-width reliability buckets
      (domainGdOracleCtes(3) + ",\n" +
        """sc AS (SELECT y,
          |floor((0.5 + z / (2 * (1 + abs(z)))) * 1000000.0)::BIGINT AS p_u
          |FROM (SELECT xc, y, (w.w0_u + w.w1_u * xc) / 1000000.0 AS z
          |FROM b CROSS JOIN w3 w)),
          |bi AS (SELECT least(p_u // 100000, 9) AS bin,
          |count(*)::BIGINT AS n_docs, sum(p_u)::BIGINT AS sp,
          |sum(y)::BIGINT AS sy FROM sc GROUP BY 1)
          |SELECT bin, n_docs, sp // n_docs AS conf_u,
          |sy * 1000000 // n_docs AS acc_u,
          |abs(sp // n_docs - sy * 1000000 // n_docs)::BIGINT AS gap_u
          |FROM bi""".stripMargin)),
    QueryDef("tx38_decile_lift", ((s, dir) =>
      // decile lift/gains table of tx34's trained filter: descending
      // score deciles from the VALUE domain (no global row sort), exact
      // ppm positive rate, lift over base rate and cumulative capture —
      // the operating-point curve behind "keep the top k% the filter
      // likes best"
      graft.operators.Calibration.liftTable(
        t(s, dir, "documents"), "source", "text", "src0", steps = 3)),
      // tx34's training CTEs + a scoring pass grouped by the distinct
      // micro-probability domain; deciles from the exclusive
      // higher-score cumulative count (ties share a decile)
      (domainGdOracleCtes(3) + ",\n" +
        """sc AS (SELECT y,
          |floor((0.5 + z / (2 * (1 + abs(z)))) * 1000000.0)::BIGINT AS p_u
          |FROM (SELECT xc, y, (w.w0_u + w.w1_u * xc) / 1000000.0 AS z
          |FROM b CROSS JOIN w3 w)),
          |g AS (SELECT p_u, count(*)::BIGINT AS n, sum(y)::BIGINT AS npos
          |FROM sc GROUP BY 1),
          |tt AS (SELECT sum(n)::BIGINT AS nt, sum(npos)::BIGINT AS pt
          |FROM g),
          |c AS (SELECT p_u, n, npos,
          |coalesce(sum(n) OVER (ORDER BY p_u DESC
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
          |  AS cb FROM g),
          |d AS (SELECT least(cb * 10 // nt, 9) AS decile,
          |sum(n)::BIGINT AS n_docs, sum(npos)::BIGINT AS n_pos
          |FROM c, tt GROUP BY 1),
          |dc AS (SELECT decile, n_docs, n_pos,
          |(sum(n_pos) OVER (ORDER BY decile
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
          |  AS cum_pos FROM d)
          |SELECT decile, n_docs, n_pos,
          |n_pos * 1000000 // n_docs AS pos_rate_ppm,
          |(n_pos * 1000000 // n_docs) * 1000000
          |  // greatest(pt * 1000000 // nt, 1) AS lift_ppm,
          |cum_pos * 1000000 // greatest(pt, 1) AS cum_capture_ppm
          |FROM dc, tt""".stripMargin)),
    QueryDef("tx43_textrank", ((s, dir) => {
      // TextRank keyword scoring (Mihalcea & Tarau 2004): words are
      // nodes, consecutive-token co-occurrence the symmetric count-
      // weighted edges, importance = the SAME integer PageRank fixed
      // point g1 runs (5 iterations, damping 85) — keyword extraction
      // as a pure composition of the tokenizer and the graph engine.
      // The >= 4 co-occurrence floor bounds the word graph; the final
      // ordering window runs on that bounded vocabulary, never tokens
      val toks = t(s, dir, "documents")
        .select(TextFunctions.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bigr = toks.select(explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      // aggregate DIRECTED counts first, then mirror the counted frame
      // (r11): the old `bigr union bigr.swap` evaluated the tokenize +
      // explode pipeline once per direction and shuffled raw bigram rows
      // twice; summing mirrored per-direction counts is the same number
      // (count of a union of disjointly-tagged rows = sum of the parts)
      // with one corpus pass and a vocabulary-pair-sized second shuffle
      val dcnt = graft.operators.PlanPersist("entry.tx43.dcnt",
        bigr.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
      val sym = dcnt
        .union(dcnt.select(col("w2").as("w1"), col("w1").as("w2"), col("c")))
        .groupBy("w1", "w2").agg(sum(col("c")).as("w"))
        .filter(col("w") >= 4L)
      graft.operators.Graph
        .pageRankInt(sym, "w1", "w2", "w", iterations = 5)
        .withColumn("kw_rank", row_number().over(
          Window.orderBy(col("rank_u").desc, col("node"))).cast("long"))
        .filter(col("kw_rank") <= 20L)
        .select(col("kw_rank"), col("node").as("word"), col("rank_u"))
    }), {
      // bigram-co-occurrence edges, then g1's unrolled integer PageRank
      // fixed point verbatim; top-20 under (rank desc, word)
      val head =
        s"""WITH toks AS (SELECT $duckToks AS t FROM documents
           |WHERE len($duckToks) >= 2),
           |bg0 AS (SELECT t[i]::VARCHAR AS w1, t[i + 1]::VARCHAR AS w2
           |FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
           |WHERE t[i] <> t[i + 1]),
           |sym AS (SELECT w1, w2 FROM bg0
           |UNION ALL SELECT w2, w1 FROM bg0),
           |e0 AS (SELECT w1 AS src, w2 AS dst, count(*)::BIGINT AS w
           |FROM sym GROUP BY 1, 2 HAVING count(*) >= 4),
           |ow AS (SELECT src, sum(w)::BIGINT AS out_w FROM e0 GROUP BY 1),
           |e AS (SELECT e0.src, e0.dst, e0.w, ow.out_w FROM e0
           |JOIN ow USING (src)),
           |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
           |p AS (SELECT count(*)::BIGINT AS n FROM nodes),
           |r0 AS (SELECT node, (1000000000000 // p.n)::BIGINT AS r
           |FROM nodes, p)""".stripMargin
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT nd.node,
           |((150000000000 // p.n) + (coalesce(c.s, 0) * 85) // 100)::BIGINT AS r
           |FROM nodes nd CROSS JOIN p LEFT JOIN
           |(SELECT e.dst AS node, sum((r.r * e.w) // e.out_w)::BIGINT AS s
           |FROM r${k - 1} r JOIN e ON e.src = r.node GROUP BY 1) c
           |ON c.node = nd.node)""".stripMargin
      }.mkString(",\n")
      head + ",\n" + iters +
        """
          |SELECT kw_rank, word, rank_u FROM (
          |SELECT row_number() OVER (ORDER BY r DESC, node)::BIGINT
          |  AS kw_rank, node AS word, r AS rank_u FROM r5)
          |WHERE kw_rank <= 20""".stripMargin
    }),
    QueryDef("tx42_pmi_collocations", ((s, dir) =>
      // PMI collocation mining over the corpus bigram stream: the
      // phrase/MWE detector (Church & Hanks 1990) that seeds tokenizer
      // merges and phrase-aware shingles — positive-PMI pairs seen >= 5
      // times, milli-bit integer scores via the house ln-ratio floor
      graft.operators.LanguageModel.pmiCollocations(
        t(s, dir, "documents"), "doc_id", "text", minCount = 5)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |d2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
         |bg AS (SELECT t[i::INT] AS w1, t[(i + 1)::INT] AS w2
         |FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d2)),
         |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY 1),
         |c2 AS (SELECT w2, sum(c12)::BIGINT AS c2 FROM c12 GROUP BY 1),
         |n AS (SELECT sum(c12)::BIGINT AS n FROM c12),
         |scored AS (SELECT w1, w2, c12.c12,
         |floor(ln((c12.c12::DOUBLE * n.n::DOUBLE)
         |  / (c1.c1::DOUBLE * c2.c2::DOUBLE)) / ln(2.0) * 1000)::BIGINT
         |  AS pmi_milli
         |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
         |WHERE c12.c12 >= 5)
         |SELECT w1, w2, c12, pmi_milli FROM scored
         |WHERE pmi_milli > 0""".stripMargin),
    QueryDef("tx41_mojibake", ((s, dir) =>
      // encoding-health ingestion audit: per-source docs carrying U+FFFD
      // replacement chars or C0 control bytes — the mojibake/binary-
      // spill screen every crawler pipeline runs before tokenizing.
      // One map-side-combined agg; identical RE2-safe char class in the
      // oracle
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("text").contains("\uFFFD"), 1))
            .as("n_replacement"),
          count(when(col("text")
              .rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"), 1))
            .as("n_control"))
        .withColumn("bad_ppm",
          expr("(n_replacement + n_control) * 1000000 div n_docs"))),
      """SELECT source, count(*)::BIGINT AS n_docs,
        |count(*) FILTER (contains(text, chr(65533)))::BIGINT
        |  AS n_replacement,
        |count(*) FILTER (regexp_matches(text,
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F]'))::BIGINT AS n_control,
        |((count(*) FILTER (contains(text, chr(65533)))
        |  + count(*) FILTER (regexp_matches(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]'))) * 1000000
        |  // count(*))::BIGINT AS bad_ppm
        |FROM documents GROUP BY 1""".stripMargin),
    QueryDef("tx40_vocab_growth", ((s, dir) => {
      // Heaps-law vocabulary-growth curve, exactly and libm-free: the
      // vocabulary inside any corpus prefix is |{words whose FIRST
      // doc_id falls in it}|, so ONE min-per-word shuffle answers every
      // prefix at once — the naive form re-tokenizes each nested prefix.
      // Cutoffs are doc-id quartiles riding a 1-row max broadcast; the
      // growth curve flattening is the "new data stopped adding new
      // vocabulary" signal a corpus-expansion plan reads
      val docs = t(s, dir, "documents")
      val cuts = docs.agg(max(col("doc_id")).as("m"))
        .select(explode(array((1 to 4).map(kk =>
          struct(lit(kk.toLong).as("k"),
            expr(s"m * $kk div 4").as("cutoff"))): _*)).as("c"))
        .select(col("c.k").as("k"), col("c.cutoff").as("cutoff"))
      val firstOcc = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(min(col("doc_id")).as("first_doc"))
      val vocab = firstOcc.crossJoin(broadcast(cuts))
        .filter(col("first_doc") <= col("cutoff"))
        .groupBy("k", "cutoff").agg(count(lit(1)).as("vocab_size"))
      val nd = docs.select("doc_id").crossJoin(broadcast(cuts))
        .filter(col("doc_id") <= col("cutoff"))
        .groupBy("k", "cutoff").agg(count(lit(1)).as("n_docs"))
      nd.join(vocab, Seq("k", "cutoff"))
    }),
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS w
         |FROM documents),
         |fo AS (SELECT w, min(doc_id) AS first_doc FROM toks GROUP BY 1),
         |m AS (SELECT max(doc_id) AS m FROM documents),
         |cut AS (SELECT k::BIGINT AS k, (m * k) // 4 AS cutoff
         |FROM m, (SELECT unnest(range(1, 5)) AS k))
         |SELECT k, cutoff,
         |(SELECT count(*) FROM documents WHERE doc_id <= cutoff)::BIGINT
         |  AS n_docs,
         |(SELECT count(*) FROM fo WHERE first_doc <= cutoff)::BIGINT
         |  AS vocab_size
         |FROM cut""".stripMargin),
    QueryDef("tx28_novelty", ((s, dir) => {
      // per-doc novelty: the fraction of a doc's distinct 3-shingles that
      // appear NOWHERE else in the corpus — high novelty marks original
      // content, low marks template/boilerplate-derived docs (the
      // complement of the dedup signals: diversity rather than
      // duplication). One shingle-df shuffle + one per-doc aggregation;
      // the df table is exactly the one the prefix-filter join (dd30)
      // already computes, so a pipeline materializes it once.
      // r12: ride the SHARED tagged shingle pass (identical rows — same
      // distinct-per-doc shingle expression over the unique-keyed
      // corpus) instead of a private re-derivation: the df aggregation
      // and the join probe both read the one persisted frame, and the
      // doc_id spread shuffle unlocks decode-downstream parallelism
      // exactly as in the dd family
      val sh = graft.operators.PlanPersist("dedup.shingleSet",
        Dedup.shingleSet(t(s, dir, "documents"), "doc_id", "text", 3))
      val dfs = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(dfs, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_shingles"), col("n_unique"),
          fround(col("n_unique").cast("double") /
            greatest(col("n_shingles"), lit(1L)), 4).as("novelty"))
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |dfs AS (SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY 1)
         |SELECT doc_id, count(*)::BIGINT AS n_shingles,
         |sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
         |floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE
         |  / greatest(count(*), 1) * 10000.0) / 10000.0 AS novelty
         |FROM sh JOIN dfs USING (sh) GROUP BY 1""".stripMargin),
    QueryDef("tx29_normalize", ((s, dir) => {
      // canonical normalization audit via the native NormalizeText
      // expression (NFC + ROOT lower + whitespace collapse — Spark has no
      // NFC built-in): per-doc normalized fingerprint + the length delta
      // the cleanup recovered. Pure projection, zero shuffle; the
      // normalized md5 is the dedup key a multilingual corpus needs
      // (composed vs combining accents collide only after NFC).
      val norm = TextFunctions.normalizeText(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("raw_len"),
          length(norm).as("norm_len"), md5(norm).as("norm_fp"))
    }),
      """SELECT doc_id, length(text)::INT AS raw_len,
        |length(n)::INT AS norm_len, md5(n) AS norm_fp
        |FROM (SELECT doc_id, text,
        |trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS n
        |FROM documents)""".stripMargin),
    QueryDef("tx30_template_prefix", ((s, dir) => {
      // template/boilerplate prefix audit: docs sharing their first 8
      // tokens are template-stamped (headers, license banners, scaffold
      // text) — the prefix key is one slice of the token array, the audit
      // one hash aggregation; report prefixes stamped on >= 2 docs
      val toks = TextFunctions.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ", slice(toks, 1, 8)).as("prefix"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents)
         |SELECT array_to_string(t[1:8], ' ') AS prefix,
         |count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc
         |FROM toks GROUP BY 1 HAVING count(*) >= 2""".stripMargin),
    QueryDef("tx27_blocklist", ((s, dir) => {
      // keyword-blocklist gate (the bad-words/NSFW filter every corpus
      // pipeline runs before training): hits counted in ONE token-array
      // pass against a broadcast-literal list, doc blocked when flagged
      // tokens exceed 1% of the doc. Pure codegen-able column arithmetic
      // per doc, no shuffle at all until the caller aggregates.
      val block = Seq("slow", "broken", "error", "fail")
      val tok = TextFunctions.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(tok, w => w.isInCollection(block))).as("n_flagged"),
          size(tok).as("n_tok"))
        .withColumn("blocked",
          col("n_flagged") * 100 > col("n_tok"))
        .select("doc_id", "n_flagged", "blocked")
    }),
      s"""WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents)
         |SELECT doc_id,
         |len(list_filter(t, x -> x IN ('slow','broken','error','fail')))::INT
         |  AS n_flagged,
         |len(list_filter(t, x -> x IN ('slow','broken','error','fail'))) * 100
         |  > len(t) AS blocked
         |FROM tk""".stripMargin),
    QueryDef("tx26_bpe_merge", ((s, dir) => {
      // tokenizer induction, one BPE merge-selection step (Sennrich et
      // al. 2016): adjacent character-pair frequencies over the word
      // vocabulary weighted by corpus word frequency; the top pair is the
      // merge a BPE trainer would apply next (top-10 reported). The heavy
      // stage is the one word-count shuffle; pair expansion runs over the
      // POST-AGGREGATION vocabulary (tiny), so the per-char lambda cost
      // never touches the corpus-sized token stream.
      val words = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val pairs = words.filter(length(col("w")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(w) - 1), " +
            "i -> concat(substr(w, i, 1), ' ', substr(w, i + 1, 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      pairs
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("pair"))))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("pair"), col("cnt"))
    }),
      s"""WITH tk AS (SELECT unnest($duckToks) AS w FROM documents),
         |wf AS (SELECT w, count(*)::BIGINT AS freq FROM tk GROUP BY 1),
         |ix AS (SELECT w, freq, unnest(range(1, len(w))) AS i
         |FROM wf WHERE len(w) >= 2),
         |p AS (SELECT substr(w, i::INT, 1) || ' ' || substr(w, i::INT + 1, 1)
         |AS pair, freq FROM ix),
         |pc AS (SELECT pair, sum(freq)::BIGINT AS cnt FROM p GROUP BY 1),
         |r AS (SELECT pair, cnt,
         |row_number() OVER (ORDER BY cnt DESC, pair) AS rank FROM pc)
         |SELECT rank, pair, cnt FROM r WHERE rank <= 10""".stripMargin),
    QueryDef("tx35_bpe_train", ((s, dir) =>
      // iterated BPE training (Sennrich et al. 2016): the merge TABLE,
      // not just tx26's first selection — 6 rounds of count-pairs ->
      // argmax -> literal-replace merge over the corpus-weighted word
      // vocabulary. One corpus shuffle total; each round is a
      // vocabulary-sized job (the unavoidable per-merge cost), chosen
      // merges ride a checkpointed 1-row broadcast frame
      TokenizerTrain.bpeTrain(t(s, dir, "documents"), "text",
        nMerges = 6)),
      bpeTrainOracleSql(6)),
    QueryDef("tx39_bpe_encode", ((s, dir) =>
      // the trained tokenizer APPLIED: encode the corpus with tx35's
      // merge table (shared memoized training run) and report per-source
      // token compression — merges run over the post-aggregation
      // (source, word) vocabulary with the table on a 1-row broadcast;
      // the corpus pays one shuffle, the output is |sources| rows
      TokenizerTrain.bpeEncodeReport(t(s, dir, "documents"), "text",
        "source", nMerges = 6)),
      bpeEncodeOracleSql(6)),
    QueryDef("tx22_feature_hash", ((s, dir) =>
      // hashing-trick featurizer: tokens land in 16 hash buckets (first
      // 32 md5 bits mod D), per-doc bucket counts are the fixed-width
      // bag-of-words features a linear quality model consumes — no
      // vocabulary to build or broadcast, exact on any partitioning.
      // Long format (doc_id, bucket, n_tok): engine-portable and sparse
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"),
          pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
            lit(16L)).as("bucket"))
        .agg(count(lit(1)).as("n_tok"))),
      s"""WITH tk AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents)
         |SELECT doc_id,
         |('0x' || substr(md5(tok), 1, 8))::BIGINT % 16 AS bucket,
         |count(*) AS n_tok FROM tk GROUP BY 1, 2""".stripMargin),
    QueryDef("tx21_corpus_drift", ((s, dir) => {
      // ingest drift monitor: add-1-smoothed unigram distributions of two
      // corpus halves (even/odd doc ids stand in for yesterday/today),
      // KL(A||B) accumulated from per-token BIGINT nano-nat contributions
      // — order-free, so the drift number is identical on any
      // partitioning. Scale shape: one token-count shuffle plus a
      // broadcast one-row totals join; the 100 TB ingest pipeline runs
      // this per batch against the trailing corpus distribution
      val counts = t(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("in_a"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("cb"))
      val totals = counts.agg(
        (sum(col("ca")) + count(lit(1))).as("na"),
        (sum(col("cb")) + count(lit(1))).as("nb"),
        count(lit(1)).as("v"))
      counts.crossJoin(broadcast(totals))
        .select(col("v"),
          floor((col("ca") + 1).cast("double") / col("na").cast("double") *
            log(((col("ca") + 1).cast("double") / col("na").cast("double")) /
              ((col("cb") + 1).cast("double") / col("nb").cast("double"))) *
            lit(1e9)).cast("long").as("klu"))
        .groupBy("v")
        .agg(fround(sum(col("klu")).cast("double") / 1e9, 6).as("kl_a_b"))
        .select(col("v").as("n_vocab"), col("kl_a_b"))
    }),
      s"""WITH tk AS (SELECT doc_id % 2 = 0 AS in_a, unnest($duckToks) AS tok
         |FROM documents),
         |c AS (SELECT tok,
         |sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS ca,
         |sum(CASE WHEN in_a THEN 0 ELSE 1 END)::BIGINT AS cb
         |FROM tk GROUP BY 1),
         |tt AS (SELECT (sum(ca) + count(*))::BIGINT AS na,
         |(sum(cb) + count(*))::BIGINT AS nb, count(*)::BIGINT AS v FROM c),
         |k AS (SELECT v,
         |floor((ca + 1)::DOUBLE / na::DOUBLE *
         |ln(((ca + 1)::DOUBLE / na::DOUBLE) / ((cb + 1)::DOUBLE / nb::DOUBLE))
         |* 1e9)::BIGINT AS klu FROM c, tt)
         |SELECT v AS n_vocab,
         |floor(sum(klu)::DOUBLE / 1e9 * 1000000.0) / 1000000.0 AS kl_a_b
         |FROM k GROUP BY v""".stripMargin),
    QueryDef("tx20_zipf_audit", ((s, dir) => {
      // Zipf conformance audit: log-log OLS slope of token frequency vs
      // rank over the top corpus tokens. Natural corpora slope toward -1;
      // templated/bot corpora flatten or cliff, so the slope is a
      // one-number corpus-health gate. One explode+count shuffle, then a
      // window over the tiny aggregated vocabulary; every OLS sum runs in
      // BIGINT micro-nat units so the slope is identical on any
      // partitioning (the repo-wide integer-quantization pattern).
      val freqs = t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val ranked = freqs
        // global window over the POST-AGGREGATION vocabulary (tiny), not
        // the token stream — single-partition is fine here
        .withColumn("rk",
          row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
        .filter(col("rk") <= 200)
        .select(
          floor(log(col("rk").cast("double")) * 1e6).cast("long").as("xu"),
          floor(log(col("freq").cast("double")) * 1e6).cast("long").as("yu"))
      ranked.agg(count(lit(1)).as("n_terms"),
          sum(col("xu")).as("sx"), sum(col("yu")).as("sy"),
          sum(col("xu") * col("yu")).as("sxy"),
          sum(col("xu") * col("xu")).as("sxx"))
        .select(col("n_terms"),
          fround(
            (col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"),
            4).as("zipf_slope"))
    }),
      s"""WITH tk AS (SELECT $duckToks AS t FROM documents),
         |toks AS (SELECT unnest(t) AS tok FROM tk),
         |f AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
         |r AS (SELECT freq,
         |row_number() OVER (ORDER BY freq DESC, tok) AS rk FROM f),
         |q AS (SELECT floor(ln(rk::DOUBLE) * 1e6)::BIGINT AS xu,
         |floor(ln(freq::DOUBLE) * 1e6)::BIGINT AS yu FROM r WHERE rk <= 200),
         |st AS (SELECT count(*)::BIGINT AS n_terms, sum(xu)::BIGINT AS sx,
         |sum(yu)::BIGINT AS sy, sum(xu * yu)::BIGINT AS sxy,
         |sum(xu * xu)::BIGINT AS sxx FROM q)
         |SELECT n_terms,
         |floor((n_terms * sxy - sx * sy)::DOUBLE
         |  / (n_terms * sxx - sx * sx)::DOUBLE * 10000.0) / 10000.0
         |  AS zipf_slope
         |FROM st""".stripMargin),
    QueryDef("tx16_readability", ((s, dir) =>
      // Flesch reading-ease + its inputs — the classic readability feature
      // of a corpus quality filter, as pure column arithmetic
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.sentenceCount(col("text")).as("n_sentences"),
        TextFunctions.syllableCount(col("text")).as("n_syllables"),
        fround(TextFunctions.fleschScore(col("text")), 3).as("flesch"))),
      s"""WITH f AS (SELECT doc_id,
         |greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         |len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables,
         |greatest(len($duckToks), 1) AS w
         |FROM documents)
         |SELECT doc_id, n_sentences, n_syllables,
         |floor((206.835 - 1.015 * (w::DOUBLE / n_sentences)
         |  - 84.6 * (n_syllables::DOUBLE / w)) * 1000.0) / 1000.0 AS flesch
         |FROM f""".stripMargin),
    QueryDef("tx15_type_token", ((s, dir) =>
      // per-source vocabulary richness (type-token ratio) — the Heaps-law
      // corpus diagnostic; one explode + one two-level aggregation
      t(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          fround(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"))),
      s"""WITH w AS (SELECT source, unnest($duckToks) AS w FROM documents)
         |SELECT source, count(*) AS n_tokens,
         |count(DISTINCT w) AS n_types,
         |floor(count(DISTINCT w)::DOUBLE / count(*) * 1000000.0) / 1000000.0
         |  AS ttr
         |FROM w GROUP BY source""".stripMargin),
    QueryDef("tx13_quality_model", ((s, dir) => {
      // model-based quality scoring: a trained linear classifier applied as
      // one codegen'd projection — sigmoid(w · features + b). Weights here
      // are fixed stand-ins; production swaps in learned ones (the
      // fastText-classifier reduction). No UDF, no broadcast state.
      val txt = col("text")
      val score = graft.functions.NumericFunctions.linearModelScore(
        Seq(log(lit(1.0) + col("n_chars").cast("double")),
          TextFunctions.stopwordRatio(txt),
          TextFunctions.punctRatio(txt),
          TextFunctions.meanTokenLen(txt)),
        weights = Seq(0.35, 2.0, -3.0, 0.12), bias = -2.2)
      t(s, dir, "documents").select(col("doc_id"),
        fround(score, 4).as("model_score"),
        (score >= 0.5).as("keep"))
    }),
      s"""WITH toks AS (SELECT doc_id, text, n_chars, $duckToks AS t
         |FROM documents),
         |f AS (SELECT doc_id,
         |ln(1.0 + n_chars::DOUBLE) AS f1,
         |len(list_filter(t, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
         |  / greatest(len(t), 1) AS f2,
         |(strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
         |  / greatest(strlen(text), 1) AS f3,
         |list_aggregate(list_transform(t, x -> strlen(x)), 'sum')::DOUBLE
         |  / greatest(len(t), 1) AS f4
         |FROM toks),
         |sc AS (SELECT doc_id, 1.0 / (1.0 + exp(-(
         |  -2.2 + 0.35 * f1 + 2.0 * f2 - 3.0 * f3 + 0.12 * f4))) AS s
         |FROM f)
         |SELECT doc_id, floor(s * 10000.0) / 10000.0 AS model_score,
         |s >= 0.5 AS keep FROM sc""".stripMargin),
    QueryDef("tx14_bigram_lm", ((s, dir) =>
      // CCNet-style perplexity filter: corpus-trained add-one word-bigram
      // LM, per-doc mean negative log-likelihood (micro-nat integer
      // arithmetic — order-independent, engine-portable)
      graft.operators.LanguageModel.bigramNll(
        t(s, dir, "documents"), "doc_id", "text")),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |d2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
         |bg AS (SELECT doc_id, t[i::INT] AS w1, t[(i + 1)::INT] AS w2
         |FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d2)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM
         |  (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)),
         |scored AS (SELECT doc_id,
         |floor(ln((c12.c12 + 1)::DOUBLE / (c1.c1 + v.v)::DOUBLE) * 1e6)::BIGINT
         |  AS lp_u
         |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |floor(-(sum(lp_u)::DOUBLE / 1e6) / count(*) * 1000.0) / 1000.0 AS nll
         |FROM scored GROUP BY doc_id""".stripMargin),
    QueryDef("tx37_kn_bigram", ((s, dir) =>
      // interpolated Kneser-Ney bigram NLL (D = 3/4): the
      // continuation-probability upgrade over tx14's add-one smoothing —
      // exact BIGINT probability ratios, micro-nat floors, same plan
      // shape
      graft.operators.LanguageModel.knBigramNll(
        t(s, dir, "documents"), "doc_id", "text")),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |d2 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
         |bg AS (SELECT doc_id, t[i::INT] AS w1, t[(i + 1)::INT] AS w2
         |FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d2)),
         |c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12
         |FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1,
         |count(*)::BIGINT AS n1l FROM c12 GROUP BY 1),
         |n1r AS (SELECT w2, count(*)::BIGINT AS n1r FROM c12 GROUP BY 1),
         |nb AS (SELECT count(*)::BIGINT AS nbg FROM c12),
         |scored AS (SELECT doc_id,
         |floor(ln((greatest(4 * c12.c12 - 3, 0) * nb.nbg
         |  + 3 * c1.n1l * n1r.n1r)::DOUBLE
         |  / (4 * c1.c1 * nb.nbg)::DOUBLE) * 1e6)::BIGINT AS lp_u
         |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |JOIN n1r USING (w2) CROSS JOIN nb)
         |SELECT doc_id, count(*) AS n_bigrams,
         |floor(-(sum(lp_u)::DOUBLE / 1e6) / count(*) * 1000.0) / 1000.0
         |  AS nll
         |FROM scored GROUP BY doc_id""".stripMargin),
    QueryDef("tx1_textstats", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        fround(TextFunctions.meanTokenLen(col("text")), 3).as("mean_token_len"),
        fround(TextFunctions.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        fround(TextFunctions.qualityScore(col("text")), 4).as("quality"))),
      s"""WITH toks AS (SELECT doc_id, text, $duckToks AS t FROM documents),
         |stats AS (SELECT doc_id, text, len(t) AS n_tokens,
         |list_aggregate(list_transform(t, x -> strlen(x)), 'sum')::DOUBLE
         |  / greatest(len(t), 1) AS mean_len,
         |len(list_filter(t, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
         |  / greatest(len(t), 1) AS stop_ratio,
         |(strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
         |  / greatest(strlen(text), 1) AS punct FROM toks)
         |SELECT doc_id, n_tokens, floor(mean_len * 1000.0) / 1000.0 AS mean_token_len,
         |floor(stop_ratio * 10000.0) / 10000.0 AS stopword_ratio,
         |floor(least(greatest(
         |least(n_tokens / 100.0, 1.0) * 0.5 + least(stop_ratio * 5.0, 1.0) * 0.3
         |+ (1.0 - punct) * 0.2, 0.0), 1.0) * 10000.0) / 10000.0 AS quality
         |FROM stats""".stripMargin),
    QueryDef("tx2_langid", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |scores AS (SELECT doc_id,
         |len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
         |len(list_filter(t, x -> x IN ('le','la','et'))) AS s_fr,
         |len(list_filter(t, x -> x IN ('el','los','que'))) AS s_es,
         |len(list_filter(t, x -> x IN ('der','die','und'))) AS s_de,
         |len(list_filter(t, x -> x IN ('de','shi','le'))) AS s_zh
         |FROM toks)
         |SELECT doc_id, CASE
         |WHEN s_en > 0 AND s_en >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
         |WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
         |WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
         |WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
         |WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
         |ELSE 'und' END AS lang_pred FROM scores""".stripMargin),
    QueryDef("tx3_fingerprint", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))),
      """WITH norm AS (SELECT doc_id,
        |regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS nm FROM documents)
        |SELECT doc_id, min(md5(substr(nm, i::INT, 8))) AS fp
        |FROM (SELECT doc_id, nm, unnest(range(1, greatest(strlen(nm) - 7, 1) + 1)) AS i FROM norm)
        |GROUP BY doc_id""".stripMargin),
    QueryDef("tx7_quality_floor", ((s, dir) => {
      // corpus pruning: drop documents below the median quality score —
      // the percentile is computed once (scalar) and broadcast into the
      // filter, not re-evaluated per row. persist: the median aggregation
      // and the filter both consume the scored corpus; without it the
      // quality scoring runs twice (the .head action and the output scan).
      // Exact percentile is the oracle baseline; tx7b is the scale mode.
      val docs = graft.operators.PlanPersist("entry.tx7.scored",
        t(s, dir, "documents")
          .withColumn("q", fround(TextFunctions.qualityScore(col("text")), 4)))
      val median = docs.agg(expr("percentile(q, 0.5)")).head().getDouble(0)
      docs.filter(col("q") >= median).select("doc_id", "q")
    }),
      s"""WITH q AS (SELECT doc_id,
         |floor(least(greatest(
         |least(len($duckToks) / 100.0, 1.0) * 0.5
         |+ least((len(list_filter($duckToks, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
         |  / greatest(len($duckToks), 1)) * 5.0, 1.0) * 0.3
         |+ (1.0 - (strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
         |  / greatest(strlen(text), 1)) * 0.2, 0.0), 1.0) * 10000.0) / 10000.0 AS q
         |FROM documents)
         |SELECT doc_id, q FROM q
         |WHERE q >= (SELECT quantile_cont(q, 0.5) FROM q)""".stripMargin),
    QueryDef("tx7b_quality_floor_approx", ((s, dir) => {
      // scale mode of tx7: approx_percentile is a bounded-memory mergeable
      // sketch (exact `percentile` buffers EVERY value in one aggregation
      // buffer — the 100 TB killer). The sketch's median is engine-specific,
      // so the oracled output is the median INVARIANT: the floor keeps
      // roughly half the corpus (exact-tie mass aside).
      import s.implicits._
      val docs = graft.operators.PlanPersist("entry.tx7b.scored",
        t(s, dir, "documents")
          .select(col("doc_id"),
            fround(TextFunctions.qualityScore(col("text")), 4).as("q")))
      val med = docs.agg(expr("approx_percentile(q, 0.5, 1000)")).head().getDouble(0)
      val total = docs.count()
      val kept = docs.filter(col("q") >= med).count()
      Seq((total, kept >= 0.35 * total && kept <= 0.65 * total))
        .toDF("n_total", "frac_ok")
    }),
      "SELECT count(*)::BIGINT AS n_total, true AS frac_ok FROM documents"),
    QueryDef("tx6_bpe_token_count", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"))),
      s"""SELECT doc_id,
         |len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g')), ' +')) AS ws_tokens,
         |len(regexp_extract_all(lower(text), '${TextFunctions.bpePattern.replace("'", "''")}')) AS bpe_tokens
         |FROM documents""".stripMargin),
    QueryDef("tx5_rolling_fingerprint", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.rollingFingerprint(col("text"), 8).as("rfp"))),
      """WITH norm AS (SELECT doc_id,
        |regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS nm FROM documents)
        |SELECT doc_id, min((
        |  ascii(substr(nm, i::INT, 1))::BIGINT * 27512614111 +
        |  ascii(substr(nm, i::INT + 1, 1))::BIGINT * 887503681 +
        |  ascii(substr(nm, i::INT + 2, 1))::BIGINT * 28629151 +
        |  ascii(substr(nm, i::INT + 3, 1))::BIGINT * 923521 +
        |  ascii(substr(nm, i::INT + 4, 1))::BIGINT * 29791 +
        |  ascii(substr(nm, i::INT + 5, 1))::BIGINT * 961 +
        |  ascii(substr(nm, i::INT + 6, 1))::BIGINT * 31 +
        |  ascii(substr(nm, i::INT + 7, 1))::BIGINT) % 1000000007) AS rfp
        |FROM (SELECT doc_id, nm,
        |unnest(range(1, greatest(strlen(nm) - 7, 1) + 1)) AS i FROM norm)
        |GROUP BY doc_id""".stripMargin),
    QueryDef("tx9_pii_redact", ((s, dir) =>
      // PII scrub pass: typed placeholders + per-doc redaction counts
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.redactPii(col("text")).as("redacted"),
        size(regexp_extract_all(col("text"),
          lit(TextFunctions.emailPattern), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"),
          lit(TextFunctions.longNumberPattern), lit(0))).as("n_longnums"))),
      s"""SELECT doc_id,
         |regexp_replace(regexp_replace(regexp_replace(text,
         |  '${TextFunctions.urlPattern}', '<URL>', 'g'),
         |  '${TextFunctions.emailPattern}', '<EMAIL>', 'g'),
         |  '${TextFunctions.longNumberPattern}', '<NUM>', 'g') AS redacted,
         |len(regexp_extract_all(text, '${TextFunctions.emailPattern}')) AS n_emails,
         |len(regexp_extract_all(text, '${TextFunctions.longNumberPattern}')) AS n_longnums
         |FROM documents""".stripMargin),
    QueryDef("tx10_repetition", ((s, dir) => {
      // boilerplate signal: share of the most-repeated 2-gram in each doc
      // (counting duplicates — unlike dedup's distinct shingle sets)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"),
          explode(TextFunctions.shinglesOfTokens(col("toks"), 2,
            distinct = false)).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(fround(max(col("c")).cast("double") / sum(col("c")), 4)
            .as("top_ngram_frac"),
          sum(col("c")).as("n_shingles"))
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |c AS (SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY 1, 2)
         |SELECT doc_id,
         |floor(max(c)::DOUBLE / sum(c) * 10000.0) / 10000.0 AS top_ngram_frac,
         |sum(c)::BIGINT AS n_shingles
         |FROM c GROUP BY doc_id""".stripMargin),
    QueryDef("tx11_gopher_rules", ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.gopherRules(col("text")).as("keep"))),
      s"""WITH toks AS (SELECT doc_id, text, $duckToks AS t FROM documents),
         |s AS (SELECT doc_id, len(t) AS n_tokens,
         |list_aggregate(list_transform(t, x -> strlen(x)), 'sum')::DOUBLE
         |  / greatest(len(t), 1) AS mtl,
         |len(list_filter(t, x -> x IN ('the','a','of','and','to','in'))) AS stops,
         |(strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
         |  / greatest(strlen(text), 1) AS punct FROM toks)
         |SELECT doc_id, n_tokens,
         |(n_tokens >= 50 AND n_tokens <= 100000 AND mtl >= 3.0 AND mtl <= 10.0
         | AND stops >= 2 AND punct < 0.1) AS keep
         |FROM s""".stripMargin),
    QueryDef("tx8_corpus_stats", ((s, dir) =>
      // corpus-level token accounting (the "how big is this training set"
      // query): one aggregation over projected per-doc counts
      t(s, dir, "documents")
        .select(TextFunctions.tokenCount(col("text")).as("ws"),
          TextFunctions.bpeTokenCount(col("text")).as("bpe"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("total_ws_tokens"),
          sum(col("bpe")).as("total_bpe_tokens"),
          fround(expr("percentile(ws, 0.5)"), 2).as("p50_ws"),
          fround(expr("percentile(ws, 0.95)"), 2).as("p95_ws"))),
      s"""WITH c AS (SELECT len($duckToks) AS ws,
         |len(regexp_extract_all(lower(text), '${TextFunctions.bpePattern.replace("'", "''")}')) AS bpe
         |FROM documents)
         |SELECT count(*) AS n_docs,
         |sum(ws)::BIGINT AS total_ws_tokens, sum(bpe)::BIGINT AS total_bpe_tokens,
         |floor(quantile_cont(ws, 0.5) * 100.0) / 100.0 AS p50_ws,
         |floor(quantile_cont(ws, 0.95) * 100.0) / 100.0 AS p95_ws
         |FROM c""".stripMargin),
    QueryDef("tx4_tfidf_top_term", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      // tf is already one row per distinct (doc, term), so document
      // frequency is a reaggregation of tf — the corpus is tokenized ONCE
      // and the tok.distinct() shuffle disappears; persist because tf
      // feeds both the join and the df reaggregation
      val tf = graft.operators.PlanPersist("entry.tfidf.tf",
        tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.count()
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df_, "term")
        .withColumn("score", col("tf") * log(lit(n.toDouble) / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term"), fround(col("score"), 3).as("score"))
    }),
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |scored AS (SELECT doc_id, term, tf * ln(n.n / df.df) AS score
         |FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (SELECT doc_id, term, score,
         |row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
         |FROM scored)
         |SELECT doc_id, term, floor(score * 1000.0) / 1000.0 AS score FROM ranked WHERE rn = 1""".stripMargin),
    QueryDef("tx19_lang_consistency", ((s, dir) => {
      // code-switch / concatenated-source detection: language votes on
      // each half of the document must agree with each other — a mismatch
      // flags docs stitched from different sources (a real corpus-hygiene
      // gate: mixed-language docs poison monolingual training mixes)
      val toks = TextFunctions.tokens(col("text"))
      val half = (size(toks) / 2).cast("int")
      t(s, dir, "documents")
        .withColumn("t1", array_join(slice(toks, lit(1), half), " "))
        .withColumn("t2",
          array_join(slice(toks, half + 1, size(toks) - half), " "))
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_full"),
          TextFunctions.langId(col("t1")).as("lang_head"),
          TextFunctions.langId(col("t2")).as("lang_tail"),
          (TextFunctions.langId(col("t1")) ===
            TextFunctions.langId(col("t2"))).as("consistent"))
    }), {
      // the lang CASE is generated per token-list expression so the three
      // votes (full / head half / tail half) share one definition
      def scores(expr: String, sfx: String) = Seq(
        ("en", "('the','a','of')"), ("fr", "('le','la','et')"),
        ("es", "('el','los','que')"), ("de", "('der','die','und')"),
        ("zh", "('de','shi','le')")).map { case (l, set) =>
        s"len(list_filter($expr, x -> x IN $set)) AS s_${l}_$sfx"
      }.mkString(",\n")
      def lang(sfx: String) = {
        val g = s"greatest(s_en_$sfx, s_fr_$sfx, s_es_$sfx, s_de_$sfx, s_zh_$sfx)"
        s"""CASE
           |WHEN s_en_$sfx > 0 AND s_en_$sfx >= $g THEN 'en'
           |WHEN s_fr_$sfx > 0 AND s_fr_$sfx >= $g THEN 'fr'
           |WHEN s_es_$sfx > 0 AND s_es_$sfx >= $g THEN 'es'
           |WHEN s_de_$sfx > 0 AND s_de_$sfx >= $g THEN 'de'
           |WHEN s_zh_$sfx > 0 AND s_zh_$sfx >= $g THEN 'zh'
           |ELSE 'und' END""".stripMargin
      }
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |parts AS (SELECT doc_id, t, (len(t) // 2)::INT AS h FROM toks),
         |sc AS (SELECT doc_id,
         |${scores("t", "f")},
         |${scores("t[1:h]", "h1")},
         |${scores("t[(h+1):len(t)]", "h2")}
         |FROM parts)
         |SELECT doc_id, ${lang("f")} AS lang_full,
         |${lang("h1")} AS lang_head,
         |${lang("h2")} AS lang_tail,
         |(${lang("h1")}) = (${lang("h2")}) AS consistent
         |FROM sc""".stripMargin
    }),
    QueryDef("tx18_char_entropy", ((s, dir) => {
      // character-unigram Shannon entropy — the classic low-entropy
      // (repetitive / binary-junk) quality gate; each -p*ln(p) term is
      // quantized to integer nano-nats before the sum, so the aggregate is
      // order-free and engine-exact
      val counts = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      val p = col("c").cast("double") / col("n")
      counts
        .join(counts.groupBy("doc_id").agg(sum("c").as("n")), "doc_id")
        .withColumn("term_u", floor(-p * log(p) * 1e9).cast("long"))
        .groupBy("doc_id")
        .agg(fround(sum(col("term_u")).cast("double") / 1e9, 6).as("entropy"),
          countDistinct(col("ch")).as("n_distinct_chars"))
    }),
      """WITH ch AS (SELECT doc_id, substr(text, i::INT, 1) AS ch
        |FROM (SELECT doc_id, text,
        |unnest(range(1, length(text) + 1)) AS i FROM documents)),
        |cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
        |terms AS (SELECT cnt.doc_id,
        |floor(-(c::DOUBLE / n) * ln(c::DOUBLE / n) * 1000000000.0)::BIGINT
        |  AS term_u, ch
        |FROM cnt JOIN tot USING (doc_id))
        |SELECT doc_id,
        |floor(sum(term_u)::DOUBLE / 1000000000.0 * 1000000.0) / 1000000.0
        |  AS entropy,
        |count(DISTINCT ch) AS n_distinct_chars
        |FROM terms GROUP BY doc_id""".stripMargin),
    QueryDef("tx17_tfidf_cosine", ((s, dir) =>
      // sparse TF-IDF cosine via the inverted-index (postings) join: only
      // docs sharing a sub-cap term are ever compared. Bigram terms (the
      // fixture's unigram vocab is 31 words, df ~ N — no sparsity) and a
      // FRACTIONAL df cap (2% of the corpus) keep the same semantics and
      // the same bounded join fan-out at every scale factor
      Dedup.tfidfCosinePairs(t(s, dir, "documents"), "doc_id", "text",
        dfCapShare = 0.02, threshold = 0.5, ngramSize = 2)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS term
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM bg GROUP BY 1, 2),
         |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |cap AS (SELECT greatest(floor(n * 0.02), 1)::BIGINT AS c FROM nn),
         |w AS (SELECT doc_id, term,
         |floor(tf * ln(nn.n / df) * 1000.0)::BIGINT AS wm
         |FROM tf JOIN dfr USING (term) CROSS JOIN nn CROSS JOIN cap
         |WHERE df <= cap.c),
         |nrm AS (SELECT doc_id, sum(wm * wm)::BIGINT AS n2 FROM w GROUP BY 1),
         |dt AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |sum(a.wm * b.wm)::BIGINT AS d
         |FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b,
         |d::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) AS c
         |FROM dt JOIN nrm na ON na.doc_id = doc_a
         |JOIN nrm nb ON nb.doc_id = doc_b)
         |SELECT doc_a, doc_b, floor(c * 1000000.0) / 1000000.0 AS cosine
         |FROM c WHERE c >= 0.5""".stripMargin)
  )
}

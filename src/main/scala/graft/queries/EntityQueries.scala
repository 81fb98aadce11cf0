package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `er` family: entity resolution — blocking, Fellegi-Sunter
  * scoring, EM weights, clustering and review queues. */
private[queries] object EntityQueries {
  import QueryKit._

  val all: Seq[QueryDef] = Seq(
    QueryDef("er1_entity_clusters", ((s, dir) =>
      // entity resolution end-to-end: tx24's token-blocked Jaro-Winkler
      // match pairs -> connected components -> one canonical entity id
      // (min member key) per real-world entity, singletons included — the
      // record-linkage pipeline (blocking + transitive closure) that
      // collapses name variants before analytics. Candidate generation is
      // the token inverted index (corpus-proportional, never all-pairs);
      // cluster resolution reuses the dedup CC machinery (driver
      // union-find small, distributed star contraction at scale).
      graft.operators.EntityResolution.resolveEntities(
        t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand")),
        "p_partkey", "p_name", "p_brand", threshold = 0.9)),
      """WITH RECURSIVE pairs AS (
        |SELECT a.p_partkey AS da, b.p_partkey AS db
        |FROM part a JOIN part b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |UNION SELECT db, da FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS p_partkey, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a),
        |ent AS (SELECT p.p_partkey,
        |coalesce(cc.cluster_id, p.p_partkey) AS entity_id
        |FROM part p LEFT JOIN cc USING (p_partkey)),
        |sized AS (SELECT entity_id, count(*)::BIGINT AS entity_size
        |FROM ent GROUP BY 1)
        |SELECT ent.p_partkey, ent.entity_id, sized.entity_size
        |FROM ent JOIN sized USING (entity_id)""".stripMargin),
    QueryDef("er14_matcher_kappa", ((s, dir) =>
      // Cohen's kappa between the FS multi-feature matcher and the
      // name-only JW >= 0.92 gate on the shared candidate set — "are
      // the extra features redundant with the name?" The disagreement
      // cells are the clerical-review shortlist. Rides the memoized
      // er2/er3/er6 scored frame: no extra scoring pass
      graft.operators.EntityResolution.matcherAgreement(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice")),
      // the BLOCKED distinct candidate set replayed exactly (kappa's
      // n00 depends on the candidate universe, so the exhaustive
      // within-brand relaxation er2's oracle uses would not agree);
      // er2's weights, then the 2x2 marginals in HUGEINT
      """WITH ta AS (SELECT p_partkey, p_name, p_brand, p_size, p_type,
        |p_retailprice, unnest(string_split(p_name, ' ')) AS tok
        |FROM part),
        |cand AS (SELECT DISTINCT a.p_partkey AS pk_a,
        |b.p_partkey AS pk_b, a.p_name AS na, b.p_name AS nb,
        |a.p_size AS sa, b.p_size AS sb, a.p_type AS ca, b.p_type AS cb,
        |a.p_retailprice AS ra, b.p_retailprice AS rb
        |FROM ta a JOIN ta b ON a.p_brand = b.p_brand
        |AND a.tok = b.tok AND a.p_partkey < b.p_partkey),
        |f AS (SELECT
        |floor(jaro_winkler_similarity(na, nb) * 10000.0)::BIGINT AS jwu,
        |CASE WHEN abs(sa - sb) <= 2 THEN 1 ELSE 0 END AS f_size,
        |CASE WHEN ca = cb THEN 1 ELSE 0 END AS f_cat,
        |CASE WHEN abs(ra - rb) <= 50.0 THEN 1 ELSE 0 END AS f_price
        |FROM cand),
        |s AS (SELECT
        |CASE WHEN (CASE WHEN jwu >= 9000 THEN 65 ELSE -43 END
        | + CASE WHEN f_size = 1 THEN 20 ELSE -20 END
        | + CASE WHEN f_cat = 1 THEN 22 ELSE -30 END
        | + CASE WHEN f_price = 1 THEN 20 ELSE -20 END) >= 60
        |THEN 1 ELSE 0 END AS a,
        |CASE WHEN jwu >= 9200 THEN 1 ELSE 0 END AS b FROM f),
        |m AS (SELECT count(*)::HUGEINT AS n,
        |coalesce(sum(a * b), 0)::HUGEINT AS n11,
        |coalesce(sum(a * (1 - b)), 0)::HUGEINT AS n10,
        |coalesce(sum((1 - a) * b), 0)::HUGEINT AS n01,
        |coalesce(sum((1 - a) * (1 - b)), 0)::HUGEINT AS n00 FROM s),
        |r AS (SELECT n::BIGINT AS n_pairs, n11::BIGINT AS n_both,
        |n10::BIGINT AS n_fs_only, n01::BIGINT AS n_jw_only,
        |n00::BIGINT AS n_neither,
        |((n11 + n00) * 1000000 // greatest(n, 1))::BIGINT AS po_ppm,
        |(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
        |  * 1000000 // greatest(n * n, 1))::BIGINT AS pe_ppm FROM m)
        |SELECT n_pairs, n_both, n_fs_only, n_jw_only, n_neither,
        |po_ppm, pe_ppm,
        |((po_ppm - pe_ppm) * 1000000
        |  // greatest(1000000 - pe_ppm, 1))::BIGINT AS kappa_ppm
        |FROM r""".stripMargin),
    QueryDef("er2_fellegi_sunter", ((s, dir) =>
      // Fellegi-Sunter record linkage: per-feature agreement /
      // disagreement log-weights (fuzzy name, size tolerance, exact
      // category, price tolerance) summed in integer deci-units, decision
      // threshold 6.0 — a match needs name agreement plus two
      // corroborating features. Candidates ride the token inverted index;
      // the oracle scores every within-brand pair, proving the blocking
      // lossless for the decision rule.
      graft.operators.EntityResolution.fellegiSunterMatches(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice")),
      """WITH f AS (
        |SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
        |floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 AS jw,
        |CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN 1 ELSE 0 END AS f_size,
        |CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS f_cat,
        |CASE WHEN abs(a.p_retailprice - b.p_retailprice) <= 50.0
        |  THEN 1 ELSE 0 END AS f_price
        |FROM part a JOIN part b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
        |s AS (SELECT *,
        |(CASE WHEN jw >= 0.9 THEN 65 ELSE -43 END
        | + CASE WHEN f_size = 1 THEN 20 ELSE -20 END
        | + CASE WHEN f_cat = 1 THEN 22 ELSE -30 END
        | + CASE WHEN f_price = 1 THEN 20 ELSE -20 END) AS fs_deci FROM f)
        |SELECT pk_a, pk_b, jw, f_size, f_cat, f_price,
        |fs_deci / 10.0 AS fs_score FROM s WHERE fs_deci >= 60""".stripMargin),
    QueryDef("er5_incremental_link", ((s, dir) => {
      // incremental entity linkage (continuous-ingest ER): a new batch
      // links against the resolved corpus batch-vs-corpus only — the
      // corpus never re-pairs with itself; unmatched records found new
      // entities under their own key
      val parts = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      val corpus = parts.filter(col("p_partkey") % 10 =!= 0)
      val batch = parts.filter(col("p_partkey") % 10 === 0)
      val corpusEnt = graft.operators.EntityResolution.resolveEntities(
        corpus, "p_partkey", "p_name", "p_brand", threshold = 0.9)
      graft.operators.EntityResolution.linkIncrement(corpus, corpusEnt,
        batch, "p_partkey", "p_name", "p_brand", threshold = 0.9)
    }),
      """WITH RECURSIVE corp AS (SELECT p_partkey, p_name, p_brand
        |FROM part WHERE p_partkey % 10 <> 0),
        |bat AS (SELECT p_partkey, p_name, p_brand
        |FROM part WHERE p_partkey % 10 = 0),
        |pairs AS (SELECT a.p_partkey AS da, b.p_partkey AS db
        |FROM corp a JOIN corp b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |UNION SELECT db, da FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS p_partkey, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a),
        |ent AS (SELECT c.p_partkey,
        |coalesce(cc.cluster_id, c.p_partkey) AS entity_id
        |FROM corp c LEFT JOIN cc USING (p_partkey)),
        |m AS (SELECT b.p_partkey, min(e.entity_id) AS matched_entity
        |FROM bat b JOIN corp c ON c.p_brand = b.p_brand
        |AND floor(jaro_winkler_similarity(b.p_name, c.p_name) * 10000.0)
        |  / 10000.0 >= 0.9
        |JOIN ent e ON e.p_partkey = c.p_partkey
        |GROUP BY 1)
        |SELECT b.p_partkey,
        |coalesce(m.matched_entity, b.p_partkey) AS entity_id,
        |m.matched_entity IS NULL AS is_new
        |FROM bat b LEFT JOIN m USING (p_partkey)""".stripMargin),
    QueryDef("er3_fs_bands", ((s, dir) =>
      // the full FS three-band decision summary (match / clerical-review
      // possible / non-match) over the token-blocked candidate set —
      // the audit that sizes the human-review queue before committing to
      // thresholds. Blocking is part of the contract: band populations
      // are candidate-set populations, so the oracle reproduces the same
      // token inverted index.
      graft.operators.EntityResolution.fellegiSunterBands(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice")),
      """WITH tk AS (SELECT p_partkey AS pk, p_brand, p_name, p_size,
        |p_type, p_retailprice, unnest(string_split(p_name, ' ')) AS tok
        |FROM part),
        |cand AS (SELECT DISTINCT a.pk AS pk_a, b.pk AS pk_b,
        |a.p_name AS na, b.p_name AS nb, a.p_size AS sa, b.p_size AS sb,
        |a.p_type AS ta, b.p_type AS tb,
        |a.p_retailprice AS pra, b.p_retailprice AS prb
        |FROM tk a JOIN tk b
        |ON a.p_brand = b.p_brand AND a.tok = b.tok AND a.pk < b.pk),
        |s AS (SELECT
        |floor(jaro_winkler_similarity(na, nb) * 10000.0)::BIGINT AS jw_u,
        |(CASE WHEN abs(sa - sb) <= 2 THEN 20 ELSE -20 END
        | + CASE WHEN ta = tb THEN 22 ELSE -30 END
        | + CASE WHEN abs(pra - prb) <= 50.0 THEN 20 ELSE -20 END)
        |  AS rest FROM cand),
        |sb AS (SELECT jw_u,
        |(CASE WHEN jw_u >= 9000 THEN 65 ELSE -43 END + rest) AS deci
        |FROM s)
        |SELECT CASE WHEN deci >= 60 THEN 'match'
        |WHEN deci >= 0 THEN 'possible' ELSE 'non_match' END AS band,
        |count(*)::BIGINT AS n_pairs,
        |floor(sum(jw_u)::DOUBLE / count(*)) / 10000.0 AS avg_jw
        |FROM sb GROUP BY 1""".stripMargin),
    QueryDef("er11_tf_adjusted", ((s, dir) =>
      // term-frequency-adjusted FS decision: agreement on the pair's
      // rarest shared token earns floor(10*log2(N/df)) deci-units, so
      // rare-name borderline pairs cross the threshold while
      // common-token pairs don't get rescued
      graft.operators.EntityResolution.tfAdjustedMatches(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice")),
      """WITH tk AS (SELECT p_partkey AS pk, p_brand, p_name, p_size,
        |p_type, p_retailprice, unnest(string_split(p_name, ' ')) AS tok
        |FROM part),
        |dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM
        |(SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' '))
        |  AS tok FROM part) GROUP BY 1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM part),
        |cand AS (SELECT a.pk AS pk_a, b.pk AS pk_b, d.df,
        |a.p_name AS na, b.p_name AS nb, a.p_size AS sa, b.p_size AS sb,
        |a.p_type AS ta, b.p_type AS tb,
        |a.p_retailprice AS pra, b.p_retailprice AS prb
        |FROM tk a JOIN tk b
        |ON a.p_brand = b.p_brand AND a.tok = b.tok AND a.pk < b.pk
        |JOIN dfreq d ON d.tok = a.tok),
        |s0 AS (SELECT pk_a, pk_b, na, nb, sa, sb, ta, tb, pra, prb,
        |min(df)::BIGINT AS min_df
        |FROM cand GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10),
        |s AS (SELECT pk_a, pk_b, min_df,
        |floor(jaro_winkler_similarity(na, nb) * 10000.0)::BIGINT AS jw_u,
        |(CASE WHEN abs(sa - sb) <= 2 THEN 20 ELSE -20 END
        | + CASE WHEN ta = tb THEN 22 ELSE -30 END
        | + CASE WHEN abs(pra - prb) <= 50.0 THEN 20 ELSE -20 END)
        |  AS rest FROM s0),
        |sc AS (SELECT pk_a, pk_b, min_df,
        |(CASE WHEN jw_u >= 9000 THEN 65 ELSE -43 END + rest) AS fs_deci,
        |CASE WHEN jw_u >= 9000 THEN
        |floor(ln(n.n::DOUBLE / min_df::DOUBLE) / ln(2.0) * 10)::BIGINT
        |ELSE 0 END AS adj
        |FROM s CROSS JOIN nn n)
        |SELECT pk_a, pk_b, min_df, fs_deci,
        |(fs_deci + adj)::BIGINT AS fs_tf_deci FROM sc
        |WHERE fs_deci + adj >= 60""".stripMargin),
    QueryDef("er10_review_queue", ((s, dir) =>
      // budgeted clerical-review worklist: each block's 5 most-promising
      // `possible`-band pairs, stably ranked (score, jw, keys) — the
      // WindowGroupLimit partial top-k keeps the per-block shuffle at
      // quota rows; one scoring pass shared with er2/er3/er6/er9
      graft.operators.EntityResolution.reviewQueue(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice", quotaPerBlock = 5)),
      """WITH tk AS (SELECT p_partkey AS pk, p_brand, p_name, p_size,
        |p_type, p_retailprice, unnest(string_split(p_name, ' ')) AS tok
        |FROM part),
        |cand AS (SELECT DISTINCT a.p_brand AS block,
        |a.pk AS pk_a, b.pk AS pk_b,
        |a.p_name AS na, b.p_name AS nb, a.p_size AS sa, b.p_size AS sb,
        |a.p_type AS ta, b.p_type AS tb,
        |a.p_retailprice AS pra, b.p_retailprice AS prb
        |FROM tk a JOIN tk b
        |ON a.p_brand = b.p_brand AND a.tok = b.tok AND a.pk < b.pk),
        |s AS (SELECT block, pk_a, pk_b,
        |floor(jaro_winkler_similarity(na, nb) * 10000.0)::BIGINT AS jw_u,
        |(CASE WHEN abs(sa - sb) <= 2 THEN 20 ELSE -20 END
        | + CASE WHEN ta = tb THEN 22 ELSE -30 END
        | + CASE WHEN abs(pra - prb) <= 50.0 THEN 20 ELSE -20 END)
        |  AS rest FROM cand),
        |sb AS (SELECT block, pk_a, pk_b, jw_u,
        |(CASE WHEN jw_u >= 9000 THEN 65 ELSE -43 END + rest) AS deci
        |FROM s),
        |q AS (SELECT block, pk_a, pk_b, jw_u, deci,
        |row_number() OVER (PARTITION BY block
        |ORDER BY deci DESC, jw_u DESC, pk_a, pk_b) AS rank
        |FROM sb WHERE deci >= 0 AND deci < 60)
        |SELECT block, rank, pk_a, pk_b, jw_u / 10000.0 AS jw,
        |deci / 10.0 AS fs_score
        |FROM q WHERE rank <= 5""".stripMargin),
    QueryDef("er6_fs_em_weights", ((s, dir) =>
      // one classification-EM refresh of the FS m/u parameters from the
      // candidate set (hard E-step = current decision rule, M-step =
      // smoothed per-feature agreement rates) — integer ppm rates, one
      // ln per refreshed deci-weight, constant-size output
      graft.operators.EntityResolution.fellegiSunterEmWeights(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice")),
      """WITH tk AS (SELECT p_partkey AS pk, p_brand, p_name, p_size,
        |p_type, p_retailprice, unnest(string_split(p_name, ' ')) AS tok
        |FROM part),
        |cand AS (SELECT DISTINCT a.pk AS pk_a, b.pk AS pk_b,
        |a.p_name AS na, b.p_name AS nb, a.p_size AS sa, b.p_size AS sb,
        |a.p_type AS ta, b.p_type AS tb,
        |a.p_retailprice AS pra, b.p_retailprice AS prb
        |FROM tk a JOIN tk b
        |ON a.p_brand = b.p_brand AND a.tok = b.tok AND a.pk < b.pk),
        |s AS (SELECT
        |CASE WHEN floor(jaro_winkler_similarity(na, nb) * 10000.0) >= 9000
        |  THEN 1 ELSE 0 END AS f_name,
        |CASE WHEN abs(sa - sb) <= 2 THEN 1 ELSE 0 END AS f_size,
        |CASE WHEN ta = tb THEN 1 ELSE 0 END AS f_cat,
        |CASE WHEN abs(pra - prb) <= 50.0 THEN 1 ELSE 0 END AS f_price
        |FROM cand),
        |c AS (SELECT f_name, f_size, f_cat, f_price,
        |CASE WHEN (CASE WHEN f_name = 1 THEN 65 ELSE -43 END
        | + CASE WHEN f_size = 1 THEN 20 ELSE -20 END
        | + CASE WHEN f_cat = 1 THEN 22 ELSE -30 END
        | + CASE WHEN f_price = 1 THEN 20 ELSE -20 END) >= 60
        |  THEN 1 ELSE 0 END AS is_m FROM s),
        |agg AS (SELECT sum(is_m)::BIGINT AS n_m,
        |sum(1 - is_m)::BIGINT AS n_u,
        |sum(CASE WHEN is_m = 1 THEN f_name ELSE 0 END)::BIGINT AS am_name,
        |sum(CASE WHEN is_m = 0 THEN f_name ELSE 0 END)::BIGINT AS au_name,
        |sum(CASE WHEN is_m = 1 THEN f_size ELSE 0 END)::BIGINT AS am_size,
        |sum(CASE WHEN is_m = 0 THEN f_size ELSE 0 END)::BIGINT AS au_size,
        |sum(CASE WHEN is_m = 1 THEN f_cat ELSE 0 END)::BIGINT AS am_cat,
        |sum(CASE WHEN is_m = 0 THEN f_cat ELSE 0 END)::BIGINT AS au_cat,
        |sum(CASE WHEN is_m = 1 THEN f_price ELSE 0 END)::BIGINT AS am_price,
        |sum(CASE WHEN is_m = 0 THEN f_price ELSE 0 END)::BIGINT AS au_price
        |FROM c),
        |f AS (SELECT 'name' AS feature, am_name AS am, au_name AS au,
        |n_m, n_u FROM agg
        |UNION ALL SELECT 'size', am_size, au_size, n_m, n_u FROM agg
        |UNION ALL SELECT 'cat', am_cat, au_cat, n_m, n_u FROM agg
        |UNION ALL SELECT 'price', am_price, au_price, n_m, n_u FROM agg)
        |SELECT feature,
        |((am + 1) * 1000000) // (n_m + 2) AS m_ppm,
        |((au + 1) * 1000000) // (n_u + 2) AS u_ppm,
        |floor(ln(((am + 1) * (n_u + 2))::DOUBLE
        |  / ((n_m + 2) * (au + 1))::DOUBLE) / ln(2) * 10.0)::BIGINT
        |  AS w_agree_deci,
        |floor(ln(((n_m + 1 - am) * (n_u + 2))::DOUBLE
        |  / ((n_m + 2) * (n_u + 1 - au))::DOUBLE) / ln(2) * 10.0)::BIGINT
        |  AS w_disagree_deci
        |FROM f""".stripMargin),
    QueryDef("er9_fs_em_iterated", ((s, dir) =>
      // the full Fellegi-Sunter classification-EM loop (er6 iterated):
      // each step re-estimates smoothed m/u under the current hard
      // assignment AND moves the decision boundary into the refreshed
      // weight space (match iff summed deci-weights > 0) — publishes the
      // whole trajectory; one persisted candidate scoring serves every
      // step, each step is one 1-row aggregation
      graft.operators.EntityResolution.fellegiSunterEmIterated(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        "p_size", "p_type", "p_retailprice", steps = 3)), {
      // unrolled EM: step-k weights from counts under assignment k-1;
      // assignment k is the refreshed-weight log-likelihood rule (> 0)
      val feats = Seq("name", "size", "cat", "price")
      def wA(f: String) =
        s"""floor(ln(((am_$f + 1) * (n_u + 2))::DOUBLE
           | / ((n_m + 2) * (au_$f + 1))::DOUBLE) / ln(2) * 10.0)::BIGINT"""
          .stripMargin.replace("\n", "")
      def wD(f: String) =
        s"""floor(ln(((n_m + 1 - am_$f) * (n_u + 2))::DOUBLE
           | / ((n_m + 2) * (n_u + 1 - au_$f))::DOUBLE) / ln(2) * 10.0)::BIGINT"""
          .stripMargin.replace("\n", "")
      val head =
        """WITH tk AS (SELECT p_partkey AS pk, p_brand, p_name, p_size,
          |p_type, p_retailprice, unnest(string_split(p_name, ' ')) AS tok
          |FROM part),
          |cand AS (SELECT DISTINCT a.pk AS pk_a, b.pk AS pk_b,
          |a.p_name AS na, b.p_name AS nb, a.p_size AS sa, b.p_size AS sb,
          |a.p_type AS ta, b.p_type AS tb,
          |a.p_retailprice AS pra, b.p_retailprice AS prb
          |FROM tk a JOIN tk b
          |ON a.p_brand = b.p_brand AND a.tok = b.tok AND a.pk < b.pk),
          |s AS (SELECT
          |CASE WHEN floor(jaro_winkler_similarity(na, nb) * 10000.0) >= 9000
          |  THEN 1 ELSE 0 END AS f_name,
          |CASE WHEN abs(sa - sb) <= 2 THEN 1 ELSE 0 END AS f_size,
          |CASE WHEN ta = tb THEN 1 ELSE 0 END AS f_cat,
          |CASE WHEN abs(pra - prb) <= 50.0 THEN 1 ELSE 0 END AS f_price
          |FROM cand),
          |a0 AS (SELECT f_name, f_size, f_cat, f_price,
          |CASE WHEN (CASE WHEN f_name = 1 THEN 65 ELSE -43 END
          | + CASE WHEN f_size = 1 THEN 20 ELSE -20 END
          | + CASE WHEN f_cat = 1 THEN 22 ELSE -30 END
          | + CASE WHEN f_price = 1 THEN 20 ELSE -20 END) >= 60
          |  THEN 1 ELSE 0 END AS is_m FROM s)""".stripMargin
      val steps = (1 to 3).map { k =>
        val counts =
          s"""c$k AS (SELECT sum(is_m)::BIGINT AS n_m,
             |sum(1 - is_m)::BIGINT AS n_u,
             |""".stripMargin +
          feats.map(f =>
            s"""sum(CASE WHEN is_m = 1 THEN f_$f ELSE 0 END)::BIGINT AS am_$f,
               |sum(CASE WHEN is_m = 0 THEN f_$f ELSE 0 END)::BIGINT AS au_$f"""
              .stripMargin).mkString(",\n") +
          s"\nFROM a${k - 1})"
        val out =
          s"""out$k AS (""" + feats.map(f =>
            s"""SELECT $k AS step, '$f' AS feature, am_$f AS am,
               |au_$f AS au, n_m, n_u FROM c$k""".stripMargin)
            .mkString("\nUNION ALL ") + ")"
        val next = if (k == 3) "" else {
          ",\n" +
          s"""a$k AS (SELECT s.*, CASE WHEN (""" + feats.map(f =>
            s"""CASE WHEN f_$f = 1 THEN wk.${f}_a ELSE wk.${f}_d END""")
            .mkString(" + ") +
          s""") > 0 THEN 1 ELSE 0 END AS is_m FROM s CROSS JOIN
             |(SELECT """.stripMargin + feats.map(f =>
            s"${wA(f)} AS ${f}_a, ${wD(f)} AS ${f}_d").mkString(",\n") +
          s" FROM c$k) wk)"
        }
        counts + ",\n" + out + next
      }.mkString(",\n")
      head + ",\n" + steps +
        "\n" +
        """SELECT step, feature,
          |((am + 1) * 1000000) // (n_m + 2) AS m_ppm,
          |((au + 1) * 1000000) // (n_u + 2) AS u_ppm,
          |floor(ln(((am + 1) * (n_u + 2))::DOUBLE
          |  / ((n_m + 2) * (au + 1))::DOUBLE) / ln(2) * 10.0)::BIGINT
          |  AS w_agree_deci,
          |floor(ln(((n_m + 1 - am) * (n_u + 2))::DOUBLE
          |  / ((n_m + 2) * (n_u + 1 - au))::DOUBLE) / ln(2) * 10.0)::BIGINT
          |  AS w_disagree_deci, n_m
          |FROM (SELECT * FROM out1 UNION ALL SELECT * FROM out2
          |UNION ALL SELECT * FROM out3)""".stripMargin
    }),
    QueryDef("er8_cluster_audit", ((s, dir) =>
      // transitive-closure overreach detector: per multi-member entity
      // the exact pairwise JW floor/mean (integer 1e4-units) — clusters
      // whose weakest internal pair is below the admitting threshold are
      // the MDM review queue. Pair join bounded by maxAuditSize per
      // cluster BY CONSTRUCTION
      graft.operators.EntityResolution.clusterAudit(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        threshold = 0.9)),
      """WITH RECURSIVE prs AS (
        |SELECT a.p_partkey AS da, b.p_partkey AS db
        |FROM part a JOIN part b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM prs
        |UNION SELECT db, da FROM prs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS p_partkey, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a),
        |ent AS (SELECT p.p_partkey,
        |coalesce(cc.cluster_id, p.p_partkey) AS entity_id, p.p_name
        |FROM part p LEFT JOIN cc ON cc.p_partkey = p.p_partkey),
        |sz AS (SELECT entity_id, count(*)::BIGINT AS n_members FROM ent
        |GROUP BY 1),
        |mp AS (SELECT a.entity_id, sz.n_members,
        |floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)::BIGINT
        |  AS jw_u
        |FROM ent a JOIN ent b ON a.entity_id = b.entity_id
        |AND a.p_partkey < b.p_partkey
        |JOIN sz ON sz.entity_id = a.entity_id
        |WHERE sz.n_members BETWEEN 2 AND 64)
        |SELECT entity_id, n_members, count(*)::BIGINT AS n_pairs,
        |min(jw_u) AS min_jw_u, sum(jw_u)::BIGINT // count(*) AS mean_jw_u,
        |min(jw_u) < 9000 AS weak
        |FROM mp GROUP BY 1, 2""".stripMargin),
    QueryDef("er7_blocking_quality", ((s, dir) =>
      // blocking-scheme certification (Christen 2012 ch. 7): reduction
      // ratio + pair completeness of the token inverted index vs the
      // exhaustive within-block space — the exhaustive space is COUNTED
      // (one agg over block sizes), never generated; the quadratic
      // true-match denominator runs on a deterministic md5-prefix ~50%
      // sample BY CONSTRUCTION (mandatory sampleHexCut). Integer ppm,
      // greatest(denominator, 1) zero-guard
      graft.operators.EntityResolution.blockingQuality(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        threshold = 0.9, sampleHexCut = "80")),
      """WITH rec AS (SELECT p_partkey AS pk, p_name AS name,
        |p_brand AS block FROM part
        |WHERE substr(md5(p_partkey::VARCHAR), 1, 2) < '80'),
        |ex AS (SELECT coalesce(sum(c * (c - 1) // 2), 0)::BIGINT
        |  AS n_exhaustive FROM
        |(SELECT count(*) AS c FROM rec GROUP BY block)),
        |tk AS (SELECT pk, name, block,
        |unnest(string_split(name, ' ')) AS tok FROM rec),
        |cd AS (SELECT DISTINCT a.pk AS pk_a, b.pk AS pk_b,
        |a.name AS na, b.name AS nb FROM tk a JOIN tk b
        |ON a.block = b.block AND a.tok = b.tok AND a.pk < b.pk),
        |cagg AS (SELECT count(*)::BIGINT AS n_candidates,
        |coalesce(sum(CASE WHEN floor(jaro_winkler_similarity(na, nb)
        |  * 10000.0) / 10000.0 >= 0.9 THEN 1 ELSE 0 END), 0)::BIGINT
        |  AS n_matches_found
        |FROM cd),
        |tm AS (SELECT count(*)::BIGINT AS n_true_matches FROM
        |(SELECT a.pk FROM rec a JOIN rec b
        |ON a.block = b.block AND a.pk < b.pk
        |WHERE floor(jaro_winkler_similarity(a.name, b.name) * 10000.0)
        |  / 10000.0 >= 0.9))
        |SELECT n_exhaustive, n_candidates, n_true_matches, n_matches_found,
        |(n_exhaustive - n_candidates) * 1000000
        |  // greatest(n_exhaustive, 1) AS rr_ppm,
        |n_matches_found * 1000000 // greatest(n_true_matches, 1) AS pc_ppm
        |FROM ex, cagg, tm""".stripMargin),
    QueryDef("er13_phonetic_blocking", ((s, dir) =>
      // er7's certification re-run with PHONETIC token buckets: the
      // inverted-index key is soundex(token) (American Soundex, H/W
      // transparent, vowels reset — Spark's built-in), so typo'd or
      // variant-spelled tokens still collide. Read against er7's row:
      // RR drops (coarser buckets, more candidates), PC can only rise
      // — the standard blocking trade (Christen 2012 ch. 4.3). Same
      // mandatory md5-prefix sample, same integer ppm
      graft.operators.EntityResolution.blockingQuality(
        t(s, dir, "part"), "p_partkey", "p_name", "p_brand",
        threshold = 0.9, sampleHexCut = "80", tokenKey = soundex)),
      // er7's oracle with the token replaced by its Soundex code. DuckDB
      // has no soundex, so the `sx` CTE replays Spark's exact variant
      // (mapping "01230127022455012623017202": H/W code 7 = transparent
      // keep-last, vowels/Y code 0 = reset, non-letters reset, first
      // letter's code participates in dedup) as a linear recursive CTE
      // over char positions of the DISTINCT token vocabulary — verified
      // char-for-char against the built-in on a 43-word battery
      """WITH rec AS (SELECT p_partkey AS pk, p_name AS name,
        |p_brand AS block FROM part
        |WHERE substr(md5(p_partkey::VARCHAR), 1, 2) < '80'),
        |ex AS (SELECT coalesce(sum(c * (c - 1) // 2), 0)::BIGINT
        |  AS n_exhaustive FROM
        |(SELECT count(*) AS c FROM rec GROUP BY block)),
        |tk0 AS (SELECT pk, name, block,
        |unnest(string_split(name, ' ')) AS tok FROM rec),
        |vocab AS (SELECT DISTINCT tok FROM tk0),
        |ch AS (SELECT tok, upper(tok) AS u, len(tok)::BIGINT AS n
        |FROM vocab),
        |sx AS (WITH RECURSIVE st(tok, pos, last, outc) AS (
        |SELECT tok, 1::BIGINT, CASE WHEN substr(u, 1, 1)
        |BETWEEN 'A' AND 'Z' THEN translate(substr(u, 1, 1),
        |'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |ELSE '0' END, '' FROM ch
        |UNION ALL
        |SELECT st.tok, st.pos + 1,
        |CASE WHEN substr(ch.u, (st.pos + 1)::INT, 1)
        |  NOT BETWEEN 'A' AND 'Z' THEN '0'
        |WHEN translate(substr(ch.u, (st.pos + 1)::INT, 1),
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |  = '7' THEN st.last
        |WHEN translate(substr(ch.u, (st.pos + 1)::INT, 1),
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |  = '0' THEN '0'
        |ELSE translate(substr(ch.u, (st.pos + 1)::INT, 1),
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |END,
        |CASE WHEN substr(ch.u, (st.pos + 1)::INT, 1)
        |  BETWEEN 'A' AND 'Z'
        |AND translate(substr(ch.u, (st.pos + 1)::INT, 1),
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |  NOT IN ('0', '7')
        |AND translate(substr(ch.u, (st.pos + 1)::INT, 1),
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |  <> st.last
        |THEN st.outc || translate(substr(ch.u, (st.pos + 1)::INT, 1),
        |  'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230127022455012623017202')
        |ELSE st.outc END
        |FROM st JOIN ch ON ch.tok = st.tok AND st.pos < ch.n)
        |SELECT st.tok, substr(ch.u, 1, 1)
        |  || substr(st.outc || '000', 1, 3) AS sxc
        |FROM st JOIN ch ON ch.tok = st.tok AND st.pos = ch.n),
        |tk AS (SELECT tk0.pk, tk0.name, tk0.block, sx.sxc AS tok
        |FROM tk0 JOIN sx ON sx.tok = tk0.tok),
        |cd AS (SELECT DISTINCT a.pk AS pk_a, b.pk AS pk_b,
        |a.name AS na, b.name AS nb FROM tk a JOIN tk b
        |ON a.block = b.block AND a.tok = b.tok AND a.pk < b.pk),
        |cagg AS (SELECT count(*)::BIGINT AS n_candidates,
        |coalesce(sum(CASE WHEN floor(jaro_winkler_similarity(na, nb)
        |  * 10000.0) / 10000.0 >= 0.9 THEN 1 ELSE 0 END), 0)::BIGINT
        |  AS n_matches_found
        |FROM cd),
        |tm AS (SELECT count(*)::BIGINT AS n_true_matches FROM
        |(SELECT a.pk FROM rec a JOIN rec b
        |ON a.block = b.block AND a.pk < b.pk
        |WHERE floor(jaro_winkler_similarity(a.name, b.name) * 10000.0)
        |  / 10000.0 >= 0.9))
        |SELECT n_exhaustive, n_candidates, n_true_matches, n_matches_found,
        |(n_exhaustive - n_candidates) * 1000000
        |  // greatest(n_exhaustive, 1) AS rr_ppm,
        |n_matches_found * 1000000 // greatest(n_true_matches, 1) AS pc_ppm
        |FROM ex, cagg, tm""".stripMargin),
    QueryDef("er4_golden_records", ((s, dir) =>
      // golden-record survivorship: per resolved entity, the canonical
      // name (most frequent member value, ties lexicographically
      // smallest) and min/max numeric ranges — the MDM publish step
      // after er1's transitive closure
      graft.operators.EntityResolution.goldenRecords(
        t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
            col("p_size")),
        "p_partkey", "p_name", "p_brand", "p_size", threshold = 0.9)),
      """WITH RECURSIVE pairs AS (
        |SELECT a.p_partkey AS da, b.p_partkey AS db
        |FROM part a JOIN part b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 >= 0.9),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |UNION SELECT db, da FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cc AS (SELECT a AS p_partkey, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a),
        |ent AS (SELECT p.p_partkey,
        |coalesce(cc.cluster_id, p.p_partkey) AS entity_id,
        |p.p_name, p.p_size
        |FROM part p LEFT JOIN cc USING (p_partkey)),
        |nc AS (SELECT entity_id, p_name, count(*) AS c
        |FROM ent GROUP BY 1, 2),
        |canon AS (SELECT entity_id, p_name AS canon_name FROM
        |(SELECT entity_id, p_name, row_number() OVER
        |  (PARTITION BY entity_id ORDER BY c DESC, p_name) AS rn FROM nc)
        |WHERE rn = 1)
        |SELECT e.entity_id, count(*)::BIGINT AS n_members,
        |max(canon.canon_name) AS canon_name,
        |min(e.p_size) AS min_size, max(e.p_size) AS max_size
        |FROM ent e JOIN canon ON canon.entity_id = e.entity_id
        |GROUP BY 1""".stripMargin),
    QueryDef("er12_threshold_sweep", ((s, dir) => {
      // threshold operating curve for the JW matcher: pair counts per
      // similarity percent bucket + reverse-cumulative "pairs at or
      // above" — the curve an MDM owner reads to PICK the threshold
      // instead of guessing it. One scored candidate pass (the er1/tx24
      // blocked join), then an 11-row histogram + window
      // projected to exactly er1's input columns so the PlanPersist'd
      // pair pass is SHARED with er1 (identical plan hash) instead of
      // re-verified per query
      val pairs = graft.operators.EntityResolution.tokenBlockedPairs(
        t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand")),
        "p_partkey", "p_name", "p_brand", 0.9)
      pairs
        .select(floor(col("jw") * 100.0).cast("long").as("threshold_pc"))
        .groupBy("threshold_pc").agg(count(lit(1)).as("n_pairs"))
        .withColumn("n_at_or_above", sum(col("n_pairs")).over(
          Window.orderBy(col("threshold_pc").desc)))
    }),
      """WITH p AS (SELECT
        |floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 AS jw
        |FROM part a JOIN part b
        |ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 10000.0)
        |  / 10000.0 >= 0.9),
        |h AS (SELECT CAST(floor(jw * 100.0) AS BIGINT) AS threshold_pc,
        |count(*)::BIGINT AS n_pairs FROM p GROUP BY 1)
        |SELECT threshold_pc, n_pairs,
        |(sum(n_pairs) OVER (ORDER BY threshold_pc DESC))::BIGINT
        |  AS n_at_or_above
        |FROM h""".stripMargin)
  )
}

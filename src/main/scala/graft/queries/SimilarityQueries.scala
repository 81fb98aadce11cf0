package graft
package queries

import graft.functions.NumericFunctions.fround
import graft.operators.Similarity

import org.apache.spark.sql.functions._

/** The `ss` family: vector similarity search over `embeddings` — brute
  * force, LSH, IVF/PQ, quantization and recall audits. */
private[queries] object SimilarityQueries {
  import QueryKit._

  val all: Seq[QueryDef] = Seq(
    QueryDef("ss3_ivf_topk", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 2)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corp AS (SELECT vec_id AS neighbor_id, v AS cv,
        |sqrt(list_inner_product(v, v)) AS cn FROM v WHERE vec_id >= 20),
        |cents AS (SELECT neighbor_id AS cent_id, cv AS centv,
        |list_inner_product(cv, cv) / 2 AS chs FROM corp ORDER BY neighbor_id LIMIT 8),
        |cassign AS (SELECT neighbor_id, cv, cn, cent_id AS cell FROM (
        |SELECT c.neighbor_id, c.cv, c.cn, ce.cent_id, row_number() OVER (
        |PARTITION BY c.neighbor_id
        |ORDER BY (list_inner_product(c.cv, ce.centv) - ce.chs) DESC, ce.cent_id) AS rk
        |FROM corp c CROSS JOIN cents ce) WHERE rk = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv,
        |sqrt(list_inner_product(v, v)) AS qn FROM v WHERE vec_id < 20),
        |qassign AS (SELECT query_id, qv, qn, cent_id AS cell FROM (
        |SELECT q.query_id, q.qv, q.qn, ce.cent_id, row_number() OVER (
        |PARTITION BY q.query_id
        |ORDER BY (list_inner_product(q.qv, ce.centv) - ce.chs) DESC, ce.cent_id) AS rk
        |FROM q CROSS JOIN cents ce) WHERE rk <= 2),
        |scored AS (SELECT query_id, neighbor_id,
        |list_inner_product(qv, cv) / (qn * cn) AS cosraw
        |FROM qassign JOIN cassign USING (cell) WHERE query_id <> neighbor_id),
        |ranked AS (SELECT query_id, neighbor_id, cosraw, row_number() OVER (
        |PARTITION BY query_id ORDER BY cosraw DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id, floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin),
    QueryDef("ss21_ivfpq_topk", ((s, dir) =>
      // IVF-PQ composed ANN (Jegou et al. 2011 IVFADC): coarse cells +
      // product-quantized RESIDUALS, per-probed-cell ADC lookup tables —
      // integer nano-unit distances end to end; centroids/codebook/LUTs
      // broadcast, one corpus assign+encode pass, one keyed ADC shuffle
      graft.operators.Similarity.ivfPqTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        queryMaxId = 3, nCells = 8, nProbe = 2, nSub = 8, subDim = 8,
        nCodes = 16, k = 10)),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corp AS (SELECT vec_id, v FROM v WHERE vec_id >= 3),
        |cents AS (SELECT vec_id AS cent_id, v AS centv,
        |list_inner_product(v, v) / 2 AS chs FROM corp
        |ORDER BY vec_id LIMIT 8),
        |cass AS (SELECT vec_id, v, cent_id, centv FROM (
        |SELECT c.vec_id, c.v, ce.cent_id, ce.centv, row_number() OVER (
        |PARTITION BY c.vec_id
        |ORDER BY (list_inner_product(c.v, ce.centv) - ce.chs) DESC,
        |ce.cent_id) AS rk
        |FROM corp c CROSS JOIN cents ce) WHERE rk = 1),
        |cbids AS (SELECT vec_id FROM corp ORDER BY vec_id LIMIT 24),
        |cb AS (SELECT a.vec_id AS code, a.v AS cbv, a.centv AS cbcentv
        |FROM cass a JOIN cbids USING (vec_id)
        |WHERE a.vec_id NOT IN (SELECT cent_id FROM cents)),
        |ed0 AS (SELECT a.vec_id, a.cent_id AS cell, rs.s, c.code,
        |((a.v[(rs.s * 8 + rj.j)::INT] - a.centv[(rs.s * 8 + rj.j)::INT])
        | - (c.cbv[(rs.s * 8 + rj.j)::INT]
        |    - c.cbcentv[(rs.s * 8 + rj.j)::INT])) AS df
        |FROM cass a, range(0, 8) rs(s), range(1, 9) rj(j), cb c),
        |ed AS (SELECT vec_id, cell, s, code,
        |sum(floor(df * df * 1000000000.0)::BIGINT)::BIGINT AS d_u
        |FROM ed0 GROUP BY 1, 2, 3, 4),
        |enc AS (SELECT vec_id, cell, s, code FROM ed
        |QUALIFY row_number() OVER (PARTITION BY vec_id, s
        |ORDER BY d_u, code) = 1),
        |q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id < 3),
        |qass AS (SELECT query_id, v, cent_id AS cell, centv FROM (
        |SELECT q.query_id, q.v, ce.cent_id, ce.centv, row_number() OVER (
        |PARTITION BY q.query_id
        |ORDER BY (list_inner_product(q.v, ce.centv) - ce.chs) DESC,
        |ce.cent_id) AS rk
        |FROM q CROSS JOIN cents ce) WHERE rk <= 2),
        |ql0 AS (SELECT a.query_id, a.cell, rs.s, c.code,
        |((a.v[(rs.s * 8 + rj.j)::INT] - a.centv[(rs.s * 8 + rj.j)::INT])
        | - (c.cbv[(rs.s * 8 + rj.j)::INT]
        |    - c.cbcentv[(rs.s * 8 + rj.j)::INT])) AS df
        |FROM qass a, range(0, 8) rs(s), range(1, 9) rj(j), cb c),
        |ql AS (SELECT query_id, cell, s, code,
        |sum(floor(df * df * 1000000000.0)::BIGINT)::BIGINT AS d_u
        |FROM ql0 GROUP BY 1, 2, 3, 4),
        |adc AS (SELECT ql.query_id, e.vec_id, sum(ql.d_u)::BIGINT AS adc_u
        |FROM enc e JOIN ql ON ql.cell = e.cell AND ql.s = e.s
        |AND ql.code = e.code GROUP BY 1, 2)
        |SELECT query_id, rank, vec_id AS neighbor_id, adc_u FROM (
        |SELECT query_id, vec_id, adc_u, row_number() OVER (
        |PARTITION BY query_id ORDER BY adc_u, vec_id)::INT AS rank
        |FROM adc) WHERE rank <= 10""".stripMargin),
    QueryDef("ss20_embed_dim_audit", ((s, dir) =>
      // per-dimension embedding health audit: exact integer micro-unit
      // stats per dim (one map-side-combined hash agg over the
      // posexplode fan-out — the exchange carries |parts| x |dims| rows
      // only); collapsed = whole-corpus range < 1e-3, the dead-encoder
      // signal that wastes ANN index bits
      graft.operators.Similarity.dimAudit(
        t(s, dir, "embeddings"), "embedding")),
      """WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT i AS dim,
        |floor(v[(i + 1)::INT] * 1000000.0)::BIGINT AS x_mu
        |FROM (SELECT v, unnest(range(0, len(v))) AS i FROM v))
        |SELECT dim, count(*)::BIGINT AS n, sum(x_mu)::BIGINT AS sum_mu,
        |min(x_mu) AS min_mu, max(x_mu) AS max_mu,
        |count(DISTINCT x_mu)::BIGINT AS n_distinct_mu,
        |(max(x_mu) - min(x_mu)) < 1000 AS collapsed
        |FROM e GROUP BY 1""".stripMargin),
    QueryDef("ss18_ivf_delete", ((s, dir) => {
      // IVF tombstone-delete maintenance (the delete path beside ss15's
      // append path): deletions are side-table tombstones, never index
      // rewrites; the per-cell live/deleted report flags cells whose
      // tombstones exceed 1/6 of the live set for compaction
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") >= 100)
      val dels = corpus.filter(col("vec_id") % 7 === 0).select("vec_id")
      Similarity.ivfDeleteReport(corpus, dels, "vec_id", "embedding",
        nCentroids = 8)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corp AS (SELECT vec_id, v FROM v WHERE vec_id >= 100),
        |cents AS (SELECT vec_id AS cent_id, v AS centv,
        |list_inner_product(v, v) / 2 AS chs FROM corp ORDER BY vec_id LIMIT 8),
        |a AS (SELECT vec_id, cent_id AS cell FROM (
        |SELECT c.vec_id, ce.cent_id, row_number() OVER (PARTITION BY c.vec_id
        |ORDER BY (list_inner_product(c.v, ce.centv) - ce.chs) DESC, ce.cent_id)
        |  AS rk FROM corp c CROSS JOIN cents ce) WHERE rk = 1)
        |SELECT cell,
        |count(CASE WHEN vec_id % 7 <> 0 THEN 1 END)::BIGINT AS n_live,
        |count(CASE WHEN vec_id % 7 = 0 THEN 1 END)::BIGINT AS n_deleted,
        |(count(CASE WHEN vec_id % 7 = 0 THEN 1 END) * 5
        |  > count(CASE WHEN vec_id % 7 <> 0 THEN 1 END)) AS needs_compact
        |FROM a GROUP BY 1""".stripMargin),
    QueryDef("ss23_embedding_drift", ((s, dir) => {
      // embedding-space drift between corpus halves (the retrain/reindex
      // trigger): per-dimension floored micro-unit mean delta from two
      // ss20 dim audits — cohort stats are |dims|-sized after one
      // map-side-combined agg per half; no vector ever crosses the wire
      val e = t(s, dir, "embeddings")
      def half(rem: Int) = graft.operators.Similarity
        .dimAudit(e.filter(col("vec_id") % 2 === rem), "embedding")
        .select(col("dim"), col("n"), expr("sum_mu div n").as("mean_mu"))
      half(0)
        .select(col("dim"), col("n").as("n_a"),
          col("mean_mu").as("mean_a_mu"))
        .join(half(1).select(col("dim"), col("n").as("n_b"),
          col("mean_mu").as("mean_b_mu")), "dim")
        .withColumn("delta_mu", col("mean_a_mu") - col("mean_b_mu"))
        .withColumn("drifted", abs(col("delta_mu")) >= 1000L)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |FROM embeddings),
        |e AS (SELECT vec_id % 2 AS half, i AS dim,
        |floor(v[(i + 1)::INT] * 1000000.0)::BIGINT AS x_mu
        |FROM (SELECT vec_id, v, unnest(range(0, len(v))) AS i FROM v)),
        |g AS (SELECT half, dim, count(*)::BIGINT AS n,
        |(sum(x_mu) // count(*))::BIGINT AS mean_mu FROM e GROUP BY 1, 2)
        |SELECT a.dim, a.n AS n_a, a.mean_mu AS mean_a_mu,
        |b.n AS n_b, b.mean_mu AS mean_b_mu,
        |(a.mean_mu - b.mean_mu)::BIGINT AS delta_mu,
        |abs(a.mean_mu - b.mean_mu) >= 1000 AS drifted
        |FROM g a JOIN g b ON a.dim = b.dim AND a.half = 0 AND b.half = 1""".stripMargin),
    QueryDef("ss1_brute_topk", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", k = 5)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |list_cosine_similarity(q.v, c.v) AS cosraw
        |FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id >= 20),
        |ranked AS (SELECT query_id, neighbor_id, cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY cosraw DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id, floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin),
    QueryDef("ss22_matryoshka_rerank", ((s, dir) => {
      // Matryoshka two-stage search: 16-dim prefix scan shortlists 20
      // per query (4x less vector data per candidate), full 64-dim
      // cosine reranks only the shortlist — shortlist >= corpus is
      // provably brute-force (spec-gated)
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaRerank(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", k = 5, prefixDim = 16, shortlist = 20)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pre AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |q.v AS qv, c.v AS cv,
        |list_cosine_similarity(q.v[1:16], c.v[1:16]) AS cos_pre
        |FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id >= 20),
        |sl AS (SELECT query_id, neighbor_id, qv, cv FROM (
        |SELECT *, row_number() OVER (PARTITION BY query_id
        |ORDER BY cos_pre DESC, neighbor_id) AS pr FROM pre)
        |WHERE pr <= 20),
        |rr AS (SELECT query_id, neighbor_id,
        |list_cosine_similarity(qv, cv) AS cosraw FROM sl),
        |ranked AS (SELECT query_id, neighbor_id, cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY cosraw DESC, neighbor_id) AS rank FROM rr)
        |SELECT query_id, rank, neighbor_id,
        |floor(cosraw * 1000.0)::BIGINT AS cos_milli
        |FROM ranked WHERE rank <= 5""".stripMargin),
    QueryDef("ss17_radius_search", ((s, dir) => {
      // range search: EVERY corpus vector within cosine >= 0.35 of a query
      // — the completeness contract top-k can't express (duplicate-sweep
      // jobs). Broadcast query batch, one corpus scan, zero shuffle: each
      // emitted row is final, no merge window at all
      val emb = t(s, dir, "embeddings")
      Similarity.radiusSearch(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", minCos = 0.35)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |floor(list_cosine_similarity(q.v, c.v) * 1000.0) / 1000.0 AS cos
        |FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id >= 20
        |WHERE list_cosine_similarity(q.v, c.v) >= 0.35""".stripMargin),
    QueryDef("ss4_quantize_int8", ((s, dir) => {
      // int8 embedding quantization (4x storage vs float32): per-vector
      // symmetric scale, floor-based half-up rounding (engine-portable),
      // and the quality gate — cosine between the original and the
      // dequantized vector, which must survive within ~1e-3
      import graft.functions.VectorFunctions._
      val v = t(s, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("sc", quantScale(col("v")))
      v.withColumn("dv", dequantizeInt8(quantizeInt8(col("v"), col("sc")), col("sc")))
        .select(col("vec_id"),
          fround(col("sc") * 1000000.0, 0).as("scale_ppm"),
          fround(dot(col("v"), col("dv")) /
            (norm2(col("v")) * norm2(col("dv"))), 4).as("cos_kept"))
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS sc FROM v),
        |d AS (SELECT vec_id, v, sc,
        |CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
        |ELSE list_transform(list_transform(v, x -> floor(x / sc + 0.5)), q -> q * sc)
        |END AS dv
        |FROM s)
        |SELECT vec_id, floor(sc * 1000000.0) AS scale_ppm,
        |floor(list_cosine_similarity(v, dv) * 10000.0) / 10000.0 AS cos_kept
        |FROM d""".stripMargin),
    QueryDef("ss2_lsh_topk", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", k = 3, planes = 4)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |list_cosine_similarity(qv.v, cv.v) AS cosraw
        |FROM buck q JOIN buck c ON q.bucket = c.bucket
        |AND q.vec_id < 20 AND c.vec_id >= 20
        |JOIN v qv ON qv.vec_id = q.vec_id JOIN v cv ON cv.vec_id = c.vec_id),
        |ranked AS (SELECT query_id, neighbor_id, cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY cosraw DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id, floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin),
    QueryDef("ss12_knn_graph", ((s, dir) => {
      // full self-kNN graph: every vector's top-3 neighbors among its SRP
      // bucket-mates — the materialized neighborhood graph that seeds
      // semantic dedup (dd12-style) and graph analytics (g1/g2) over an
      // embedding corpus. Same bucket equi-join as ss2 with
      // queries = corpus; self-pairs are excluded inside the operator and
      // there is no all-pairs join anywhere
      knnGraph(s, dir)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |list_cosine_similarity(qv.v, cv.v) AS cosraw
        |FROM buck q JOIN buck c ON q.bucket = c.bucket
        |AND q.vec_id <> c.vec_id
        |JOIN v qv ON qv.vec_id = q.vec_id JOIN v cv ON cv.vec_id = c.vec_id),
        |ranked AS (SELECT query_id, neighbor_id, cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY cosraw DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id, floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin),
    QueryDef("ss13_mmr_topk", ((s, dir) => {
      // MMR diversified top-5: greedy relevance-minus-redundancy re-rank
      // (λ = 1/2) against query vector 0 — k pool scans, bounded driver
      // state (the k picked vectors), no all-pairs anything. The oracle
      // unrolls the same greedy rounds as chained CTEs
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      graft.operators.Similarity.mmrTopK(
        emb.filter(col("vec_id") >= 20), "vec_id", "embedding", q, k = 5)
    }), {
      // greedy rounds unrolled: p_r = surviving pool with the running
      // max-similarity to every previous pick; s_r = that round's arg-max
      // of rel - 0.5 * maxsim (ties by id) — exactly mmrTopK's recurrence
      val rounds = (3 to 5).map { r =>
        s"""p$r AS (SELECT p${r - 1}.vec_id, p${r - 1}.v, p${r - 1}.rel,
           |greatest(p${r - 1}.ms,
           |list_cosine_similarity(p${r - 1}.v, s${r - 1}.v)) AS ms
           |FROM p${r - 1}, s${r - 1} WHERE p${r - 1}.vec_id <> s${r - 1}.vec_id),
           |s$r AS (SELECT vec_id, v, rel, rel - 0.5 * ms AS mmr FROM p$r
           |ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 5).map(r =>
        s"""SELECT $r::BIGINT AS rank, vec_id AS cand_id,
           |floor(mmr * 10000.0) / 10000.0 AS mmr FROM s$r""".stripMargin)
        .mkString("\nUNION ALL ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v FROM v WHERE vec_id = 0),
         |c AS (SELECT vec_id, v.v AS v,
         |list_cosine_similarity(v.v, q.v) AS rel FROM v, q
         |WHERE vec_id >= 20),
         |s1 AS (SELECT vec_id, v, rel, rel AS mmr FROM c
         |ORDER BY rel DESC, vec_id LIMIT 1),
         |p2 AS (SELECT c.vec_id, c.v, c.rel,
         |list_cosine_similarity(c.v, s1.v) AS ms FROM c, s1
         |WHERE c.vec_id <> s1.vec_id),
         |s2 AS (SELECT vec_id, v, rel, rel - 0.5 * ms AS mmr FROM p2
         |ORDER BY mmr DESC, vec_id LIMIT 1),
         |$rounds
         |$out""".stripMargin
    }),
    QueryDef("ss14_hard_negatives", ((s, dir) => {
      // hard-negative mining for contrastive training (Robinson et al.
      // 2021): per query vector, the top-3 most-similar vectors with a
      // DIFFERENT label — same-label hits are positives, and the
      // highest-similarity cross-label items are the negatives the
      // objective learns most from. Bounded query batch broadcast, corpus
      // streamed once through per-partition heaps (the ss1 discipline)
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegativeTopK(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", "label", k = 3)
    }),
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |FROM embeddings),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |list_cosine_similarity(q.v, c.v) AS cosraw
        |FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id >= 20
        |AND q.label <> c.label),
        |ranked AS (SELECT query_id, neighbor_id, cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY cosraw DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id,
        |floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin),
    QueryDef("ss15_ivf_append", ((s, dir) => {
      // incremental ANN index maintenance: the new batch (vec_id < 100)
      // is assigned to the EXISTING 8 coarse cells of the indexed corpus
      // — one broadcast-centroid pass over the batch only — and the
      // per-cell report carries the retrain signal (hot = cell > 2x mean)
      val emb = t(s, dir, "embeddings")
      val indexed = emb.filter(col("vec_id") >= 100)
      val cents = indexed.orderBy("vec_id").limit(8)
        .select(col("vec_id").cast("long").as("cent_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("centv"))
      Similarity.ivfAppendReport(indexed, emb.filter(col("vec_id") < 100),
        "embedding", cents)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |corp AS (SELECT vec_id, v FROM v WHERE vec_id >= 100),
        |cents AS (SELECT vec_id AS cent_id, v AS centv,
        |list_inner_product(v, v) / 2 AS chs FROM corp ORDER BY vec_id LIMIT 8),
        |ia AS (SELECT cent_id AS cell FROM (
        |SELECT c.vec_id, ce.cent_id, row_number() OVER (PARTITION BY c.vec_id
        |ORDER BY (list_inner_product(c.v, ce.centv) - ce.chs) DESC, ce.cent_id)
        |  AS rk FROM corp c CROSS JOIN cents ce) WHERE rk = 1),
        |icnt AS (SELECT cell, count(*)::BIGINT AS n_indexed FROM ia GROUP BY 1),
        |bat AS (SELECT vec_id, v FROM v WHERE vec_id < 100),
        |ba AS (SELECT cent_id AS cell FROM (
        |SELECT b.vec_id, ce.cent_id, row_number() OVER (PARTITION BY b.vec_id
        |ORDER BY (list_inner_product(b.v, ce.centv) - ce.chs) DESC, ce.cent_id)
        |  AS rk FROM bat b CROSS JOIN cents ce) WHERE rk = 1),
        |bcnt AS (SELECT cell, count(*)::BIGINT AS n_added FROM ba GROUP BY 1),
        |cl AS (SELECT ce.cent_id AS cell,
        |coalesce(icnt.n_indexed, 0)::BIGINT AS n_indexed,
        |coalesce(bcnt.n_added, 0)::BIGINT AS n_added,
        |(coalesce(icnt.n_indexed, 0) + coalesce(bcnt.n_added, 0))::BIGINT
        |  AS n_total
        |FROM cents ce LEFT JOIN icnt ON icnt.cell = ce.cent_id
        |LEFT JOIN bcnt ON bcnt.cell = ce.cent_id),
        |t AS (SELECT sum(n_total)::BIGINT AS sum_total,
        |count(*)::BIGINT AS n_cells FROM cl)
        |SELECT cell, n_indexed, n_added, n_total,
        |n_total * n_cells > sum_total * 2 AS hot FROM cl, t""".stripMargin),
    QueryDef("ss16_hybrid_rrf", ((s, dir) => {
      // hybrid retrieval: the lexical leg (BM25 over the bag-of-terms
      // query) and the vector leg (cosine against query vector 0) each
      // rank their top-50 independently, then reciprocal-rank fusion
      // combines them — no score calibration across legs, integer
      // micro-unit contributions, ties by doc id. doc_id and vec_id share
      // the id space (TESTDATA.md), so the legs rank the same corpus.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.operators.Retrieval.bm25TopK(
        docs, "doc_id", "text", terms = Seq("spark", "join", "vector"),
        k = 50)
      val vec = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb.filter(col("vec_id") >= 1),
          "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(
        Seq("lex" -> lex.select("doc_id", "rank"), "vec" -> vec),
        "doc_id", "rank", c = 60, k = 10)
    }),
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
         |lexr AS (SELECT doc_id, rank FROM (SELECT doc_id,
         |row_number() OVER (ORDER BY bm25_u DESC, doc_id) AS rank FROM agg)
         |WHERE rank <= 50),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |vs AS (SELECT c.vec_id AS doc_id,
         |list_cosine_similarity(q.v, c.v) AS cosraw
         |FROM v q JOIN v c ON q.vec_id = 0 AND c.vec_id >= 1),
         |vecr AS (SELECT doc_id, rank FROM (SELECT doc_id,
         |row_number() OVER (ORDER BY cosraw DESC, doc_id) AS rank FROM vs)
         |WHERE rank <= 50),
         |u AS (SELECT doc_id, rank, 'lex' AS leg FROM lexr
         |UNION ALL SELECT doc_id, rank, 'vec' AS leg FROM vecr),
         |f AS (SELECT doc_id, sum(1000000000 // (60 + rank))::BIGINT AS rrf_u,
         |max(CASE WHEN leg = 'lex' THEN rank END)::BIGINT AS lex_rank,
         |max(CASE WHEN leg = 'vec' THEN rank END)::BIGINT AS vec_rank
         |FROM u GROUP BY 1)
         |SELECT rank, doc_id, rrf_u, lex_rank, vec_rank FROM
         |(SELECT row_number() OVER (ORDER BY rrf_u DESC, doc_id) AS rank,
         |doc_id, rrf_u, lex_rank, vec_rank FROM f)
         |WHERE rank <= 10""".stripMargin),
    QueryDef("ss5_quantized_rerank", ((s, dir) => {
      // two-stage retrieval: int8-dequantized approximate scoring over the
      // SRP-bucket candidates, exact full-precision re-rank of the top-10
      // shortlist — the memory-bandwidth-saving production shape
      val emb = t(s, dir, "embeddings")
      Similarity.quantizedRerankTopK(
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") >= 20),
        "vec_id", "embedding", k = 3, planes = 4, shortlist = 10)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |dq AS (SELECT vec_id, v,
        |CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
        |ELSE list_transform(list_transform(v, x -> floor(x / sc + 0.5)), q -> q * sc)
        |END AS dv FROM (SELECT vec_id, v,
        |list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS sc
        |FROM v WHERE vec_id >= 20)),
        |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |qv.v AS qvv, dq.v AS cvv, dq.dv AS dvv
        |FROM buck q JOIN buck c ON q.bucket = c.bucket
        |AND q.vec_id < 20 AND c.vec_id >= 20
        |JOIN v qv ON qv.vec_id = q.vec_id
        |JOIN dq ON dq.vec_id = c.vec_id),
        |s1 AS (SELECT query_id, neighbor_id, qvv, cvv,
        |CASE WHEN list_inner_product(dvv, dvv) = 0 THEN 0.0
        |ELSE list_inner_product(qvv, dvv) /
        |(sqrt(list_inner_product(qvv, qvv)) * sqrt(list_inner_product(dvv, dvv)))
        |END AS acos FROM cand),
        |shortl AS (SELECT query_id, neighbor_id, qvv, cvv FROM (
        |SELECT *, row_number() OVER (PARTITION BY query_id
        |ORDER BY acos DESC, neighbor_id) AS r1 FROM s1) WHERE r1 <= 10),
        |ranked AS (SELECT query_id, neighbor_id,
        |list_cosine_similarity(qvv, cvv) AS cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY list_cosine_similarity(qvv, cvv) DESC, neighbor_id) AS rank
        |FROM shortl)
        |SELECT query_id, rank, neighbor_id,
        |floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin),
    QueryDef("ss6_label_centroids", ((s, dir) =>
      // class centroids (prototype vectors) per label: one posexplode +
      // one (label, dim) aggregation; DECIMAL sums are order-independent
      // exact addition, so centroids are identical on any partitioning
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(
          graft.functions.VectorFunctions.toDouble(col("embedding")))
          .as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n_vecs"),
          fround(sum(col("x").cast("decimal(28,12)")).cast("double") /
            count(lit(1)), 6).as("mean_x"))),
      """WITH v AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT label, i AS dim, v[(i + 1)::INT] AS x
        |FROM (SELECT label, v, unnest(range(0, len(v))) AS i FROM v))
        |SELECT label, dim, count(*) AS n_vecs,
        |floor((sum(x::DECIMAL(28,12))::DOUBLE / count(*)) * 1000000.0)
        |  / 1000000.0 AS mean_x
        |FROM e GROUP BY 1, 2""".stripMargin),
    QueryDef("ss8_centroid_outliers", ((s, dir) => {
      // embedding-space label QC: distance from each vector to its class
      // centroid; far vectors are mislabel/noise candidates. DECIMAL sums
      // for both the centroid means and the distance accumulation keep
      // every value partitioning-independent, so the outlier flag is exact
      val e = graft.operators.PlanPersist("entry.ss.dimExploded",
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), posexplode(
            graft.functions.VectorFunctions.toDouble(col("embedding")))
            .as(Seq("dim", "x"))))
      val m = e.groupBy("label", "dim")
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1))).as("m"))
      e.join(m, Seq("label", "dim"))
        .groupBy("vec_id", "label")
        .agg(sqrt(sum(((col("x") - col("m")) * (col("x") - col("m")))
          .cast("decimal(28,12)")).cast("double")).as("d0"))
        .select(col("vec_id"), col("label"),
          fround(col("d0"), 3).as("dist"),
          (col("d0") > 1.01).as("is_outlier"))
    }),
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, label, i AS dim, v[(i + 1)::INT] AS x
        |FROM (SELECT vec_id, label, v, unnest(range(0, len(v))) AS i FROM v)),
        |m AS (SELECT label, dim,
        |sum(x::DECIMAL(28,12))::DOUBLE / count(*) AS m FROM e GROUP BY 1, 2),
        |d AS (SELECT vec_id, e.label,
        |sqrt(sum(((x - m) * (x - m))::DECIMAL(28,12))::DOUBLE) AS d0
        |FROM e JOIN m ON m.label = e.label AND m.dim = e.dim GROUP BY 1, 2)
        |SELECT vec_id, label, floor(d0 * 1000.0) / 1000.0 AS dist,
        |d0 > 1.01 AS is_outlier FROM d""".stripMargin),
    QueryDef("ss7_jl_project", ((s, dir) =>
      // Johnson-Lindenstrauss sign-matrix projection 64 -> 8 dims: the
      // trained-state-free dimensionality reducer (deterministic md5
      // hyperplanes, shared with the SRP bucket machinery)
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(
          graft.functions.VectorFunctions.jlProject(
            graft.functions.VectorFunctions.toDouble(col("embedding")), 8))
          .as(Seq("p", "proj")))
        .select(col("vec_id"), col("p"), fround(col("proj"), 4).as("proj"))),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 8) rp(p), range(1, 65) rd(d) GROUP BY 1, 2)
        |SELECT vec_id, p,
        |floor(pr / sqrt(8.0) * 10000.0) / 10000.0 AS proj
        |FROM proj""".stripMargin),
    QueryDef("ss11_filtered_ann", ((s, dir) => {
      // filtered ANN: the metadata predicate narrows the corpus BEFORE
      // bucketing (pre-filter, not post-filter: the k survivors are
      // guaranteed eligible, and bucket joins only touch eligible rows)
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 20),
        emb.filter(col("vec_id") >= 20 && col("label") === 1),
        "vec_id", "embedding", k = 3, planes = 4)
    }),
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |FROM embeddings),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |list_cosine_similarity(qv.v, cv.v) AS cosraw
        |FROM buck q JOIN buck c ON q.bucket = c.bucket
        |AND q.vec_id < 20 AND c.vec_id >= 20
        |JOIN v qv ON qv.vec_id = q.vec_id
        |JOIN v cv ON cv.vec_id = c.vec_id
        |WHERE cv.label = 1),
        |ranked AS (SELECT query_id, neighbor_id, cosraw,
        |row_number() OVER (PARTITION BY query_id
        |ORDER BY cosraw DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, rank, neighbor_id,
        |floor(cosraw * 1000.0) / 1000.0 AS cos
        |FROM ranked WHERE rank <= 3""".stripMargin),
    QueryDef("ss19_probe_sweep", ((s, dir) => {
      // multi-probe LSH calibration (the vector-side twin of dd20's LSH
      // parameter sweep): mean recall@3 vs the exact baseline for probe
      // counts 1..3 — the curve that picks the probe budget before
      // deploying an index. The oracle reproduces the identical
      // lowest-margin bit flips, so the recall numbers are bit-exact.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20)
      val exact = graft.operators.PlanPersist("entry.ss10.exact",
        Similarity
          .bruteForceTopK(q, c, "vec_id", "embedding", k = 3)
          .select(col("query_id"), col("neighbor_id")))
      Seq(1, 2, 3).map { m =>
        val ap = Similarity.lshTopK(q, c, "vec_id", "embedding",
            k = 3, planes = 4, probes = m)
          .select(col("query_id").as("a_qid"),
            col("neighbor_id").as("a_nid"))
        exact.join(ap,
            exact("query_id") === ap("a_qid") &&
              exact("neighbor_id") === ap("a_nid"), "left")
          .agg(countDistinct(col("query_id")).as("n_queries"),
            fround(sum(when(col("a_nid").isNotNull, 1).otherwise(0))
              .cast("double") / count(lit(1)), 4).as("mean_recall"))
          .select(lit(m).as("probes"), col("n_queries"),
            col("mean_recall"))
      }.reduce(_ unionByName _)
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY q.vec_id
        |ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
        |FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id >= 20)
        |WHERE rank <= 3),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |flips AS (SELECT b.vec_id,
        |xor(b.bucket, (1::BIGINT << pr.p::INT)) AS fb,
        |row_number() OVER (PARTITION BY b.vec_id
        |ORDER BY abs(pr.pr), pr.p) AS mr
        |FROM buck b JOIN proj pr ON pr.vec_id = b.vec_id),
        |pv AS (SELECT unnest(range(1, 4)) AS m),
        |qb AS (SELECT pv.m, b.vec_id, b.bucket AS pb FROM buck b, pv
        |WHERE b.vec_id < 20
        |UNION ALL SELECT pv.m, f.vec_id, f.fb FROM flips f, pv
        |WHERE f.vec_id < 20 AND f.mr <= pv.m - 1),
        |ap AS (SELECT m, query_id, neighbor_id FROM (
        |SELECT qb.m, qb.vec_id AS query_id, c.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY qb.m, qb.vec_id
        |ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c.vec_id) AS rank
        |FROM qb JOIN buck c ON c.bucket = qb.pb AND c.vec_id >= 20
        |JOIN v qv ON qv.vec_id = qb.vec_id
        |JOIN v cv ON cv.vec_id = c.vec_id)
        |WHERE rank <= 3)
        |SELECT pv.m AS probes,
        |count(DISTINCT ex.query_id)::BIGINT AS n_queries,
        |floor(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0
        |END)::DOUBLE / count(*) * 10000.0) / 10000.0 AS mean_recall
        |FROM pv CROSS JOIN ex LEFT JOIN ap ON ap.m = pv.m
        |AND ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
        |GROUP BY 1""".stripMargin),
    QueryDef("ss10_ann_recall", ((s, dir) => {
      // offline ANN index evaluation: recall@k of the LSH path against the
      // exact baseline, per query — the measurement loop a production
      // index ships with (run on a sampled query set at scale)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20)
      val exact = Similarity.bruteForceTopK(q, c, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(q, c, "vec_id", "embedding",
          k = 3, planes = 4)
        .select(col("query_id").as("a_qid"), col("neighbor_id").as("a_nid"))
      exact.join(approx,
          exact("query_id") === approx("a_qid") &&
            exact("neighbor_id") === approx("a_nid"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k_exact"),
          sum(when(col("a_qid").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(col("query_id"), col("k_exact"), col("n_hit"),
          fround(col("n_hit").cast("double") / col("k_exact"), 4).as("recall"))
    }),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY q.vec_id
        |ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rank
        |FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id >= 20)
        |WHERE rank <= 3),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |ap AS (SELECT query_id, neighbor_id FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY q.vec_id
        |ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, c.vec_id) AS rank
        |FROM buck q JOIN buck c ON q.bucket = c.bucket
        |AND q.vec_id < 20 AND c.vec_id >= 20
        |JOIN v qv ON qv.vec_id = q.vec_id JOIN v cv ON cv.vec_id = c.vec_id)
        |WHERE rank <= 3)
        |SELECT ex.query_id, count(*)::BIGINT AS k_exact,
        |sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |  AS n_hit,
        |floor(sum(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |  / count(*) * 10000.0) / 10000.0 AS recall
        |FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id
        |AND ap.neighbor_id = ex.neighbor_id
        |GROUP BY 1""".stripMargin),
    QueryDef("ss9_pq_adc", ((s, dir) =>
      // product-quantization ADC: vectors stored as 8 integer codes, query
      // scoring via broadcast lookup tables — integer-exact end to end
      Similarity.pqAdcTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        nSub = 8, subDim = 8, nCodes = 16, queryMaxId = 3, k = 10)),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM v WHERE vec_id < 16),
        |d0 AS (SELECT a.vec_id, rs.s, c.code,
        |(a.v[(rs.s * 8 + rj.j)::INT] - c.cv[(rs.s * 8 + rj.j)::INT]) AS df
        |FROM v a, range(0, 8) rs(s), range(1, 9) rj(j), cb c),
        |d AS (SELECT vec_id, s, code,
        |sum(floor(df * df * 1000000000.0)::BIGINT)::BIGINT AS d_u
        |FROM d0 GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, s, code FROM d
        |QUALIFY row_number() OVER (PARTITION BY vec_id, s
        |ORDER BY d_u, code) = 1),
        |qd AS (SELECT vec_id AS query_id, s, code, d_u FROM d
        |WHERE vec_id < 3),
        |adc AS (SELECT q.query_id, e.vec_id, sum(q.d_u)::BIGINT AS adc_u
        |FROM enc e JOIN qd q ON q.s = e.s AND q.code = e.code
        |GROUP BY 1, 2)
        |SELECT query_id, vec_id, adc_u, rank FROM (
        |SELECT query_id, vec_id, adc_u,
        |row_number() OVER (PARTITION BY query_id ORDER BY adc_u, vec_id)::INT
        |  AS rank FROM adc) WHERE rank <= 10""".stripMargin)
  )
}

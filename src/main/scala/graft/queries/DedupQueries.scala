package graft
package queries

import graft.functions.TextFunctions
import graft.functions.NumericFunctions.fround
import graft.operators.Dedup

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `dd` family: exact, fuzzy and MinHash/LSH deduplication over
  * `documents` (the LLM-pipeline dedup operators). */
private[queries] object DedupQueries {
  import QueryKit._

  val all: Seq[QueryDef] = Seq(
    QueryDef("dd1_exact_dedup", ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY md5(text)""".stripMargin),
    QueryDef("dd2_ngram_jaccard", ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5""".stripMargin),
    QueryDef("dd2b_ngram_jaccard_capped", ((s, dir) =>
      // scale configuration: shingles with document frequency > 20 are
      // dropped before the self-join (a hot stop-shingle shared by k docs
      // is k^2/2 join rows); Jaccard is exact over the remaining
      // informative-shingle space and the oracle mirrors the cap
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 20L)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh0 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 20),
         |sh AS (SELECT doc_id, sh0.sh FROM sh0 JOIN keep ON keep.sh = sh0.sh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5""".stripMargin),
    QueryDef("dd3_minhash_lsh", ((s, dir) =>
      lshCandidatePairs(s, dir)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin),
    QueryDef("dd9_lsh_verified_dedup", ((s, dir) =>
      // the composed production pipeline: LSH candidates -> exact Jaccard
      // verification gated by the candidate list (the exact self-join from
      // dd2 never runs); recall = LSH band recall, precision exact
      Dedup.lshVerifiedJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 2, numHashes = 16, rowsPerBand = 4, threshold = 0.5)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM cand
         |JOIN sh a ON a.doc_id = cand.doc_a
         |JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5""".stripMargin),
    QueryDef("dd6_dedup_clusters", ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5).select("doc_a", "doc_b"))),
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin),
    QueryDef("dd7_cluster_survivors", ((s, dir) => {
      // full dedup pipeline tail: near-dup clusters -> keep the
      // highest-quality member per cluster (ties: lowest doc id)
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
          .select("doc_a", "doc_b"))
      val scored = clusters.join(docs, "doc_id")
        .withColumn("q", fround(TextFunctions.qualityScore(col("text")), 4))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("q").desc, col("doc_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("survivor_id"), col("q"))
    }),
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a),
         |quality AS (SELECT doc_id, text, len($duckToks) AS n_tokens,
         |len(list_filter($duckToks, x -> x IN ('the','a','of','and','to','in')))::DOUBLE
         |  / greatest(len($duckToks), 1) AS stop_ratio,
         |(strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
         |  / greatest(strlen(text), 1) AS punct FROM documents),
         |scored AS (SELECT cc.doc_id, cc.cluster_id,
         |floor(least(greatest(
         |least(n_tokens / 100.0, 1.0) * 0.5 + least(stop_ratio * 5.0, 1.0) * 0.3
         |+ (1.0 - punct) * 0.2, 0.0), 1.0) * 10000.0) / 10000.0 AS q
         |FROM cc JOIN quality ON quality.doc_id = cc.doc_id),
         |ranked AS (SELECT cluster_id, doc_id, q, row_number() OVER (
         |PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn FROM scored)
         |SELECT cluster_id, doc_id AS survivor_id, q FROM ranked WHERE rn = 1""".stripMargin),
    QueryDef("dd25_distributed_cc", ((s, dir) =>
      // the 100 TB cluster-resolution path itself under the oracle: the
      // same candidate graph as dd6 but with the driver union-find
      // DISABLED (driverThreshold = 0), so labels come from the
      // alternating large-star/small-star distributed contraction. The
      // oracle is dd6's — both paths must produce the min-id-per-component
      // labeling bit for bit
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5).select("doc_a", "doc_b"),
        driverThreshold = 0L)),
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a""".stripMargin),
    QueryDef("dd24_soft_dedup_weight", ((s, dir) => {
      // soft dedup: downweight instead of drop — every near-dup cluster
      // member gets sampling weight 1/cluster_size, so the cluster
      // contributes one document's worth of training mass while keeping
      // the variants (the modern alternative to hard dedup when
      // duplicates carry formatting/recency signal). Docs outside any
      // cluster are their own singleton at weight 1.0. Same candidate
      // graph as dd6; one extra tiny aggregation + a left join
      val docs = t(s, dir, "documents")
      val cc = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
          .select("doc_a", "doc_b"))
      val sized = cc.groupBy("cluster_id").agg(count(lit(1)).as("cl_n"))
      docs.select("doc_id")
        .join(cc.join(sized, "cluster_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("cl_n"), lit(1L)).as("cluster_size"),
          fround(lit(1.0) / coalesce(col("cl_n"), lit(1L)).cast("double"), 6)
            .as("weight"))
    }),
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a),
         |w AS (SELECT cluster_id, count(*) AS cl_n FROM cc GROUP BY 1)
         |SELECT d.doc_id,
         |coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         |coalesce(w.cl_n, 1)::BIGINT AS cluster_size,
         |floor(1.0 / coalesce(w.cl_n, 1)::DOUBLE * 1000000.0) / 1000000.0
         |  AS weight
         |FROM documents d
         |LEFT JOIN cc ON cc.doc_id = d.doc_id
         |LEFT JOIN w ON w.cluster_id = cc.cluster_id""".stripMargin),
    QueryDef("dd8_hash_split", ((s, dir) =>
      // deterministic held-out splitting: md5 of the id buckets every doc
      // into train/val/test with no RNG state — reproducible on any engine
      // and any cluster size
      t(s, dir, "documents").select(
        col("doc_id"),
        when(substring(md5(col("doc_id").cast("string")), 1, 2) < "cc", "train")
          .when(substring(md5(col("doc_id").cast("string")), 1, 2) < "e6", "val")
          .otherwise("test").as("split"))),
      """SELECT doc_id, CASE
        |WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
        |WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
        |ELSE 'test' END AS split
        |FROM documents""".stripMargin),
    QueryDef("dd10_mixture_sample", ((s, dir) =>
      // deterministic training-data mixing: per-language keep rates (en
      // halved, unknown kept, default ~80%) via the RNG-free stratified
      // hash sampler — reproducible on any engine and cluster size
      graft.operators.Sampling.stratifiedHashSample(
          t(s, dir, "documents")
            .withColumn("lang", TextFunctions.langId(col("text"))),
          idCol = "doc_id", strataCol = "lang",
          rates256 = Map("en" -> 128, "und" -> 256), default256 = 204,
          keepBucket = true)
        .select("doc_id", "lang", "bucket")),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |scores AS (SELECT doc_id,
         |len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
         |len(list_filter(t, x -> x IN ('le','la','et'))) AS s_fr,
         |len(list_filter(t, x -> x IN ('el','los','que'))) AS s_es,
         |len(list_filter(t, x -> x IN ('der','die','und'))) AS s_de,
         |len(list_filter(t, x -> x IN ('de','shi','le'))) AS s_zh
         |FROM toks),
         |lang AS (SELECT doc_id, CASE
         |WHEN s_en > 0 AND s_en >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
         |WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
         |WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
         |WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
         |WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
         |ELSE 'und' END AS lang FROM scores),
         |b AS (SELECT lang.doc_id, lang,
         |(strpos('123456789abcdef', substr(md5(lang.doc_id::VARCHAR), 1, 1)) * 16 +
         | strpos('123456789abcdef', substr(md5(lang.doc_id::VARCHAR), 2, 1)))::INT AS bucket
         |FROM lang)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < CASE lang WHEN 'en' THEN 128 WHEN 'und' THEN 256
         |ELSE 204 END""".stripMargin),
    QueryDef("dd4_simhash", ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", bits = 16)),
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
         |bits AS (SELECT doc_id, b,
         |('0x' || substr(md5(tok), 1, 15))::BIGINT AS h64
         |FROM toks, range(0, 16) rb(b)),
         |votes AS (SELECT doc_id, b,
         |sum(CASE WHEN (h64 >> b::INT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         |FROM bits GROUP BY 1, 2)
         |SELECT doc_id,
         |sum(CASE WHEN vote > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
         |FROM votes GROUP BY doc_id""".stripMargin),
    QueryDef("dd11_chunk_dedup", ((s, dir) =>
      // sub-document (paragraph-level) exact dedup: 20-word chunks, first
      // corpus occurrence survives, documents reassembled without the
      // repeated boilerplate
      Dedup.chunkDedup(t(s, dir, "documents"), "doc_id", "text",
        chunkWords = 20)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |array_to_string(t[(i*20+1):(i*20+20)], ' ') AS chunk
         |FROM (SELECT doc_id, t,
         |unnest(range(0, ((greatest(len(t), 1) - 1) // 20) + 1)) AS i FROM toks)),
         |chf AS (SELECT * FROM ch WHERE strlen(chunk) > 0),
         |base AS (SELECT doc_id, count(*) AS n_chunks FROM chf GROUP BY 1),
         |kept AS (SELECT doc_id, chunk_idx, chunk FROM (
         |SELECT doc_id, chunk_idx, chunk,
         |row_number() OVER (PARTITION BY md5(chunk)
         |ORDER BY doc_id, chunk_idx) AS rn FROM chf) WHERE rn = 1),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text
         |FROM kept GROUP BY 1)
         |SELECT b.doc_id, b.n_chunks, coalesce(a.n_kept, 0) AS n_kept,
         |coalesce(a.dedup_text, '') AS dedup_text
         |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id""".stripMargin),
    QueryDef("dd34_cluster_histogram", ((s, dir) => {
      // the dedup health curve: distribution of near-dup cluster sizes
      // including singletons (a corpus whose mass sits in big clusters
      // needs aggressive dedup; a flat histogram is already clean).
      // Reuses dd6's clusters; two further hash aggregations.
      val docs = t(s, dir, "documents")
      val cc = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.5).select("doc_a", "doc_b"))
      docs.select("doc_id")
        .join(cc.select(col("doc_id"), col("cluster_id")), Seq("doc_id"),
          "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cl"))
        .groupBy("cl").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |UNION SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a),
         |ent AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cl
         |FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
         |sz AS (SELECT cl, count(*)::BIGINT AS cluster_size
         |FROM ent GROUP BY 1)
         |SELECT cluster_size, count(*)::BIGINT AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin),
    QueryDef("dd37_weighted_jaccard", ((s, dir) =>
      // IDF-weighted near-dup scoring: rare-shingle agreement dominates,
      // boilerplate agreement stops qualifying — integer micro-nat
      // weights, exact intersection/union sums, LSH candidates only
      Dedup.weightedJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 2, numHashes = 16, rowsPerBand = 4, threshold = 0.4)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
         |wts AS (SELECT sh, floor(ln(nd.n_docs::DOUBLE / count(*)) * 1e6)::BIGINT
         |  AS w_u FROM sh, nd GROUP BY sh, nd.n_docs),
         |tw AS (SELECT doc_id, sum(w_u)::BIGINT AS tw
         |FROM sh JOIN wts USING (sh) GROUP BY 1),
         |iw AS (SELECT doc_a, doc_b, sum(w.w_u)::BIGINT AS iw FROM cand
         |JOIN sh a ON a.doc_id = cand.doc_a
         |JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh
         |JOIN wts w ON w.sh = a.sh GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |floor(iw::DOUBLE / (ta.tw + tb.tw - iw) * 10000.0) / 10000.0
         |  AS wjaccard
         |FROM iw JOIN tw ta ON ta.doc_id = doc_a
         |JOIN tw tb ON tb.doc_id = doc_b
         |WHERE ta.tw + tb.tw - iw > 0
         |AND floor(iw::DOUBLE / (ta.tw + tb.tw - iw) * 10000.0)
         |  / 10000.0 >= 0.4""".stripMargin),
    QueryDef("dd38_exact_substr", ((s, dir) =>
      // ExactSubstr dedup (Lee et al. 2022): maximal verbatim shared
      // token spans >= 16 tokens with positions in both docs — k-gram
      // fingerprint equi-join + diagonal islands assembly, candidates
      // proportional to actual duplication, df-capped hot grams
      Dedup.exactSubstrSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minTokens = 16, maxGramDf = 256)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |md5(array_to_string(t[i:i+7], ' ')) AS g
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i FROM toks)),
         |rare AS (SELECT g FROM
         |(SELECT g, count(*) AS c FROM g GROUP BY 1) WHERE c <= 256),
         |gg AS (SELECT g.* FROM g JOIN rare USING (g)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |a.pos AS pa, a.pos - b.pos AS diag
         |FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |isl AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER
         |(PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl FROM m),
         |sp AS (SELECT doc_a, doc_b, diag, min(pa) AS a_start,
         |max(pa) - min(pa) + 8 AS len FROM isl GROUP BY 1, 2, 3, isl)
         |SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, len
         |FROM sp WHERE len >= 16""".stripMargin),
    QueryDef("dd39_exactsubstr_cut", ((s, dir) =>
      // the cut decision completing the Lee et al. 2022 ExactSubstr
      // recipe dd38 starts: the lowest-doc-id occurrence of every shared
      // span survives, every later copy is cut; per affected doc the
      // span intervals merge first (running-max sweep window) so a
      // region shared with several earlier docs never double-counts.
      // Output: (doc_id, n_tokens, n_cut, n_kept) audit rows
      Dedup.exactSubstrCut(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minTokens = 16, maxGramDf = 256)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |md5(array_to_string(t[i:i+7], ' ')) AS g
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i FROM toks)),
         |rare AS (SELECT g FROM
         |(SELECT g, count(*) AS c FROM g GROUP BY 1) WHERE c <= 256),
         |gg AS (SELECT g.* FROM g JOIN rare USING (g)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |a.pos AS pa, a.pos - b.pos AS diag
         |FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |isl AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER
         |(PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl FROM m),
         |sp AS (SELECT doc_a, doc_b, diag, min(pa) AS a_start,
         |max(pa) - min(pa) + 8 AS len FROM isl GROUP BY 1, 2, 3, isl),
         |spans AS (SELECT doc_b, a_start - diag AS b_start, len
         |FROM sp WHERE len >= 16),
         |iv AS (SELECT DISTINCT doc_b AS doc_id, b_start AS lo,
         |b_start + len AS hi FROM spans),
         |mx AS (SELECT doc_id, lo, hi, max(hi) OVER (PARTITION BY doc_id
         |ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |AS pmh FROM iv),
         |ni AS (SELECT doc_id, lo, hi, CASE WHEN pmh IS NULL OR lo > pmh
         |THEN 1 ELSE 0 END AS niw FROM mx),
         |ic AS (SELECT doc_id, lo, hi, sum(niw) OVER (PARTITION BY doc_id
         |ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |AS isl FROM ni),
         |mrg AS (SELECT doc_id, isl, min(lo) AS lo, max(hi) AS hi FROM ic
         |GROUP BY 1, 2),
         |cut AS (SELECT doc_id, sum(hi - lo)::BIGINT AS n_cut FROM mrg
         |GROUP BY 1),
         |nt AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks)
         |SELECT nt.doc_id, n_tokens, n_cut, n_tokens - n_cut AS n_kept
         |FROM nt JOIN cut USING (doc_id)""".stripMargin),
    QueryDef("dd45_cdc_chunks", ((s, dir) =>
      // content-defined chunking dedup (LBFS/rsync): boundaries where
      // the rolling 4-token window's last md5 nibble mod 8 == 0
      // (expected 8-token chunks), so one prepended token cannot shift
      // every chunk the way it defeats dd11's fixed chunks; per-doc
      // reclaimable-token report under first-occurrence discipline
      Dedup.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text",
        k = 4, divisor = 8)),
      // identical boundary draw (last md5 nibble via the dd22
      // single-hex-digit integerization), spans from a per-doc lag
      // window, chunk fingerprints joined on md5 keys
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents
         |WHERE len($duckToks) >= 1),
         |bs AS (SELECT doc_id, e FROM (SELECT doc_id, t,
         |unnest(range(4, len(t) + 1)) AS e FROM toks)
         |WHERE strpos('123456789abcdef', substr(md5(array_to_string(
         |t[(e - 3)::INT:e::INT], ' ')), 32, 1)) % 8 = 0),
         |ends AS (SELECT doc_id, e FROM bs
         |UNION SELECT doc_id, len(t) FROM toks),
         |spans AS (SELECT doc_id, e,
         |coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
         |  AS s FROM ends),
         |chunks AS (SELECT sp.doc_id,
         |md5(array_to_string(tk.t[sp.s::INT:sp.e::INT], ' ')) AS fp,
         |(sp.e - sp.s + 1)::BIGINT AS ntok
         |FROM spans sp JOIN toks tk ON tk.doc_id = sp.doc_id),
         |fd AS (SELECT fp, min(doc_id) AS first_doc FROM chunks
         |GROUP BY 1)
         |SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
         |sum(ntok)::BIGINT AS n_tokens,
         |sum(CASE WHEN c.doc_id > fd.first_doc THEN 1 ELSE 0
         |  END)::BIGINT AS n_dup_chunks,
         |sum(CASE WHEN c.doc_id > fd.first_doc THEN ntok ELSE 0
         |  END)::BIGINT AS n_dup_tokens
         |FROM chunks c JOIN fd ON fd.fp = c.fp GROUP BY 1""".stripMargin),
    QueryDef("dd44_capture_recapture", ((s, dir) => {
      // Chapman capture-recapture estimate of duplicate pairs BOTH
      // detectors missed: the dd9 MinHash-verified pass and the dd22
      // SimHash Hamming pass are two independent "captures" of the true
      // duplicate-pair population — their overlap sizes the blind spot
      // and answers "is a third dedup pass worth running"
      val docs = t(s, dir, "documents")
      Dedup.captureRecapture(
        Dedup.lshVerifiedJaccardPairs(docs, "doc_id", "text",
          n = 2, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
          .select("doc_a", "doc_b"),
        Dedup.simhashHammingPairs(docs, "doc_id", "text",
          bits = 60, bands = 4, maxHamming = 2)
          .select("doc_a", "doc_b"))
    }),
      // the dd9 verified-Jaccard chain and the dd22 SimHash chain
      // verbatim, then the Chapman overlap arithmetic in HUGEINT
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM cand
         |JOIN sh a ON a.doc_id = cand.doc_a
         |JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh GROUP BY 1, 2),
         |pa AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0)
         |  / 10000.0 >= 0.5),
         |tok2 AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
         |bits AS (SELECT doc_id, b,
         |('0x' || substr(md5(tok), 1, 15))::BIGINT AS h64
         |FROM tok2, range(0, 60) rb(b)),
         |votes AS (SELECT doc_id, b,
         |sum(CASE WHEN (h64 >> b::INT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         |FROM bits GROUP BY 1, 2),
         |sig2 AS (SELECT doc_id,
         |sum(CASE WHEN vote > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT
         |  AS simhash
         |FROM votes GROUP BY doc_id),
         |banded AS (SELECT doc_id, simhash, bb,
         |(simhash >> (bb * 15)::INT) & 32767 AS bsig
         |FROM sig2, range(0, 4) rbb(bb)),
         |cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |a.simhash AS sa, b2.simhash AS sb
         |FROM banded a JOIN banded b2
         |ON a.bb = b2.bb AND a.bsig = b2.bsig AND a.doc_id < b2.doc_id),
         |pb AS (SELECT doc_a, doc_b FROM cand2
         |WHERE bit_count(xor(sa, sb)) <= 2),
         |j AS (SELECT coalesce(pa.doc_a, pb.doc_a) AS x,
         |CASE WHEN pa.doc_a IS NOT NULL THEN 1 END AS in_a,
         |CASE WHEN pb.doc_a IS NOT NULL THEN 1 END AS in_b
         |FROM pa FULL OUTER JOIN pb
         |ON pa.doc_a = pb.doc_a AND pa.doc_b = pb.doc_b),
         |m AS (SELECT count(in_a)::HUGEINT AS n_a,
         |count(in_b)::HUGEINT AS n_b,
         |count(CASE WHEN in_a IS NOT NULL AND in_b IS NOT NULL
         |THEN 1 END)::HUGEINT AS n_both FROM j)
         |SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
         |n_both::BIGINT AS n_both,
         |((n_a + 1) * (n_b + 1) // (n_both + 1) - 1)::BIGINT AS est_total,
         |((n_a + 1) * (n_b + 1) // (n_both + 1) - 1
         |  - (n_a + n_b - n_both))::BIGINT AS est_undetected
         |FROM m""".stripMargin),
    QueryDef("dd42_exactsubstr_apply", ((s, dir) =>
      // the applied form of dd39: re-emit every document with its cut
      // spans REMOVED (earliest copy survives verbatim, later copies
      // lose exactly the shared region) — one filter-with-index pass
      // over each doc's token array against its few merged intervals;
      // no explode, no token shuffle; uncut docs pass through intact
      Dedup.exactSubstrApply(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minTokens = 16, maxGramDf = 256)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |md5(array_to_string(t[i:i+7], ' ')) AS g
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i FROM toks)),
         |rare AS (SELECT g FROM
         |(SELECT g, count(*) AS c FROM g GROUP BY 1) WHERE c <= 256),
         |gg AS (SELECT g.* FROM g JOIN rare USING (g)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |a.pos AS pa, a.pos - b.pos AS diag
         |FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |isl AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER
         |(PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl FROM m),
         |sp AS (SELECT doc_a, doc_b, diag, min(pa) AS a_start,
         |max(pa) - min(pa) + 8 AS len FROM isl GROUP BY 1, 2, 3, isl),
         |spans AS (SELECT doc_b, a_start - diag AS b_start, len
         |FROM sp WHERE len >= 16),
         |iv AS (SELECT DISTINCT doc_b AS doc_id, b_start AS lo,
         |b_start + len AS hi FROM spans),
         |mx AS (SELECT doc_id, lo, hi, max(hi) OVER (PARTITION BY doc_id
         |ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |AS pmh FROM iv),
         |ni AS (SELECT doc_id, lo, hi, CASE WHEN pmh IS NULL OR lo > pmh
         |THEN 1 ELSE 0 END AS niw FROM mx),
         |ic AS (SELECT doc_id, lo, hi, sum(niw) OVER (PARTITION BY doc_id
         |ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |AS isl FROM ni),
         |mrg AS (SELECT doc_id, isl, min(lo) AS lo, max(hi) AS hi FROM ic
         |GROUP BY 1, 2),
         |ti AS (SELECT doc_id, t, unnest(range(0, len(t))) AS i
         |FROM toks),
         |kept AS (SELECT tk.doc_id, tk.i, tk.t[(tk.i + 1)::INT] AS w
         |FROM ti tk WHERE NOT EXISTS (SELECT 1 FROM mrg c
         |WHERE c.doc_id = tk.doc_id AND tk.i >= c.lo AND tk.i < c.hi)),
         |res AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         |string_agg(w, ' ' ORDER BY i) AS text_dedup
         |FROM kept GROUP BY 1),
         |nt AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks)
         |SELECT nt.doc_id, nt.n_tokens,
         |coalesce(res.n_kept, 0)::BIGINT AS n_kept,
         |coalesce(res.text_dedup, '') AS text_dedup
         |FROM nt LEFT JOIN res USING (doc_id)""".stripMargin),
    QueryDef("dd41_exactsubstr_overlap", ((s, dir) =>
      // pair-level verbatim overlap ratio: fraction of the LATER doc
      // covered by the merged union of its shared spans — position-aware
      // where Jaccard is bag-level; separates quotation from near-copy.
      // Integer ppm; pairs exist only where dd38 found spans
      Dedup.exactSubstrOverlap(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minTokens = 16, maxGramDf = 256)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |md5(array_to_string(t[i:i+7], ' ')) AS g
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i FROM toks)),
         |rare AS (SELECT g FROM
         |(SELECT g, count(*) AS c FROM g GROUP BY 1) WHERE c <= 256),
         |gg AS (SELECT g.* FROM g JOIN rare USING (g)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |a.pos AS pa, a.pos - b.pos AS diag
         |FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id),
         |isl AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER
         |(PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl FROM m),
         |sp AS (SELECT doc_a, doc_b, diag, min(pa) AS a_start,
         |max(pa) - min(pa) + 8 AS len FROM isl GROUP BY 1, 2, 3, isl),
         |iv AS (SELECT DISTINCT doc_a, doc_b, a_start - diag AS lo,
         |a_start - diag + len AS hi FROM sp WHERE len >= 16),
         |mx AS (SELECT doc_a, doc_b, lo, hi, max(hi) OVER (
         |PARTITION BY doc_a, doc_b ORDER BY lo, hi
         |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmh FROM iv),
         |ni AS (SELECT doc_a, doc_b, lo, hi, CASE WHEN pmh IS NULL
         |OR lo > pmh THEN 1 ELSE 0 END AS niw FROM mx),
         |ic AS (SELECT doc_a, doc_b, lo, hi, sum(niw) OVER (
         |PARTITION BY doc_a, doc_b ORDER BY lo, hi
         |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM ni),
         |mrg AS (SELECT doc_a, doc_b, isl, min(lo) AS lo, max(hi) AS hi
         |FROM ic GROUP BY 1, 2, 3),
         |cov AS (SELECT doc_a, doc_b, sum(hi - lo)::BIGINT
         |AS n_shared_tokens FROM mrg GROUP BY 1, 2),
         |nt AS (SELECT doc_id AS doc_b, len(t)::BIGINT AS n_tokens_b
         |FROM toks)
         |SELECT doc_a, cov.doc_b, n_shared_tokens, n_tokens_b,
         |n_shared_tokens * 1000000 // greatest(n_tokens_b, 1)
         |  AS overlap_ppm
         |FROM cov JOIN nt ON nt.doc_b = cov.doc_b""".stripMargin),
    QueryDef("dd40_exactsubstr_incr", ((s, dir) => {
      // incremental ExactSubstr (continuous ingest): the new batch's
      // verbatim shared spans against the existing corpus — corpus grams
      // never self-join; df cap over the union makes this exactly
      // dd38-on-the-merged-corpus restricted to (corpus, batch) pairs
      // (the equivalence DedupSpec gates). er5/dd15 split convention.
      val docs = t(s, dir, "documents")
      Dedup.exactSubstrSpansIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 8, minTokens = 16, maxGramDf = 256)
    }),
      s"""WITH toks AS (SELECT doc_id, doc_id % 10 = 0 AS is_batch,
         |$duckToks AS t FROM documents),
         |g AS (SELECT doc_id, is_batch, i - 1 AS pos,
         |md5(array_to_string(t[i:i+7], ' ')) AS g
         |FROM (SELECT doc_id, is_batch, t,
         |unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i FROM toks)),
         |rare AS (SELECT g FROM
         |(SELECT g, count(*) AS c FROM g GROUP BY 1) WHERE c <= 256),
         |gg AS (SELECT g.* FROM g JOIN rare USING (g)),
         |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |a.pos AS pa, a.pos - b.pos AS diag
         |FROM gg a JOIN gg b ON a.g = b.g
         |AND NOT a.is_batch AND b.is_batch),
         |isl AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER
         |(PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl FROM m),
         |sp AS (SELECT doc_a, doc_b, diag, min(pa) AS a_start,
         |max(pa) - min(pa) + 8 AS len FROM isl GROUP BY 1, 2, 3, isl)
         |SELECT doc_a AS corpus_id, doc_b AS batch_id,
         |a_start AS corpus_start, a_start - diag AS batch_start, len
         |FROM sp WHERE len >= 16""".stripMargin),
    QueryDef("dd33_leakfree_split", ((s, dir) =>
      // leakage-free splitting: the dd8 hash split composed with
      // LSH-verified near-dup detection — train/val docs near-duplicating
      // a TEST doc relabel to dropped_leak (cross-split contamination is
      // the self-corpus analogue of benchmark leakage). Candidates ride
      // the banded LSH join; never all-pairs.
      Dedup.leakFreeSplit(t(s, dir, "documents"), "doc_id", "text",
        n = 2, numHashes = 16, rowsPerBand = 4, threshold = 0.5)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM cand
         |JOIN sh a ON a.doc_id = cand.doc_a
         |JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0)
         |  / 10000.0 >= 0.5),
         |base AS (SELECT doc_id, CASE
         |WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
         |WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
         |ELSE 'test' END AS split0 FROM documents),
         |leaky AS (SELECT DISTINCT
         |CASE WHEN sb.split0 = 'test' THEN p.doc_a ELSE p.doc_b END AS doc_id
         |FROM pairs p JOIN base sa ON sa.doc_id = p.doc_a
         |JOIN base sb ON sb.doc_id = p.doc_b
         |WHERE (sa.split0 = 'test') <> (sb.split0 = 'test'))
         |SELECT b.doc_id, CASE
         |WHEN l.doc_id IS NOT NULL AND b.split0 <> 'test'
         |THEN 'dropped_leak' ELSE b.split0 END AS split
         |FROM base b LEFT JOIN leaky l ON l.doc_id = b.doc_id""".stripMargin),
    QueryDef("dd5_embed_neardup", ((s, dir) =>
      // brute-force form: the small-n oracle baseline (O(n^2) pairs)
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35)),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |floor(list_cosine_similarity(a.v, b.v) * 1000.0) / 1000.0 AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE floor(list_cosine_similarity(a.v, b.v) * 1000.0) / 1000.0 >= 0.35""".stripMargin),
    QueryDef("dd5b_embed_neardup_lsh", ((s, dir) =>
      // the scale path: SRP-bucketed equi-join with Hamming-1 multi-probe —
      // no all-pairs comparison; the oracle reproduces the identical md5
      // hyperplanes, buckets, and probes, so recall loss is part of the
      // checked semantics, not noise. (Known caveat: the oracle's SQL SUM
      // folds projection terms in scan order while srpProjection folds
      // left-to-right — a projection within ulps of 0 could bucket
      // differently; no fixture vector is near that boundary.)
      Dedup.embeddingNearDupPairsBucketed(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.35, planes = 4)),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |proj AS (SELECT vec_id, p, sum(v[d::INT] *
        |CASE WHEN substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
        |THEN 1.0 ELSE -1.0 END) AS pr
        |FROM v, range(0, 4) rp(p), range(1, 65) rd(d) GROUP BY 1, 2),
        |buck AS (SELECT vec_id, sum(CASE WHEN pr > 0
        |THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
        |FROM proj GROUP BY 1),
        |probes AS (SELECT vec_id, bucket AS pb FROM buck
        |UNION ALL
        |SELECT vec_id, xor(bucket, (1::BIGINT << p::INT)) AS pb
        |FROM buck, range(0, 4) rp(p)),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM probes a JOIN buck b ON a.pb = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |floor(list_cosine_similarity(va.v, vb.v) * 1000.0) / 1000.0 AS cos
        |FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b
        |WHERE floor(list_cosine_similarity(va.v, vb.v) * 1000.0) / 1000.0 >= 0.35""".stripMargin),
    QueryDef("dd12_semantic_dedup", ((s, dir) =>
      // SemDeDup-style: coarse k-means cells bound candidate generation —
      // within-cell equi-join pairs only, no corpus self-join; cells follow
      // the data distribution where SRP buckets are direction-random
      Dedup.semanticNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", nCells = 8, threshold = 0.35)),
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM v),
        |cents AS (SELECT vec_id AS cent_id, v AS centv,
        |list_inner_product(v, v) / 2 AS chs FROM v ORDER BY vec_id LIMIT 8),
        |assign AS (SELECT vec_id, v, nrm, cent_id AS cell FROM (
        |SELECT n.vec_id, n.v, n.nrm, ce.cent_id, row_number() OVER (
        |PARTITION BY n.vec_id
        |ORDER BY (list_inner_product(n.v, ce.centv) - ce.chs) DESC, ce.cent_id) AS rk
        |FROM n CROSS JOIN cents ce) WHERE rk = 1)
        |SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
        |floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm) * 1000.0)
        |  / 1000.0 AS cos
        |FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |WHERE floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm) * 1000.0)
        |  / 1000.0 >= 0.35""".stripMargin),
    QueryDef("dd17_edit_verify", ((s, dir) => {
      // fuzzy dedup with an O(len^2) metric made affordable: Levenshtein
      // runs ONLY on LSH candidate pairs (never all-pairs), the same
      // candidates-then-verify shape as dd9 with edit similarity instead
      // of Jaccard. Both engines implement classic integer DP Levenshtein,
      // so the distance is oracle-exact
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, numHashes = 16, rowsPerBand = 4)
      val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      // spread the verify (r12): candidate pairs are BYTE-THIN but the
      // O(len^2) Levenshtein is COMPUTE-HOT — AQE coalesces the pair
      // exchange by bytes (at the derived sf1 the whole verify ran as
      // ONE 12.6 s task, the skew demo's documented blind spot). An
      // explicit repartition at the environment's parallelism (never a
      // constant) pins the verify's task count; AQE does not re-coalesce
      // a user-specified partition count. Pure partitioning — results
      // are row-identical.
      val par = s.sparkContext.defaultParallelism
      cand.join(ta, "doc_a").join(tb, "doc_b")
        .repartition(par, col("doc_a"), col("doc_b"))
        .withColumn("lev", levenshtein(col("text_a"), col("text_b")))
        .withColumn("edit_sim", fround(lit(1.0) - col("lev").cast("double") /
          greatest(length(col("text_a")), length(col("text_b"))), 4))
        .filter(col("edit_sim") >= 0.8)
        .select("doc_a", "doc_b", "lev", "edit_sim")
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |scored AS (SELECT doc_a, doc_b,
         |levenshtein(da.text, db.text) AS lev,
         |floor((1.0 - levenshtein(da.text, db.text)::DOUBLE /
         |  greatest(strlen(da.text), strlen(db.text))) * 10000.0) / 10000.0
         |  AS edit_sim
         |FROM cand JOIN documents da ON da.doc_id = doc_a
         |JOIN documents db ON db.doc_id = doc_b)
         |SELECT doc_a, doc_b, lev, edit_sim FROM scored
         |WHERE edit_sim >= 0.8""".stripMargin),
    QueryDef("dd27_source_overlap", ((s, dir) =>
      // inter-source redundancy matrix from MERGEABLE MinHash sketches: a
      // source's signature is the slotwise min of its docs' signatures
      // (= the MinHash of the union of shingle sets, map-side combined),
      // and slot agreement estimates pairwise source Jaccard — what a
      // curation pass consults before setting mixture weights, with no
      // document-level cross compare anywhere
      Dedup.groupMinhashOverlap(t(s, dir, "documents"), "doc_id", "text",
        "source", n = 2, numHashes = 16)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |ws AS (SELECT d.source, mh.j, min(mh.mh) AS mh
         |FROM mh JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
         |sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS agree
         |FROM ws a JOIN ws b ON a.j = b.j AND a.source < b.source
         |GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |floor(agree::DOUBLE / 16.0 * 10000.0) / 10000.0 AS jaccard_est
         |FROM pairs""".stripMargin),
    QueryDef("dd26_bounded_edit_pairs", ((s, dir) => {
      // absolute-bound fuzzy dedup: LSH candidate pairs within 20 raw
      // edits — the direct `levenshtein(a,b) <= k` form that the
      // LevenshteinPrefilter optimizer rule strengthens with a free
      // abs(length difference) <= k conjunct, so most candidates fail the
      // O(1) bound and never pay the O(len^2) DP (dd17 is the
      // relative-similarity cousin of this gate)
      val docs = t(s, dir, "documents")
      val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, numHashes = 16, rowsPerBand = 4)
      val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      cand.join(ta, "doc_a").join(tb, "doc_b")
        .withColumn("lev", levenshtein(col("text_a"), col("text_b")))
        .filter(col("lev") <= 20)
        .select("doc_a", "doc_b", "lev")
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, levenshtein(da.text, db.text) AS lev
         |FROM cand JOIN documents da ON da.doc_id = doc_a
         |JOIN documents db ON db.doc_id = doc_b
         |WHERE levenshtein(da.text, db.text) <= 20""".stripMargin),
    QueryDef("dd16_minhash_estimate", ((s, dir) => {
      // estimator-quality audit: per candidate pair, the MinHash Jaccard
      // ESTIMATE (fraction of agreeing signature slots — multiples of 1/16,
      // binary-exact) next to the verified exact Jaccard. Signatures are
      // deterministic md5 minhashes, so the estimate itself is oracle-able
      // bit-for-bit, not just within a tolerance
      val docs = t(s, dir, "documents")
      // both join sides and (via plan-keyed cache subtree reuse) the band
      // construction read the signatures — one materialization
      val sigs = graft.operators.PlanPersist("entry.dd20.sigs",
        Dedup.minhashSignatures(
          Dedup.shingleSet(docs, "doc_id", "text", 2), 16))
      val pairs = Dedup.lshVerifiedJaccardPairs(docs, "doc_id", "text",
        n = 2, numHashes = 16, rowsPerBand = 4, threshold = 0.0)
      val sa = sigs.select(col("doc_id").as("doc_a") +:
        (0 until 16).map(j => col(s"mh$j").as(s"a$j")): _*)
      val sb = sigs.select(col("doc_id").as("doc_b") +:
        (0 until 16).map(j => col(s"mh$j").as(s"b$j")): _*)
      pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          col("jaccard").as("jaccard_exact"),
          fround((0 until 16).map(j =>
            when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
            .reduce(_ + _).cast("double") / lit(16.0), 4).as("jaccard_est"))
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM cand
         |JOIN sh a ON a.doc_id = cand.doc_a
         |JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh GROUP BY 1, 2),
         |ex AS (SELECT doc_a, doc_b,
         |floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0
         |  AS jaccard_exact
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b),
         |est AS (SELECT c.doc_a, c.doc_b,
         |floor(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 16.0
         |  * 10000.0) / 10000.0 AS jaccard_est
         |FROM cand c JOIN mh ma ON ma.doc_id = c.doc_a
         |JOIN mh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j GROUP BY 1, 2)
         |SELECT doc_a, doc_b, jaccard_exact, jaccard_est
         |FROM ex JOIN est USING (doc_a, doc_b)""".stripMargin),
    QueryDef("dd15_incremental_dedup", ((s, dir) => {
      // continuous-ingest dedup: every 5th document plays the NEW batch;
      // each batch doc is classified exact/near/novel against the corpus
      // with batch↔corpus joins only (the corpus never self-compares)
      val docs = t(s, dir, "documents")
      Dedup.incrementalDedupReport(
        docs.filter(col("doc_id") % 5 =!= 4),
        docs.filter(col("doc_id") % 5 === 4),
        "doc_id", "text",
        n = 2, numHashes = 16, rowsPerBand = 4, threshold = 0.5)
    }),
      s"""WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),
         |c AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
         |chash AS (SELECT md5(text) AS fp, min(doc_id) AS match_id
         |FROM c GROUP BY 1),
         |ex AS (SELECT b.doc_id, chash.match_id FROM b
         |JOIN chash ON md5(b.text) = chash.fp),
         |rest AS (SELECT * FROM b
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
         |btoks AS (SELECT doc_id, $duckToks AS t FROM rest),
         |ctoks AS (SELECT doc_id, $duckToks AS t FROM c),
         |bsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM btoks)),
         |csh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM ctoks)),
         |bmh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM bsh, range(0, 16) rj(j) GROUP BY 1, 2),
         |cmh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM csh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bbands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM bmh GROUP BY 1, 2),
         |cbands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM cmh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id, m.doc_id AS match_id
         |FROM bbands a JOIN cbands m
         |ON a.band = m.band AND a.sig = m.sig),
         |bsz AS (SELECT doc_id, count(*) AS bsz FROM bsh GROUP BY 1),
         |csz AS (SELECT doc_id AS match_id, count(*) AS csz FROM csh GROUP BY 1),
         |inter AS (SELECT cand.doc_id, cand.match_id, count(*) AS inter
         |FROM cand JOIN bsh a ON a.doc_id = cand.doc_id
         |JOIN csh m ON m.doc_id = cand.match_id AND m.sh = a.sh GROUP BY 1, 2),
         |scored AS (SELECT inter.doc_id, inter.match_id,
         |floor(inter::DOUBLE / (bsz + csz - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM inter JOIN bsz ON bsz.doc_id = inter.doc_id
         |JOIN csz ON csz.match_id = inter.match_id),
         |nr AS (SELECT doc_id, match_id, jaccard FROM (
         |SELECT doc_id, match_id, jaccard, row_number() OVER (
         |PARTITION BY doc_id ORDER BY jaccard DESC, match_id) AS rk
         |FROM scored WHERE jaccard >= 0.5) WHERE rk = 1)
         |SELECT doc_id, match_id, 'exact' AS kind, 1.0 AS jaccard FROM ex
         |UNION ALL SELECT doc_id, match_id, 'near', jaccard FROM nr
         |UNION ALL SELECT doc_id, NULL::BIGINT, 'novel', NULL::DOUBLE
         |FROM rest WHERE doc_id NOT IN (SELECT doc_id FROM nr)""".stripMargin),
    QueryDef("dd14_curation_pipeline", ((s, dir) =>
      // the end-to-end composition: gopher gate -> exact dedup -> LSH
      // near-dup -> domain cap -> mixture sample; every doc gets exactly
      // one disposition status (an auditable curation ledger)
      graft.operators.CurationPipeline.curate(
        t(s, dir, "documents"), "doc_id", "text", "source",
        minTokens = 50, shingleN = 2, numHashes = 16, rowsPerBand = 4,
        jaccardThreshold = 0.5, cap = 10,
        rates256 = Map("en" -> 128, "und" -> 256), default256 = 204)),
      s"""WITH toks AS (SELECT doc_id, text, source, $duckToks AS t FROM documents),
         |feat AS (SELECT doc_id, text, source, t, len(t) AS n_tokens,
         |list_aggregate(list_transform(t, x -> strlen(x)), 'sum')::DOUBLE
         |  / greatest(len(t), 1) AS mtl,
         |len(list_filter(t, x -> x IN ('the','a','of','and','to','in'))) AS stops,
         |(strlen(text) - strlen(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE
         |  / greatest(strlen(text), 1) AS punct FROM toks),
         |flag AS (SELECT *, (n_tokens >= 50 AND n_tokens <= 100000
         |  AND mtl >= 3.0 AND mtl <= 10.0 AND stops >= 2 AND punct < 0.1)
         |  AS gkeep FROM feat),
         |e AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
         |  ORDER BY doc_id) AS dup_rn FROM flag WHERE gkeep),
         |es AS (SELECT * FROM e WHERE dup_rn = 1),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |  unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM es)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM cand
         |JOIN sh a ON a.doc_id = cand.doc_a
         |JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh GROUP BY 1, 2),
         |nd AS (SELECT DISTINCT doc_b AS doc_id FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0)
         |  / 10000.0 >= 0.5),
         |ns AS (SELECT * FROM es
         |  WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
         |c AS (SELECT *, row_number() OVER (PARTITION BY source
         |  ORDER BY n_tokens DESC, doc_id) AS cap_rank FROM ns),
         |cs AS (SELECT * FROM c WHERE cap_rank <= 10),
         |sc2 AS (SELECT doc_id, n_tokens,
         |len(list_filter(t, x -> x IN ('the','a','of'))) AS s_en,
         |len(list_filter(t, x -> x IN ('le','la','et'))) AS s_fr,
         |len(list_filter(t, x -> x IN ('el','los','que'))) AS s_es,
         |len(list_filter(t, x -> x IN ('der','die','und'))) AS s_de,
         |len(list_filter(t, x -> x IN ('de','shi','le'))) AS s_zh FROM cs),
         |lang AS (SELECT doc_id, n_tokens, CASE
         |WHEN s_en > 0 AND s_en >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'en'
         |WHEN s_fr > 0 AND s_fr >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'fr'
         |WHEN s_es > 0 AND s_es >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'es'
         |WHEN s_de > 0 AND s_de >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'de'
         |WHEN s_zh > 0 AND s_zh >= greatest(s_en, s_fr, s_es, s_de, s_zh) THEN 'zh'
         |ELSE 'und' END AS lang FROM sc2),
         |b AS (SELECT doc_id, n_tokens, lang,
         |(strpos('123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) * 16 +
         | strpos('123456789abcdef', substr(md5(doc_id::VARCHAR), 2, 1)))::INT AS bucket
         |FROM lang),
         |rated AS (SELECT doc_id, n_tokens, bucket, CASE lang
         |  WHEN 'en' THEN 128 WHEN 'und' THEN 256 ELSE 204 END AS rate FROM b)
         |SELECT doc_id, n_tokens, 'gopher' AS status FROM flag WHERE NOT gkeep
         |UNION ALL SELECT doc_id, n_tokens, 'exact_dup' FROM e WHERE dup_rn > 1
         |UNION ALL SELECT doc_id, n_tokens, 'near_dup' FROM es
         |  WHERE doc_id IN (SELECT doc_id FROM nd)
         |UNION ALL SELECT doc_id, n_tokens, 'domain_cap' FROM c WHERE cap_rank > 10
         |UNION ALL SELECT doc_id, n_tokens, 'sampled_out' FROM rated WHERE bucket >= rate
         |UNION ALL SELECT doc_id, n_tokens, 'kept' FROM rated WHERE bucket < rate""".stripMargin),
    QueryDef("dd13_domain_cap", ((s, dir) =>
      // per-domain cap: no source may contribute more than 10 documents,
      // preferring the longest (n_chars desc, doc_id tiebreak) — the
      // C4/RefinedWeb guard against hot-domain corpus capture
      graft.operators.Sampling.domainCap(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          strataCol = "source", orderBy = col("n_chars").desc,
          idCol = "doc_id", cap = 10)
        .select("source", "doc_id", "n_chars", "cap_rank")),
      """SELECT source, doc_id, n_chars, cap_rank FROM (
        |SELECT source, doc_id, n_chars, row_number() OVER (
        |PARTITION BY source ORDER BY n_chars DESC, doc_id) AS cap_rank
        |FROM documents) WHERE cap_rank <= 10""".stripMargin),
    QueryDef("dd18_weighted_sample", ((s, dir) =>
      // Efraimidis-Spirakis weighted sample without replacement: md5
      // uniforms, ln(u)/w keys, one top-k — length-weighted corpus
      // subsampling with exact reproducibility
      graft.operators.Sampling.weightedTopKSample(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", k = 50)
        .select(col("doc_id"), col("n_chars"),
          fround(col("es_key"), 9).as("es_key"))), {
      // first 32 md5 bits as a uniform, nibble-by-nibble (strpos returns
      // 0 for '0' ... 15 for 'f'); ORDER BY the unfloored key so selection
      // matches Spark's top-k, then floor-round for display
      val h32 = (1 to 8).map(i =>
        s"strpos('123456789abcdef', substr(h, $i, 1))::BIGINT * ${1L << (4 * (8 - i))}")
        .mkString(" + ")
      s"""WITH hx AS (SELECT doc_id, n_chars, md5(doc_id::VARCHAR) AS h
         |FROM documents WHERE n_chars > 0),
         |keyed AS (SELECT doc_id, n_chars,
         |ln(($h32 + 1) / 4294967296.0) / n_chars AS k FROM hx)
         |SELECT doc_id, n_chars,
         |floor(k * 1000000000.0) / 1000000000.0 AS es_key
         |FROM keyed ORDER BY k DESC, doc_id LIMIT 50""".stripMargin
    }),
    QueryDef("dd23_incr_chunk_dedup", ((s, dir) => {
      // continuous-ingest chunk dedup: every 10th document plays the new
      // batch; its 20-word chunks probe the corpus chunk-FINGERPRINT set
      // (hash equi-join, no text shipped, corpus never self-compares)
      val docs = t(s, dir, "documents")
      Dedup.incrementalChunkDedup(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", chunkWords = 20)
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |array_to_string(t[(i*20+1):(i*20+20)], ' ') AS chunk
         |FROM (SELECT doc_id, t,
         |unnest(range(0, ((greatest(len(t), 1) - 1) // 20) + 1)) AS i
         |FROM toks)),
         |chf AS (SELECT doc_id, chunk_idx, md5(chunk) AS ch FROM ch
         |WHERE strlen(chunk) > 0),
         |corp AS (SELECT DISTINCT ch FROM chf WHERE doc_id % 10 <> 0),
         |b AS (SELECT * FROM chf WHERE doc_id % 10 = 0)
         |SELECT b.doc_id, count(*)::BIGINT AS n_chunks,
         |sum(CASE WHEN corp.ch IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |  AS n_dup_vs_corpus,
         |(count(*) - sum(CASE WHEN corp.ch IS NOT NULL THEN 1 ELSE 0 END))::BIGINT
         |  AS n_novel
         |FROM b LEFT JOIN corp ON corp.ch = b.ch GROUP BY 1""".stripMargin),
    QueryDef("dd22_simhash_hamming", ((s, dir) =>
      // SimHash near-dup at hamming <= 2 over 60 bits: banded equi-join
      // candidates (pigeonhole over 4 15-bit bands), exact popcount
      // verify — no pairwise text comparison. Band width is the scale
      // lever: random-signature collisions put a floor of
      // ~ n^2 * bands / 2^width under the candidate count, so 8-bit
      // bands (the old 32-bit config) went quadratic at ~50k docs —
      // measured x40 wall for x10 docs in SCALE_PROBE — while 15-bit
      // bands push the floor 128x down and the probe back to near-linear
      Dedup.simhashHammingPairs(t(s, dir, "documents"), "doc_id", "text",
        bits = 60, bands = 4, maxHamming = 2)),
      s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents),
         |bits AS (SELECT doc_id, b,
         |('0x' || substr(md5(tok), 1, 15))::BIGINT AS h64
         |FROM toks, range(0, 60) rb(b)),
         |votes AS (SELECT doc_id, b,
         |sum(CASE WHEN (h64 >> b::INT) % 2 = 1 THEN 1 ELSE -1 END) AS vote
         |FROM bits GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |sum(CASE WHEN vote > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT
         |  AS simhash
         |FROM votes GROUP BY doc_id),
         |banded AS (SELECT doc_id, simhash, bb,
         |(simhash >> (bb * 15)::INT) & 32767 AS bsig
         |FROM sig, range(0, 4) rbb(bb)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |a.simhash AS sa, b2.simhash AS sb
         |FROM banded a JOIN banded b2
         |ON a.bb = b2.bb AND a.bsig = b2.bsig AND a.doc_id < b2.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 2""".stripMargin),
    QueryDef("dd21_lsh_quality", ((s, dir) => {
      // dedup-index quality measurement: precision/recall of the LSH
      // candidate set against exact-Jaccard ground truth over the SAME
      // 2-gram shingle space — the dedup analogue of ss10's recall@k.
      // Ground truth is computed on a 1-in-5 document SAMPLE: exact
      // all-pairs truth over a full corpus is exactly the cost LSH
      // exists to avoid, and sampled evaluation is the standard practice
      // (the sample is hash-deterministic, so the oracle sees the same
      // one). Counts divide exactly — metrics are engine-identical
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 2, numHashes = 16, rowsPerBand = 4)
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 2, threshold = 0.5).select("doc_a", "doc_b")
      val hit = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_candidates"), col("n_truth"), col("n_hit"),
          fround(col("n_hit").cast("double") /
            greatest(col("n_candidates"), lit(1L)), 4).as("precision"),
          fround(col("n_hit").cast("double") /
            greatest(col("n_truth"), lit(1L)), 4).as("recall"))
    }),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents
         |WHERE doc_id % 5 = 0),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
         |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
         |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, j // 4 AS band,
         |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |count(*) AS inter FROM sh a
         |JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0)
         |  / 10000.0 >= 0.5),
         |hit AS (SELECT c.doc_a, c.doc_b FROM cand c
         |JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |counts AS (SELECT
         |(SELECT count(*) FROM cand)::BIGINT AS n_candidates,
         |(SELECT count(*) FROM truth)::BIGINT AS n_truth,
         |(SELECT count(*) FROM hit)::BIGINT AS n_hit)
         |SELECT n_candidates, n_truth, n_hit,
         |floor(n_hit::DOUBLE / greatest(n_candidates, 1) * 10000.0)
         |  / 10000.0 AS precision,
         |floor(n_hit::DOUBLE / greatest(n_truth, 1) * 10000.0)
         |  / 10000.0 AS recall
         |FROM counts""".stripMargin),
    QueryDef("dd20_lsh_tuning", ((s, dir) => {
      // LSH index calibration sweep: candidate-pair volume per (bands,
      // rows-per-band) configuration of the SAME 16 minhashes, plus the
      // theoretical 50%-collision threshold s* = (1/b)^(1/r). The
      // signature pass is computed once (minhashSignatures persists the
      // pre-banding plan, shared by all three configs) and re-banded —
      // how an index parameter study actually runs at scale
      val docs = t(s, dir, "documents")
      Seq(2, 4, 8).map { r =>
        val b = 16 / r
        Dedup.minhashLshPairs(docs, "doc_id", "text",
            shingleN = 2, numHashes = 16, rowsPerBand = r)
          .agg(count(lit(1)).as("n_candidate_pairs"))
          .select(lit(r).as("rows_per_band"), lit(b).as("n_bands"),
            col("n_candidate_pairs"),
            fround(pow(lit(1.0) / b, lit(1.0) / r), 4).as("s_star"))
      }.reduce(_ unionByName _)
    }), {
      val head =
        s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
           |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS sh
           |FROM (SELECT doc_id, t,
           |unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i FROM toks)),
           |mh AS (SELECT doc_id, j, min(md5(j::VARCHAR || ':' || sh)) AS mh
           |FROM sh, range(0, 16) rj(j) GROUP BY 1, 2)""".stripMargin
      val cfgs = Seq(2, 4, 8).map { r =>
        s"""b$r AS (SELECT doc_id, j // $r AS band,
           |string_agg(mh, '' ORDER BY j) AS sig FROM mh GROUP BY 1, 2),
           |c$r AS (SELECT count(*)::BIGINT AS n FROM (
           |SELECT DISTINCT a.doc_id AS x, b.doc_id AS y FROM b$r a
           |JOIN b$r b ON a.band = b.band AND a.sig = b.sig
           |AND a.doc_id < b.doc_id))""".stripMargin
      }.mkString(",\n")
      val rows = Seq(2, 4, 8).map { r =>
        val b = 16 / r
        s"""SELECT $r AS rows_per_band, $b AS n_bands,
           |(SELECT n FROM c$r) AS n_candidate_pairs,
           |floor(pow(1.0 / $b, 1.0 / $r) * 10000.0) / 10000.0 AS s_star"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      head + ",\n" + cfgs + "\n" + rows
    }),
    QueryDef("dd19_containment", ((s, dir) =>
      // asymmetric containment: short-doc-inside-long-doc duplication that
      // Jaccard under-scores; directed pairs from the same shingle
      // postings join as dd2, exact integer count ratio
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.6)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t,
         |unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |count(*) AS inter FROM sh a
         |JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |floor(inter::DOUBLE / sz * 10000.0) / 10000.0 AS containment
         |FROM inter JOIN sizes ON sizes.doc_id = doc_a
         |WHERE inter::DOUBLE / sz >= 0.6""".stripMargin),
    QueryDef("dd29_stratified_split", ((s, dir) =>
      // exact-proportion per-stratum train/val/test split: rows ranked
      // within their source by md5(doc_id) (deterministic, RNG-free),
      // integer-exact 204/26/26-in-256ths boundaries — every stratum hits
      // its target counts exactly, unlike the O(1/sqrt n) wobble of the
      // stateless hash split (dd8); one window shuffle on `source`
      graft.operators.Sampling.stratifiedExactSplit(
          t(s, dir, "documents").select("doc_id", "source"),
          idCol = "doc_id", strataCol = "source",
          train256 = 204, val256 = 26)
        .select("doc_id", "source", "split")),
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n
        |FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN rn * 256 <= n * 204 THEN 'train'
        |       WHEN rn * 256 <= n * 230 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r""".stripMargin),
    QueryDef("dd30_prefix_join", ((s, dir) =>
      // prefix-filtered EXACT similarity join (AllPairs/PPJoin): only the
      // rarest (1-t)-fraction of each doc's shingles join (global-df
      // order), hot stop-shingles fall out of prefixes instead of fanning
      // out k² candidates, and a length filter prunes cross-size pairs —
      // yet the output is bit-identical to the dd2 brute self-join (the
      // prefix-filter principle is lossless), which the oracle checks
      Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"), "doc_id",
        "text", n = 3, threshold = 0.4)),
      s"""WITH toks AS (SELECT doc_id, $duckToks AS t FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
         |FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE floor(inter::DOUBLE / (sa.sz + sb.sz - inter) * 10000.0) / 10000.0 >= 0.4""".stripMargin),
    QueryDef("dd31_dsir_weight", ((s, dir) => {
      // DSIR-style importance weights (Xie et al. 2023): hashed-unigram
      // bag-LM log-likelihood ratio between a target domain (source=src0,
      // standing in for "looks like wikipedia") and the rest of the
      // corpus. Add-1-smoothed per-bucket counts -> one broadcast 64-row
      // log-ratio table -> per-doc weight as a BIGINT nano-nat sum
      // (order-free, partitioning-exact). Scale shape: tokens are
      // bucketed ONCE into a persisted (doc, bucket, n) frame that feeds
      // both the global stats and the per-doc weights — two aggregations,
      // zero re-tokenization, no vocabulary state anywhere.
      val perDoc = graft.operators.PlanPersist("entry.dsir.perDoc",
        t(s, dir, "documents")
          .select(col("doc_id"), (col("source") === "src0").as("is_t"),
            explode(TextFunctions.tokens(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("is_t"),
            pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
              lit(64L)).as("bucket"))
          .agg(count(lit(1)).as("c")))
      val stats = perDoc.groupBy("bucket").agg(
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), col("c")).otherwise(0L)).as("cr"))
      val totals = stats.agg((sum("ct") + lit(64L)).as("nt"),
        (sum("cr") + lit(64L)).as("nr"))
      val ratio = stats.crossJoin(broadcast(totals)).select(col("bucket"),
        floor(log(((col("ct") + 1).cast("double") / col("nt").cast("double")) /
            ((col("cr") + 1).cast("double") / col("nr").cast("double"))) *
          lit(1e9)).cast("long").as("llr"))
      perDoc.join(broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tok"),
          sum(col("c") * col("llr")).as("dsir_nanonats"))
    }),
      s"""WITH tk AS (SELECT doc_id, source = 'src0' AS is_t,
         |unnest($duckToks) AS tok FROM documents),
         |db AS (SELECT doc_id, is_t,
         |('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
         |count(*)::BIGINT AS c FROM tk GROUP BY 1, 2, 3),
         |st AS (SELECT bucket,
         |sum(CASE WHEN is_t THEN c ELSE 0 END)::BIGINT AS ct,
         |sum(CASE WHEN is_t THEN 0 ELSE c END)::BIGINT AS cr
         |FROM db GROUP BY 1),
         |tt AS (SELECT (sum(ct) + 64)::BIGINT AS nt,
         |(sum(cr) + 64)::BIGINT AS nr FROM st),
         |r AS (SELECT bucket,
         |floor(ln(((ct + 1)::DOUBLE / nt::DOUBLE) /
         |((cr + 1)::DOUBLE / nr::DOUBLE)) * 1e9)::BIGINT AS llr
         |FROM st, tt)
         |SELECT db.doc_id, sum(db.c)::BIGINT AS n_tok,
         |sum(db.c * r.llr)::BIGINT AS dsir_nanonats
         |FROM db JOIN r USING (bucket) GROUP BY 1""".stripMargin),
    QueryDef("dd32_temperature_mix", ((s, dir) => {
      // temperature-scaled source mixing (the GPT-3/PaLM data-recipe
      // step): sources are sampled proportional to n^(1/2) so giant
      // crawls stop drowning small curated sets. Per-source keep
      // thresholds derive from INTEGER micro-weights (floor(sqrt(n)*1e6))
      // and integer division, per-doc keep is a 16-bit md5 bucket compare
      // — deterministic, engine-exact, cluster-size invariant. Plan: one
      // tiny source-count shuffle, a broadcast 20-row threshold join,
      // one md5 per doc. (Long arithmetic holds to ~1e9 docs/source;
      // beyond that lift the products to DECIMAL(38,0).)
      val counts = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n"))
      val weights = counts.withColumn("w",
        floor(sqrt(col("n").cast("double")) * 1e6).cast("long"))
      val totals = weights.agg(sum(col("w")).as("sw"),
        expr("sum(n) div 2").as("budget"))
      val thresh = weights.crossJoin(broadcast(totals))
        .select(col("source"),
          least(lit(65536L),
            expr("(budget * w div sw) * 65536 div n")).as("th"))
      t(s, dir, "documents")
        .join(broadcast(thresh), "source")
        .filter(conv(substring(md5(concat(lit("mix:"),
            col("doc_id").cast("string"))), 1, 4), 16, 10)
          .cast("long") < col("th"))
        .select("doc_id", "source")
    }),
      """WITH c AS (SELECT source, count(*)::BIGINT AS n
        |FROM documents GROUP BY 1),
        |w AS (SELECT source, n,
        |floor(sqrt(n::DOUBLE) * 1e6)::BIGINT AS w FROM c),
        |t AS (SELECT sum(w)::BIGINT AS sw, (sum(n) // 2)::BIGINT AS budget
        |FROM w),
        |th AS (SELECT source,
        |least(65536, ((budget * w // sw) * 65536) // n)::BIGINT AS th
        |FROM w, t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN th ON th.source = d.source
        |WHERE ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 4))::BIGINT
        |  < th.th""".stripMargin),
    QueryDef("dd28_bloom_incremental", ((s, dir) => {
      // bloom-gated incremental exact dedup: every 5th doc plays the NEW
      // batch; a corpus-hash bloom filter prunes the batch map-side before
      // the exact join (no false negatives, fp tail re-verified), so the
      // join shuffle carries only probable duplicates — output identical
      // to the unpruned exact join, and the oracle checks exactly that
      val docs = t(s, dir, "documents")
      Dedup.bloomIncrementalDedup(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", expectedItems = 1L << 16, fpp = 0.01)
    }),
      """WITH cm AS (SELECT md5(text) AS fp, min(doc_id) AS match_id
        |FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
        |b AS (SELECT doc_id, md5(text) AS fp FROM documents
        |WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, cm.match_id, cm.match_id IS NOT NULL AS is_dup
        |FROM b LEFT JOIN cm USING (fp)""".stripMargin)
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{NumericFunctions, TextFunctions}

/** Entity resolution: blocking-based candidate generation + fuzzy verify +
  * transitive closure — the record-linkage pipeline that collapses name
  * variants ("old ring" vs "cold ring" under one brand) into a single
  * canonical entity before analytics.
  *
  * Scale design. The naive pair generator joins on a fixed-cardinality
  * block key (brand alone: ~25 values), so block size grows linearly with
  * the corpus and candidate pairs quadratically — at 100x the data that is
  * ~10^4x the Jaro-Winkler evaluations. The generator here is a *token
  * inverted index* (Hernandez-Stolfo blocking family; same candidate shape
  * as PPJoin's prefix index, dd30): explode the name into tokens, equi-join
  * on (block, token), verify survivors with the codegen'd Jaro-Winkler, and
  * de-duplicate pairs that met on more than one token AFTER the cheap
  * verify filter so the distinct shuffle carries only survivors. Candidate
  * volume is proportional to true-match volume (measured ~11x verify ratio,
  * scale-invariant from sf0.01 to sf0.1, vs ~49x for brand-only blocking),
  * and on corpora with a growing name vocabulary the per-(block, token)
  * bucket stays bounded where the brand-only bucket grows with N.
  *
  * Recall contract: a candidate must share the block key AND at least one
  * whole token. Jaro-Winkler >= 0.9 does not *prove* a shared token in
  * general, but on every fixture it is lossless — the correctness oracle
  * deliberately stays exhaustive-within-block, so the hash match proves the
  * filter dropped nothing (the dd30 discipline); EntityResolutionSpec
  * re-asserts parity against the exhaustive generator at small sf.
  *
  * Reference behavior: osarchiver has no fuzzy matching; this is part of
  * the SURVEY.md 2.8 training-data surface (cf. `osarchiver/db/db.py`
  * table-election exact matching for the contrast).
  */
object EntityResolution {

  /** Candidate pairs sharing (blockCol, one name token), verified with
    * Jaro-Winkler >= threshold (compared on the 4-decimal FLOORED score so
    * the cut is engine-exact). Output: pk_a < pk_b, name_a, name_b, jw. */
  def tokenBlockedPairs(records: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val tk = records.select(col(keyCol), col(nameCol), col(blockCol),
      explode(split(col(nameCol), " ")).as("tok"))
    val a = tk.select(col(keyCol).as("pk_a"), col(nameCol).as("name_a"),
      col(blockCol).as("block"), col("tok"))
    val b = tk.select(col(keyCol).as("pk_b"), col(nameCol).as("name_b"),
      col(blockCol).as("block"), col("tok"))
    // PlanPersist (r11): the verified pair set is the shared heavy pass
    // of this family — er1's cluster resolution and er12's threshold
    // sweep consume the SAME (records, threshold) pairs, and without the
    // memo each re-paid the blocked join + JW verify (the scoredDistinct
    // precedent one flight up). Key includes the plan hash, so different
    // corpora/thresholds never collide.
    PlanPersist("er.tokenBlockedPairs." + threshold,
      a.join(b, Seq("block", "tok"))
        .filter(col("pk_a") < col("pk_b"))
        .withColumn("jw", NumericFunctions.fround(
          TextFunctions.jaroWinkler(col("name_a"), col("name_b")), 4))
        .filter(col("jw") >= threshold)
        // distinct AFTER the verify filter: pairs sharing k tokens appear
        // k times in the join, but only survivors reach the distinct
        // shuffle
        .select(col("pk_a"), col("pk_b"), col("name_a"), col("name_b"),
          col("jw"))
        .distinct())
  }

  /** Exhaustive-within-block generator — the quadratic baseline the
    * token-blocked path is proven lossless against (spec + oracle). */
  def blockedPairsExhaustive(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, threshold: Double): DataFrame = {
    val a = records.select(col(keyCol).as("pk_a"), col(nameCol).as("name_a"),
      col(blockCol).as("block"))
    val b = records.select(col(keyCol).as("pk_b"), col(nameCol).as("name_b"),
      col(blockCol).as("block"))
    a.join(b, "block").filter(col("pk_a") < col("pk_b"))
      .withColumn("jw", NumericFunctions.fround(
        TextFunctions.jaroWinkler(col("name_a"), col("name_b")), 4))
      .filter(col("jw") >= threshold)
      .select(col("pk_a"), col("pk_b"), col("name_a"), col("name_b"),
        col("jw"))
  }

  /** Fellegi-Sunter pairwise record linkage (Fellegi & Sunter 1969, "A
    * Theory for Record Linkage"): score candidate pairs with per-feature
    * agreement/disagreement log-likelihood weights and keep pairs above a
    * decision threshold. Features: fuzzy name (Jaro-Winkler >= 0.9 on the
    * 4-dp floored score), numeric tolerance on a size-like column, exact
    * match on a category column, numeric tolerance on a price-like column.
    *
    * Weights are precomputed log2(m/u) / log2((1-m)/(1-u)) values in
    * integer DECI-units so the score sum is integral (engine-exact; the
    * single double division by 10.0 happens once at output):
    * name +6.5/-4.3, size +2.0/-2.0, category +2.2/-3.0, price +2.0/-2.0;
    * threshold 6.0. Under these weights a match needs name agreement plus
    * at least two corroborating features — the name-dominant structure
    * real FS deployments converge to.
    *
    * Candidates come from the same token inverted index as
    * [[tokenBlockedPairs]] (the oracle stays exhaustive-within-block with
    * no candidate floor, proving the blocking lossless for the decision
    * rule). One candidate equi-join, codegen scoring, no all-pairs. */
  /** Token-blocked candidates with the FS feature vector and deci-unit
    * score, pre-decision. NOT pair-deduplicated: callers dedupe after
    * whatever filter bounds their output. */
  private[operators] def fellegiSunterScored(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, sizeTol: Int, priceTol: Double): DataFrame = {
    val tk = records.select(col(keyCol), col(nameCol), col(blockCol),
      col(sizeCol), col(catCol), col(priceCol),
      explode(split(col(nameCol), " ")).as("tok"))
    def side(s: String) = tk.select(col(keyCol).as(s"pk_$s"),
      col(nameCol).as(s"name_$s"), col(blockCol).as("block"),
      col(sizeCol).as(s"size_$s"), col(catCol).as(s"cat_$s"),
      col(priceCol).as(s"price_$s"), col("tok"))
    side("a").join(side("b"), Seq("block", "tok"))
      .filter(col("pk_a") < col("pk_b"))
      // jw_u: the floored 1e4-units as a LONG — aggregates sum these
      // exactly instead of re-extracting ints from a double (where a
      // truncating vs rounding cast would diverge across engines)
      .withColumn("jw_u",
        floor(TextFunctions.jaroWinkler(col("name_a"), col("name_b"))
          * 10000.0).cast("long"))
      .withColumn("jw", col("jw_u") / lit(10000.0))
      .withColumn("f_size",
        when(abs(col("size_a") - col("size_b")) <= sizeTol, 1).otherwise(0))
      .withColumn("f_cat",
        when(col("cat_a") === col("cat_b"), 1).otherwise(0))
      .withColumn("f_price",
        when(abs(col("price_a") - col("price_b")) <= priceTol, 1)
          .otherwise(0))
      .withColumn("fs_deci",
        when(col("jw") >= 0.9, 65).otherwise(-43)
          + when(col("f_size") === 1, 20).otherwise(-20)
          + when(col("f_cat") === 1, 22).otherwise(-30)
          + when(col("f_price") === 1, 20).otherwise(-20))
  }

  /** The DISTINCT scored candidate set — one row per candidate pair with
    * every column er2/er3/er6/er11 consume (jw_u, features, fs_deci,
    * min_df). All of a pair's multi-token join duplicates are
    * bit-identical in the scored columns (each is a pure function of the
    * pair's two records), so one grouping here replaces the per-view
    * distincts the published operators used to pay — ONE candidate
    * shuffle serves the whole family — and the same grouping carries
    * min(df) over the pair's shared blocking tokens for er11's tf
    * adjustment (r12: previously a full second candidate self-join).
    *
    * Memoized per (session, source plan, params) and persisted
    * MEMORY_AND_DISK: the bench/verify harness runs er2, er3 and er6 as
    * separate actions in one session, and without the memo each would
    * re-score the full candidate set. Cache lifetime: one [[Memo.store]]
    * entry per distinct (table, params) pair — pair-count-bounded, small
    * relative to the corpus; keyed by session identity so a stopped test
    * session can never poison the next. */
  private def scoredDistinct(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, sizeTol: Int, priceTol: Double): DataFrame = {
      Memo.frame("er.scored", records, Seq(keyCol, nameCol, blockCol,
          sizeCol, catCol, priceCol, sizeTol, priceTol).mkString("|")) {
        // token -> document frequency, folded INTO the shared pass (r12):
        // er11's tf adjustment needs the df of the pair's rarest shared
        // token, and computing it separately replayed the whole blocked
        // candidate self-join a second time. One row per DISTINCT name
        // token — a structured-name vocabulary, bounded far below the
        // record count, safe to broadcast (the er1 blocking index makes
        // the same bet).
        val tokDf = records
          .select(col(keyCol).as("k"),
            explode(split(col(nameCol), " ")).as("tok"))
          .distinct()
          .groupBy("tok").agg(count(lit(1)).as("df"))
        fellegiSunterScored(records, keyCol, nameCol, blockCol, sizeCol,
            catCol, priceCol, sizeTol, priceTol)
          .join(broadcast(tokDf), "tok")
          // every scored column is a pure function of the pair's two
          // records, so this groupBy collapses to EXACTLY one row per
          // candidate pair — the same rows (and the same one shuffle)
          // as the .distinct() it replaces — plus the pair's min df
          // over its shared blocking-join tokens
          .groupBy("pk_a", "pk_b", "jw_u", "f_size", "f_cat", "f_price",
            "fs_deci")
          .agg(min(col("df")).as("min_df"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    }

  def fellegiSunterMatches(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, sizeTol: Int = 2, priceTol: Double = 50.0): DataFrame =
    scoredDistinct(records, keyCol, nameCol, blockCol, sizeCol,
        catCol, priceCol, sizeTol, priceTol)
      .filter(col("fs_deci") >= 60)
      .select(col("pk_a"), col("pk_b"),
        (col("jw_u") / lit(10000.0)).as("jw"), col("f_size"),
        col("f_cat"), col("f_price"),
        (col("fs_deci") / lit(10.0)).as("fs_score"))

  /** The full Fellegi-Sunter three-band decision summary: every candidate
    * pair lands in `match` (score >= 6.0), `possible` (clerical-review
    * band, 0 <= score < 6.0), or `non_match` (score < 0), aggregated to
    * one row per band with the pair count and mean Jaro-Winkler (floored
    * 4-dp, computed over integer 1e4-units so the mean is engine-exact).
    * The blocking is part of the audited contract here — band populations
    * are populations OF THE CANDIDATE SET, so the oracle reproduces the
    * same token-blocked generator rather than an exhaustive join. */
  def fellegiSunterBands(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, sizeTol: Int = 2, priceTol: Double = 50.0): DataFrame =
    scoredDistinct(records, keyCol, nameCol, blockCol, sizeCol,
        catCol, priceCol, sizeTol, priceTol)
      // already one row per candidate pair (the shared distinct)
      .select(col("pk_a"), col("pk_b"), col("jw_u"), col("fs_deci"))
      .withColumn("band",
        when(col("fs_deci") >= 60, "match")
          .when(col("fs_deci") >= 0, "possible")
          .otherwise("non_match"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        (floor(sum(col("jw_u")).cast("double") /
          count(lit(1))) / 10000.0).as("avg_jw"))

  /** Budgeted clerical-review queue over the `possible` band — the
    * operational tail of the Fellegi-Sunter decision model: pairs the
    * rule can neither auto-match nor auto-reject go to HUMAN review, and
    * review capacity is finite, so each block gets a quota of its
    * most-promising pairs (highest score first; jw, then keys break
    * ties, so the queue is total-ordered and reproducible across runs —
    * reviewers see a stable worklist).
    *
    * Scale shape: the shared scored-candidate frame ([[scoredDistinct]],
    * one scoring pass serving er2/er3/er6/er9 and this queue) filtered
    * to the band, one equi-join back to the narrow (key, block)
    * projection (broadcastable), and a rank-limited window per block —
    * Spark >= 3.5 plants a WindowGroupLimit partial top-k BELOW the
    * exchange, so only ~quota rows per block per mapper ever shuffle.
    * Output: (block, rank, pk_a, pk_b, jw, fs_score), rank 1..quota. */
  def reviewQueue(records: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, sizeCol: String, catCol: String, priceCol: String,
      sizeTol: Int = 2, priceTol: Double = 50.0,
      quotaPerBlock: Int = 5): DataFrame = {
    require(quotaPerBlock >= 1, "review quota >= 1")
    val possible = scoredDistinct(records, keyCol, nameCol, blockCol,
        sizeCol, catCol, priceCol, sizeTol, priceTol)
      .filter(col("fs_deci") >= 0 && col("fs_deci") < 60)
    val blocks = records.select(col(keyCol).as("pk_a"),
      col(blockCol).as("block"))
    possible.join(blocks, "pk_a")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("block")
          .orderBy(desc("fs_deci"), desc("jw_u"), col("pk_a"),
            col("pk_b"))))
      .filter(col("rank") <= quotaPerBlock)
      .select(col("block"), col("rank"), col("pk_a"), col("pk_b"),
        (col("jw_u") / lit(10000.0)).as("jw"),
        (col("fs_deci") / lit(10.0)).as("fs_score"))
  }

  /** Term-frequency-adjusted Fellegi-Sunter matching — the classic
    * refinement (Fellegi & Sunter 1969 §3.3; the tf-adjustment of
    * modern linkage engines): agreement on a RARE name token is far
    * stronger evidence than agreement on a ubiquitous one, so the name
    * weight earns a bonus of floor(10 * log2(N / df)) deci-units, where
    * df is the document frequency of the rarest token the pair shares
    * (min over its blocking-join tokens — the most evidential shared
    * term, deterministic). The bonus applies only when the name actually
    * agrees (jw >= 0.9); disagreeing names get no rarity rescue.
    *
    * Output: candidate pairs whose ADJUSTED score crosses the match
    * threshold — (pk_a, pk_b, min_df, fs_deci, fs_tf_deci), i.e. er2's
    * decision plus the borderline pairs a rare shared term rescues.
    *
    * Scale shape: everything rides the MEMOIZED pair-grain
    * [[scoredDistinct]] frame er2/er3/er6/er9/er10 already paid for —
    * the min-df reduce is folded into that frame's one grouping (the
    * vocabulary-bounded token-df map broadcast onto the candidate join
    * before it collapses to pair grain) — plus a 1-row corpus-count
    * broadcast. Candidate-bounded like everything else in this family. */
  def tfAdjustedMatches(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, sizeTol: Int = 2,
      priceTol: Double = 50.0): DataFrame = {
    val n = records.select(count(lit(1)).as("n"))
    // min_df rides the shared scored frame (r12): the old keys-only
    // replay of the er2 candidate join — a second full (block, tok)
    // blocked self-join plus a pair-grain join back — is gone;
    // scoredDistinct's grouping carries min(df over the pair's shared
    // blocking-join tokens) computed once for the whole family
    scoredDistinct(records, keyCol, nameCol, blockCol, sizeCol,
        catCol, priceCol, sizeTol, priceTol)
      .crossJoin(broadcast(n))
      // ln(x)/ln(2), not log2(x): an engine's std::log2 can differ from
      // the ln ratio in the last ulp exactly at power-of-two boundaries,
      // where the floor would flip; the ln form is the same expression
      // on both engines (house ln-floored discipline)
      .withColumn("adj",
        when(col("jw_u") >= 9000,
          floor(log(col("n").cast("double") /
            col("min_df").cast("double")) / log(lit(2.0)) * 10)
            .cast("long"))
          .otherwise(0L))
      .select(col("pk_a"), col("pk_b"), col("min_df"), col("fs_deci"),
        (col("fs_deci") + col("adj")).as("fs_tf_deci"))
      .filter(col("fs_tf_deci") >= 60)
  }

  /** Blocking-scheme evaluation — the standard record-linkage quality
    * pair (Christen 2012, "Data Matching", ch. 7): REDUCTION RATIO, the
    * fraction of the exhaustive within-block comparison space the token
    * index never generates, and PAIR COMPLETENESS, the fraction of true
    * matches (exhaustive JW >= threshold) the candidate set retains.
    * RR near 1 with PC = 1 is the certificate a blocking key must earn
    * before production use.
    *
    * The exhaustive space is COUNTED, never generated (sum of
    * c*(c-1)/2 over block sizes — one aggregation); only the true-match
    * denominator pays a quadratic within-block join, which is why this
    * is an offline evaluation operator that runs on a SAMPLE BY
    * CONSTRUCTION: `sampleHexCut` is the mandatory md5-prefix cut
    * (the dd8/s23 [[Sampling.hashPrefixSample]] convention — keep rows
    * whose 2-hex-char md5(key) prefix sorts below the cut, so "80" is a
    * deterministic ~50% sample and "zz" — above every hex digram — is
    * the documented full-corpus escape for small fixtures/oracles).
    * The quadratic form exists to certify the fast path, not to run in
    * production (the dd30/er2 oracle-baseline discipline).
    * Integer ppm outputs — engine-exact. Zero-denominator convention:
    * both ratios divide by greatest(denominator, 1), so an all-singleton
    * block layout reports rr_ppm = 0 and a zero-true-match sample
    * reports pc_ppm = 0 instead of NULL (or an ANSI-mode throw).
    *
    * Output one row: (n_exhaustive, n_candidates, n_true_matches,
    * n_matches_found, rr_ppm, pc_ppm).
    *
    * `tokenKey` generalizes the inverted-index key: identity certifies
    * exact token blocking (er7); `soundex(_)` certifies PHONETIC token
    * blocking (er13), where typo'd/variant spellings of a token still
    * land in the same bucket — RR drops (coarser buckets generate more
    * candidates) in exchange for PC that exact tokens can miss. */
  def blockingQuality(records: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, threshold: Double,
      sampleHexCut: String,
      tokenKey: Column => Column = identity): DataFrame = {
    require(sampleHexCut.nonEmpty,
      "sampleHexCut is mandatory: the true-match denominator is " +
        "quadratic within blocks; pass a hash-prefix cut (e.g. \"80\" " +
        "for ~50%) or \"zz\" to explicitly accept the full corpus")
    val sampled = Sampling.hashPrefixSample(records, keyCol, sampleHexCut)
    val base = sampled.select(col(keyCol).as("pk"),
      col(nameCol).as("name"), col(blockCol).as("block"))
    // coalesce: global sums over an empty set are NULL, and a degenerate
    // sample (no records / no candidates) must report exact zeros
    val exhaustive = base.groupBy("block").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
        .as("n_exhaustive"))
    val tk = base.select(col("pk"), col("name"), col("block"),
        explode(split(col("name"), " ")).as("tok0"))
      .select(col("pk"), col("name"), col("block"),
        tokenKey(col("tok0")).as("tok"))
    val cand = tk.as("a").join(tk.as("b"), Seq("block", "tok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("pk_a"), col("b.pk").as("pk_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("is_match",
        when(NumericFunctions.fround(TextFunctions.jaroWinkler(
          col("name_a"), col("name_b")), 4) >= threshold, 1).otherwise(0))
      .agg(count(lit(1)).as("n_candidates"),
        coalesce(sum(col("is_match")), lit(0L)).cast("long")
          .as("n_matches_found"))
    val trueM = blockedPairsExhaustive(sampled, keyCol, nameCol, blockCol,
        threshold)
      .agg(count(lit(1)).as("n_true_matches"))
    // three 1-row aggregates composed by broadcast crosses (benign loops)
    exhaustive.crossJoin(broadcast(cand)).crossJoin(broadcast(trueM))
      .select(col("n_exhaustive"), col("n_candidates"),
        col("n_true_matches"), col("n_matches_found"),
        expr("(n_exhaustive - n_candidates) * 1000000" +
          " div greatest(n_exhaustive, 1)").as("rr_ppm"),
        expr("n_matches_found * 1000000 div greatest(n_true_matches, 1)")
          .as("pc_ppm"))
  }

  /** One classification-EM refresh of the Fellegi-Sunter m/u parameters
    * from the candidate set itself (the ECM variant: the E-step is the
    * CURRENT deci-weight decision rule as a hard assignment, the M-step
    * re-estimates per-feature agreement rates with add-one smoothing) —
    * the update a production linkage pipeline runs per corpus snapshot so
    * the er2 weights track drift instead of staying frozen constants.
    *
    * Per feature: m = P(agree | match-classified), u = P(agree |
    * non-match-classified), both with add-one smoothing so a unanimous
    * feature never yields log(0); refreshed weights are the FS
    * log-likelihood ratios floor(log2(m/u) * 10) (agreement) and
    * floor(log2((1-m)/(1-u)) * 10) (disagreement) in the same deci-units
    * er2 consumes.
    *
    * Determinism discipline: class and agreement counts are exact
    * integers from ONE aggregation over the distinct candidate set; m/u
    * are published as exact integer-division ppm; the single float step
    * per weight is one ln of a ratio of exact integer products, floored
    * to deci-units (the dd37 floor(ln*1e6) precedent). Scale shape: the
    * candidate join is the token inverted index, the M-step is one
    * map-side-combined aggregation to ONE row, and the feature unpivot
    * explodes that row — nothing downstream of the join exceeds constant
    * size.
    *
    * Output: (feature, m_ppm, u_ppm, w_agree_deci, w_disagree_deci). */
  def fellegiSunterEmWeights(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, sizeTol: Int = 2, priceTol: Double = 50.0): DataFrame = {
    val feats = Seq("name", "size", "cat", "price")
    val scored = scoredDistinct(records, keyCol, nameCol, blockCol,
        sizeCol, catCol, priceCol, sizeTol, priceTol)
      .withColumn("f_name", when(col("jw_u") >= 9000, 1).otherwise(0))
      .select(col("pk_a"), col("pk_b"), col("f_name"), col("f_size"),
        col("f_cat"), col("f_price"), col("fs_deci"))
      .withColumn("is_m", when(col("fs_deci") >= 60, 1).otherwise(0))
    val aggExprs =
      sum(col("is_m")).cast("long").as("n_m") +:
      sum(lit(1) - col("is_m")).cast("long").as("n_u") +:
      feats.flatMap(f => Seq(
        sum(when(col("is_m") === 1, col(s"f_$f")).otherwise(0))
          .cast("long").as(s"am_$f"),
        sum(when(col("is_m") === 0, col(s"f_$f")).otherwise(0))
          .cast("long").as(s"au_$f")))
    val counts = scored.agg(aggExprs.head, aggExprs.tail: _*)
    // unpivot the one counts row — one struct per feature, single pass
    val longF = counts.select(explode(array(feats.map(f =>
        struct(lit(f).as("feature"), col(s"am_$f").as("am"),
          col(s"au_$f").as("au"), col("n_m"), col("n_u"))): _*)).as("x"))
      .select("x.*")
    longF.select(col("feature"),
      expr("((am + 1) * 1000000) div (n_m + 2)").as("m_ppm"),
      expr("((au + 1) * 1000000) div (n_u + 2)").as("u_ppm"),
      floor(log(((col("am") + 1) * (col("n_u") + 2)).cast("double") /
          ((col("n_m") + 2) * (col("au") + 1)).cast("double")) /
        log(lit(2.0)) * 10.0).cast("long").as("w_agree_deci"),
      floor(log(((col("n_m") + 1 - col("am")) * (col("n_u") + 2))
          .cast("double") /
          ((col("n_m") + 2) * (col("n_u") + 1 - col("au"))).cast("double")) /
        log(lit(2.0)) * 10.0).cast("long").as("w_disagree_deci"))
  }

  /** Iterated Fellegi-Sunter classification-EM — the full ECM loop er6
    * runs ONE refresh of: each step re-estimates the smoothed m/u rates
    * under the CURRENT hard assignment, publishes refreshed deci-weights,
    * and the NEXT step's assignment is the natural log-likelihood rule in
    * the refreshed weight space (pair is a match when its summed
    * agreement/disagreement weights exceed 0) — so the decision boundary
    * itself moves between steps, which is what makes it EM rather than a
    * one-shot re-estimate. Step 1's assignment seeds from er2's initial
    * deci-rule (fs_deci >= 60), exactly er6's E-step.
    *
    * Determinism: the candidate feature frame is the shared
    * [[scoredDistinct]] (one scoring pass, persisted); every step is one
    * map-side-combined aggregation to ONE counts row; rates are integer
    * ppm; each weight pays one ln floored to deci-units (the er6/dd37
    * precedent); assignments compare exact integer weight sums. Output:
    * the trajectory (step, feature, m_ppm, u_ppm, w_agree_deci,
    * w_disagree_deci, n_m) for steps 1..`steps` — n_m is the match-class
    * size under the step's INPUT assignment, the convergence signal. */
  def fellegiSunterEmIterated(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, steps: Int = 3, sizeTol: Int = 2,
      priceTol: Double = 50.0): DataFrame = {
    require(steps >= 1 && steps <= 8, "1 <= steps <= 8 (unrolled plan)")
    val feats = Seq("name", "size", "cat", "price")
    val base = scoredDistinct(records, keyCol, nameCol, blockCol,
        sizeCol, catCol, priceCol, sizeTol, priceTol)
      .withColumn("f_name", when(col("jw_u") >= 9000, 1).otherwise(0))
      .select(col("f_name"), col("f_size"), col("f_cat"), col("f_price"),
        col("fs_deci"))
    def stepFrame(assigned: DataFrame, k: Int): DataFrame = {
      val aggExprs =
        sum(col("is_m")).cast("long").as("n_m") +:
        sum(lit(1) - col("is_m")).cast("long").as("n_u") +:
        feats.flatMap(f => Seq(
          sum(when(col("is_m") === 1, col(s"f_$f")).otherwise(0))
            .cast("long").as(s"am_$f"),
          sum(when(col("is_m") === 0, col(s"f_$f")).otherwise(0))
            .cast("long").as(s"au_$f")))
      val counts = assigned.agg(aggExprs.head, aggExprs.tail: _*)
      counts.select(explode(array(feats.map(f =>
          struct(lit(f).as("feature"), col(s"am_$f").as("am"),
            col(s"au_$f").as("au"), col("n_m"), col("n_u"))): _*)).as("x"))
        .select(lit(k).as("step"), col("x.feature"),
          expr("((x.am + 1) * 1000000) div (x.n_m + 2)").as("m_ppm"),
          expr("((x.au + 1) * 1000000) div (x.n_u + 2)").as("u_ppm"),
          floor(log(((col("x.am") + 1) * (col("x.n_u") + 2)).cast("double") /
              ((col("x.n_m") + 2) * (col("x.au") + 1)).cast("double")) /
            log(lit(2.0)) * 10.0).cast("long").as("w_agree_deci"),
          floor(log(((col("x.n_m") + 1 - col("x.am")) * (col("x.n_u") + 2))
              .cast("double") /
              ((col("x.n_m") + 2) * (col("x.n_u") + 1 - col("x.au")))
                .cast("double")) /
            log(lit(2.0)) * 10.0).cast("long").as("w_disagree_deci"),
          col("x.n_m"))
    }
    var assigned = base.withColumn("is_m",
      when(col("fs_deci") >= 60, 1).otherwise(0))
    var out: Option[DataFrame] = None
    for (k <- 1 to steps) {
      val w = stepFrame(assigned, k)
      out = Some(out.map(_.unionAll(w)).getOrElse(w))
      if (k < steps) {
        // E-step under the refreshed weights: per-feature agree/disagree
        // deci-weights summed exactly; match iff the total exceeds 0
        val wWide = w.groupBy("step").pivot("feature", feats)
          .agg(first(struct(col("w_agree_deci"), col("w_disagree_deci"))))
        assigned = base.crossJoin(broadcast(wWide))
          .withColumn("score_deci", feats.map(f =>
            when(col(s"f_$f") === 1, col(s"$f.w_agree_deci"))
              .otherwise(col(s"$f.w_disagree_deci"))).reduce(_ + _))
          .withColumn("is_m", when(col("score_deci") > 0, 1).otherwise(0))
      }
    }
    out.get
  }

  /** Incremental linkage — the continuous-ingest shape of entity
    * resolution (the dd15/dd28 discipline applied to entities): a NEW
    * batch of records links against the EXISTING resolved corpus without
    * ever re-running corpus x corpus. Candidates are the token inverted
    * index joined batch-vs-corpus only; each batch record that matches
    * (Jaro-Winkler >= threshold) adopts the smallest matched corpus
    * entity id, the rest found NEW entities under their own key. Within
    * the batch itself no pairs are drawn — production incremental ER
    * defers intra-batch merging to the next full resolution pass, keeping
    * the increment's cost proportional to the batch.
    *
    * Output: (keyCol, entity_id, is_new). */
  def linkIncrement(corpus: DataFrame, corpusEntities: DataFrame,
      batch: DataFrame, keyCol: String, nameCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val ctk = corpus.select(col(keyCol).as("c_key"),
      col(nameCol).as("c_name"), col(blockCol).as("block"),
      explode(split(col(nameCol), " ")).as("tok"))
    val btk = batch.select(col(keyCol).as("b_key"),
      col(nameCol).as("b_name"), col(blockCol).as("block"),
      explode(split(col(nameCol), " ")).as("tok"))
    val matches = btk.join(ctk, Seq("block", "tok"))
      .withColumn("jw", NumericFunctions.fround(
        TextFunctions.jaroWinkler(col("b_name"), col("c_name")), 4))
      .filter(col("jw") >= threshold)
      .join(corpusEntities.select(col(keyCol).as("c_key"),
        col("entity_id")), "c_key")
      .groupBy(col("b_key").as(keyCol))
      .agg(min(col("entity_id")).as("matched_entity"))
    batch.select(col(keyCol))
      .join(matches, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("matched_entity"), col(keyCol)).as("entity_id"),
        col("matched_entity").isNull.as("is_new"))
  }

  /** Golden-record survivorship (the MDM step after [[resolveEntities]]):
    * per entity cluster, the canonical attribute values a master-data
    * system would publish — the name by highest member count with ties to
    * the lexicographically smallest (mode-then-min, the standard
    * most-frequent-value survivorship rule), numeric attributes as
    * min/max ranges (no float arithmetic anywhere, so the record is
    * engine- and partitioning-exact).
    *
    * Scale shape: one groupBy for the name histogram, a per-entity window
    * over name VARIANTS (bounded by in-cluster name diversity, not corpus
    * size), one groupBy for the ranges; the canonical-name join keys on
    * entity_id. */
  def goldenRecords(records: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, sizeCol: String, threshold: Double): DataFrame = {
    val ent = resolveEntities(records, keyCol, nameCol, blockCol, threshold)
      .select(col(keyCol), col("entity_id"))
    val joined = records.join(ent, keyCol)
    val nameCounts = joined.groupBy(col("entity_id"), col(nameCol))
      .agg(count(lit(1)).as("c"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy("entity_id").orderBy(col("c").desc, col(nameCol))
    val canon = nameCounts.withColumn("rn", row_number().over(wn))
      .filter(col("rn") === 1)
      .select(col("entity_id"), col(nameCol).as("canon_name"))
    joined.groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"),
        min(col(sizeCol)).as("min_size"), max(col(sizeCol)).as("max_size"))
      .join(canon, "entity_id")
      .select(col("entity_id"), col("n_members"), col("canon_name"),
        col("min_size"), col("max_size"))
  }

  /** Match pairs -> connected components -> one canonical entity id (min
    * member key) per real-world entity, singletons included, plus the
    * entity size. Cluster resolution reuses the dedup CC machinery (driver
    * union-find when small, distributed star contraction at scale). */
  /** Cluster-quality audit — the transitive-closure overreach detector
    * (the "hairball" review queue of an MDM deployment): connected
    * components glue a-b and b-c into one entity even when a-c is far
    * below the match bar, so per multi-member entity this reports the
    * exact pairwise Jaro-Winkler floor/mean (integer 1e4-units) and
    * flags clusters whose WEAKEST internal pair is below the threshold
    * that admitted its edges.
    *
    * Scale shape: the within-entity pair join is quadratic per cluster,
    * so the audit is bounded BY CONSTRUCTION to entities of size <=
    * `maxAuditSize` (oversize clusters are a resolution failure to fix,
    * not to audit pairwise; they are excluded here and visible in er1's
    * size column). One entity-keyed self-join + one hash aggregation.
    * Output: (entity_id, n_members, n_pairs, min_jw_u, mean_jw_u, weak). */
  def clusterAudit(records: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, threshold: Double, maxAuditSize: Int = 64): DataFrame = {
    require(maxAuditSize >= 2)
    val ent = resolveEntities(records, keyCol, nameCol, blockCol, threshold)
      .filter(col("entity_size") >= 2 && col("entity_size") <= maxAuditSize)
      .join(records.select(col(keyCol), col(nameCol).as("name")), Seq(keyCol))
    val a = ent.select(col("entity_id"), col("entity_size"),
      col(keyCol).as("pk_a"), col("name").as("name_a"))
    val b = ent.select(col("entity_id"), col(keyCol).as("pk_b"),
      col("name").as("name_b"))
    a.join(b, Seq("entity_id")).filter(col("pk_a") < col("pk_b"))
      .withColumn("jw_u",
        floor(TextFunctions.jaroWinkler(col("name_a"), col("name_b"))
          * 10000.0).cast("long"))
      .groupBy("entity_id", "entity_size")
      .agg(count(lit(1)).as("n_pairs"), min(col("jw_u")).as("min_jw_u"),
        expr("sum(jw_u) div count(1)").as("mean_jw_u"))
      .select(col("entity_id"), col("entity_size").as("n_members"),
        col("n_pairs"), col("min_jw_u"), col("mean_jw_u"),
        (col("min_jw_u") < lit(math.floor(threshold * 10000.0).toLong))
          .as("weak"))
  }

  /** Memoized per (session, projected source plan, params) — the
    * [[scoredDistinct]] discipline one level up: er1 (the clustering
    * itself), er4 (golden records) and er8 (cluster audit) all consume
    * the same entity assignment in one bench/verify session, and
    * without the memo each re-pays blocking + scoring + the full
    * connected-components fixpoint. Keyed on the OPTIMIZED plan of the
    * (key, name, block) projection so callers that pass wider frames of
    * the same table still share; the assignment frame is record-sized
    * and persists MEMORY_AND_DISK (spills, never OOMs), dying with its
    * session. */
  def resolveEntities(records: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val proj = records.select(col(keyCol), col(nameCol), col(blockCol))
    Memo.frame("er.entities", proj,
        Seq(keyCol, nameCol, blockCol, threshold).mkString("|"),
        optimized = true) {
      resolveEntitiesUncached(proj, keyCol, nameCol, blockCol, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  private def resolveEntitiesUncached(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, threshold: Double): DataFrame = {
    val pairs = tokenBlockedPairs(records, keyCol, nameCol, blockCol,
        threshold)
      .select(col("pk_a").as("doc_a"), col("pk_b").as("doc_b"))
    val cc = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as(keyCol), col("cluster_id"))
    val ent = records.select(keyCol)
      .join(cc, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("cluster_id"), col(keyCol)).as("entity_id"))
    // one exchange on entity_id instead of groupBy + join-back: at corpus
    // scale the size table is entity-cardinality, so the join would be a
    // second full shuffle of the same data
    ent.withColumn("entity_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("entity_id")))
      .select(col(keyCol), col("entity_id"), col("entity_size"))
  }

  /** Cohen's kappa (1960) agreement between the two house matchers —
    * the multi-feature Fellegi-Sunter decision (fs_deci >= 60) and the
    * name-only Jaro-Winkler gate (jw_u >= jwThresholdU) — over the SAME
    * blocked candidate set: how much do they agree BEYOND what their
    * marginal match rates would produce by chance? Near-1 kappa says
    * the extra FS features are redundant with the name; low kappa says
    * they genuinely change decisions (and the disagreement cells n_fs_
    * only / n_jw_only are exactly the pairs worth clerical review).
    *
    * Integer-exact floored ppm: po = agreement share, pe = chance
    * agreement from the 2x2 marginals (single DECIMAL(38,0) division —
    * n^2 overflows BIGINT at real candidate volumes),
    * kappa = (po - pe) * 1e6 div (1e6 - pe). Negative kappa survives
    * engine parity (Spark div and DuckDB // both truncate toward zero).
    * Rides the memoized er2/er3/er6 scored frame — no extra scoring
    * pass. Output 1 row: (n_pairs, n_both, n_fs_only, n_jw_only,
    * n_neither, po_ppm, pe_ppm, kappa_ppm). */
  def matcherAgreement(records: DataFrame, keyCol: String,
      nameCol: String, blockCol: String, sizeCol: String, catCol: String,
      priceCol: String, jwThresholdU: Long = 9200L,
      sizeTol: Int = 2, priceTol: Double = 50.0): DataFrame =
    scoredDistinct(records, keyCol, nameCol, blockCol, sizeCol, catCol,
        priceCol, sizeTol, priceTol)
      .select(when(col("fs_deci") >= 60, 1L).otherwise(0L).as("a"),
        when(col("jw_u") >= jwThresholdU, 1L).otherwise(0L).as("b"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(expr("a * b")), lit(0L)).as("n_both"),
        coalesce(sum(expr("a * (1 - b)")), lit(0L)).as("n_fs_only"),
        coalesce(sum(expr("(1 - a) * b")), lit(0L)).as("n_jw_only"),
        coalesce(sum(expr("(1 - a) * (1 - b)")), lit(0L)).as("n_neither"))
      .withColumn("po_ppm", expr(
        "(n_both + n_neither) * 1000000 div greatest(n_pairs, 1)"))
      .withColumn("pe_ppm", expr(
        """cast(((n_both + n_fs_only) *
          |    cast(n_both + n_jw_only as decimal(38,0))
          |  + (n_jw_only + n_neither) *
          |    cast(n_fs_only + n_neither as decimal(38,0))) * 1000000
          |  div greatest(cast(n_pairs as decimal(38,0)) * n_pairs, 1)
          |  as bigint)""".stripMargin))
      .withColumn("kappa_ppm", expr(
        "(po_ppm - pe_ppm) * 1000000 div greatest(1000000 - pe_ppm, 1)"))
}

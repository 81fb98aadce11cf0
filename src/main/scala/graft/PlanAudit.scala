package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: one markdown row per query with the plan
  * properties that matter at 100 TB — shuffle count, join strategies,
  * nested-loop/cartesian occurrences, whole-stage-codegen spans, and
  * whether any scan pushes filters. Complements PlanSpec (which GATES a
  * curated subset) with a whole-surface inventory the next round can
  * diff.
  *
  * The PRIMARY audit runs at the bench SF (sf0.1) so the recorded join
  * strategies reflect real input-size-driven broadcast decisions, not
  * toy-scale ones; every query is ALSO planned at the baseline SF
  * (sf0.001) and any join-mix difference (BHJ/SMJ/SHJ/loop counts) is
  * rendered as an explicit `flip vs <baseline>` note — a strategy that
  * flips between SFs is exactly the one to re-review before trusting
  * the plan shape at 1000x.
  *
  * Usage: graft.PlanAudit [sfDir] [outFile] [baselineSfDir]
  */
object PlanAudit {
  /** Loop-invariant expensive work spliced into a HOF lambda body — the
    * tx3 O(n^2) class (round 11): a Column val referencing e.g.
    * regexp_replace that is then used inside a transform() lambda gets
    * the whole expression tree spliced into the body, and lambdas
    * re-evaluate their body PER ELEMENT. The precise detector: an
    * expensive node under a LambdaFunction whose own subtree contains
    * NO lambda variable is loop-invariant — it computes the same value
    * for every element. (An expensive node OVER a lambda variable —
    * tx3's md5 per window, minhash's per-shingle hashes — is the
    * query's real per-element work and stays clean.) Unit-gated in
    * PlanSpec against both forms of tx3. */
  def lambdaSplices(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    val hazard: PartialFunction[Expression, String] = {
      case _: RegExpReplace => "regexp_replace"
      case _: RegExpExtract => "regexp_extract"
      case _: RegExpExtractAll => "regexp_extract_all"
      case _: StringSplit => "split"
      case _: Md5 => "md5"
      case _: Sha1 => "sha1"
      case _: Sha2 => "sha2"
      case _: Crc32 => "crc32"
      case _: XxHash64 => "xxhash64"
      case _: Murmur3Hash => "hash"
    }
    df.queryExecution.analyzed.flatMap(node =>
      node.expressions.flatMap(_.collect {
        case lf: LambdaFunction =>
          lf.function.collect {
            case e if hazard.isDefinedAt(e) && e.collectFirst {
                  case _: NamedLambdaVariable => ()
                }.isEmpty =>
              hazard(e)
          }
      }.flatten)).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val baseDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    // static plans: AQE wrappers hide codegen stage markers (and final
    // join choices) until execution; the audit reads the compile-time plan
    val spark = Main.localSession(Main.cpus(), aqe = false, logLevel = "ERROR")
    graft.functions.GraftExtensions.register(spark)
    // queries that EXECUTE during construction (streaming memory sinks):
    // their returned plan is a materialized-table scan, so plan columns
    // would describe the observation sink, not the operator
    val eager = Map(
      "st1_stream_hourly" -> "materialized streaming result; shapes asserted in streaming specs",
      "st2_sliding_window" -> "materialized streaming result; shapes asserted in streaming specs",
      "st3_stream_dedup" -> "materialized streaming result; shapes asserted in streaming specs",
      "st4_stateful_user_agg" -> "materialized streaming result; shapes asserted in streaming specs",
      "st5_stream_static_join" -> "materialized streaming result; shapes asserted in streaming specs",
      "st7_stream_left_outer" -> "materialized streaming result; shapes asserted in streaming specs",
      "st8_stream_cdc_apply" -> "foreachBatch-folded versioned state; algebra asserted in ChangeDataSpec",
      "st9_timer_sessions" -> "materialized streaming result; timer semantics pinned in TimerSessionsSpec",
      "st11_file_sink" -> "materialized parquet file-sink read-back; committed content oracle-checked",
      "st12_stream_novelty" -> "materialized streaming result; stream-static join gated in DocsStreamingSpec",
      "st13_stream_sketch" -> "foreachBatch-folded 256-cell sketch state; linearity + fold order proven in SketchesSpec",
      "st14_stream_kmv" -> "foreachBatch-folded per-day KMV/column-stats state; fold closure proven in SketchesSpec",
      "st15_stream_dim_refresh" -> "foreachBatch re-resolves the w13 _LATEST dimension per micro-batch; deterministic batch/version schedule oracle-checked end-to-end",
      "st16_stream_ledger" -> "foreachBatch-folded per-day (count, XOR) ledger state; fold closure proven in TableDiffSpec, final chain oracle-checked against the one-shot corpus chain",
      "w15_partition_overwrite" -> "materialized partitioned overwrite read-back; final content oracle-checked",
      "w16_snapshot_publish" -> "materialized multi-table snapshot read-back; content + FK consistency oracle-checked",
      "w17_compact_rewrite" -> "materialized partitioned rewrite read-back; content fingerprint oracle-checked",
      "ss13_mmr_topk" -> "driver-assembled k-row result; per-round pool scans audited in SimilaritySpec",
      "g4_label_prop" -> "re-rooted iterative result (persisted leaf); per-round shapes match kCore's, gated in GraphSpec",
      "g12_harmonic_centrality" -> "re-rooted per-seed BFS result (persisted leaf); per-round shape = one frontier equi-join + anti-join settle, gated in GraphSpec",
      "g13_betweenness" -> "re-rooted Brandes result (persisted leaf); 2*maxHops bounded rounds of node-keyed joins, gated in GraphSpec",
      "tx35_bpe_train" -> "per-merge-round vocabulary jobs materialize at construction (checkpointed 1-row merge frame, dd25 discipline); merge semantics pinned in TokenizerTrainSpec",
      "tx39_bpe_encode" -> "shares tx35's memoized training run (construction-time checkpoints); encode itself is one corpus shuffle + vocabulary-sized merge application, gated in TokenizerTrainSpec",
      "q92_markov_attribution" -> "driver-folded transition matrix, bounded <= (event types + 3)^2 BY CONSTRUCTION; the distributed journey/count plan is the q55 shape, fixed point spec-replicated")
    // queries whose loop joins are KNOWN-benign (curated, not inferred):
    // 1-row aggregate / tiny-centroid broadcast crosses, or a deliberate
    // brute-force baseline whose scale path exists separately. A loop in
    // any OTHER query is flagged for investigation.
    val benignLoops = Map(
      "dd5_embed_neardup" -> "deliberate brute force (scale path: dd5b)",
      "ss1_brute_topk" -> "deliberate brute force (scale paths: ss2/ss3/ss9)",
      "dd12_semantic_dedup" -> "tiny centroid-table broadcast cross",
      "ss3_ivf_topk" -> "tiny centroid-table broadcast cross",
      "tx14_bigram_lm" -> "1-row vocab-size broadcast cross",
      "tx23_bm25_topk" -> "1-row corpus-stats broadcast cross",
      "q29_funnel" -> "1-row stage-count broadcast crosses",
      "q62_timed_funnel" -> "1-row aggregate broadcast crosses",
      "dd21_lsh_quality" -> "1-row count broadcast crosses",
      "dd20_lsh_tuning" -> "1-row config-count broadcast crosses",
      "s13_join_overlap_est" -> "1-row sketch broadcast crosses",
      "tx8_corpus_stats" -> "1-row aggregate broadcast cross",
      "tx7b_quality_floor_approx" -> "1-row percentile broadcast cross",
      "q57_mad_outliers" -> "per-group stats broadcast (bounded by groups)",
      "dd10_mixture_sample" -> "1-row rate-table broadcast cross",
      "dd27_source_overlap" -> "per-source signature cross (bounded by |sources|^2 rows)",
      "dd14_curation_pipeline" -> "1-row stage-stat broadcast crosses",
      "dd15_incremental_dedup" -> "1-row batch-stat broadcast crosses",
      "dd16_minhash_estimate" -> "1-row estimator broadcast cross",
      "tx15_type_token" -> "1-row corpus-size broadcast cross",
      "q30_cohort_retention" -> "1-row cohort-base broadcast cross",
      "tx21_corpus_drift" -> "1-row totals broadcast cross",
      "s18_integrity_audit" -> "1-row check-aggregate broadcast crosses",
      "dd31_dsir_weight" -> "1-row smoothing-totals broadcast cross",
      "q94_exact_quantile" -> "1-row stats broadcast crosses (bisection levels; bucket-count exchanges are <= 4096 rows)",
      "q95_acf" -> "1-row mean/denominator broadcast crosses + <=64-row lag-frame cross; all post-bucketing work is calendar-bounded",
      "dq10_chi2" -> "margins cross bounded by |dom(a)| x |dom(b)| (structural zeros are real cells) + 1-row totals broadcast",
      "dq11_winsorize" -> "q94's 1-row bisection crosses + a 1-row clip-bounds broadcast over the final scan",
      "tx40_vocab_growth" -> "4-row quartile-cutoff broadcast crosses over the vocab and doc-id frames",
      "q96_assoc_rules" -> "1-row basket-total broadcast cross over the frequent-pair rule frame",
      "dd32_temperature_mix" -> "1-row budget-totals broadcast cross",
      "ss15_ivf_append" -> "tiny centroid-table + 1-row totals broadcast crosses",
      "ss16_hybrid_rrf" -> "legs: bm25 1-row stats cross + deliberate brute-force vector leg (scale paths: ss2/ss3)",
      "q72_gapfill" -> "1-row date-span broadcast cross (spine bounded by calendar days)",
      "q77_bootstrap_ci" -> "1-row quantile/overall broadcast crosses",
      "tx31_ccnet_buckets" -> "1-row tercile-cutoff + vocab-size broadcast crosses",
      "ss18_ivf_delete" -> "tiny centroid-table broadcast cross",
      "s23_coherent_sample" -> "1-row per-table count broadcast crosses",
      "ss19_probe_sweep" -> "recall sweep vs the deliberate brute baseline (bounded query batch)",
      "q85_scd2_enrich" -> "1-row horizon-cap broadcast cross",
      "dq2_archive_reconcile" -> "1-row per-side summary broadcast cross",
      "dd37_weighted_jaccard" -> "1-row corpus-count broadcast cross (idf denominator)",
      "er6_fs_em_weights" -> "1-row M-step counts row (smoothed rates unpivot)",
      "ss21_ivfpq_topk" -> "tiny centroid-table broadcast crosses (coarse assignment)",
      "dq3_benford" -> "1-row total broadcast cross",
      "tx34_domain_calibration" -> "1-row weight-state/stats broadcast crosses per GD step",
      "tx36_calibration_ece" -> "1-row weight-state/stats broadcast crosses (tx34 trainer + final-weight scoring)",
      "q87_cuped_readout" -> "1-row span/pooled-moments broadcast crosses",
      "er9_fs_em_iterated" -> "1-row refreshed-weight broadcast crosses per EM step",
      "pk8_budget_waterfill" -> "1-row per-round stats broadcast crosses on the per-source frame",
      "er7_blocking_quality" -> "1-row aggregate broadcast crosses (exhaustive count x candidate stats x true-match count)",
      "er13_phonetic_blocking" -> "er7's 1-row aggregate broadcast crosses (phonetic-key variant)",
      "dq4_psi_drift" -> "1-row baseline-range + totals broadcast crosses",
      "dq5_ks_drift" -> "1-row baseline-range + totals broadcast crosses",
      "g7_hits" -> "1-row L1-normalization total broadcast cross per half-iteration",
      "tx37_kn_bigram" -> "1-row distinct-bigram-total broadcast cross",
      "s25_stats_rollup" -> "1-row merged-stats/exact-count broadcast crosses",
      "tx38_decile_lift" -> "1-row weight-state/totals broadcast crosses (tx34 trainer + lift totals)",
      "dq6_column_profile" -> "1-row per-column totals broadcast crosses",
      "ss22_matryoshka_rerank" -> "bounded query-batch broadcast cross (prefix stage; shortlist bounds the rerank)",
      "q89_rfm_segments" -> "1-row per-metric quintile-total broadcast crosses",
      "er11_tf_adjusted" -> "1-row corpus-count broadcast cross (tf-adjustment denominator)",
      "dq9_error_pchart" -> "1-row pooled-totals broadcast cross (center line)",
      "q93_conversion_hazard" -> "1-row observation-end broadcast cross",
      "tx42_pmi_collocations" -> "1-row bigram-total broadcast cross (PMI denominator)",
      "q100_survival_km" -> "1-row observation-end broadcast cross; KM fold + join back are duration-domain-sized",
      "q108_mase_backtest" -> "1-row series-length broadcast cross (holdout split); everything past the monthly agg is calendar-sized",
      "q101_competing_risks" -> "1-row observation-end broadcast cross; AJ fold + join back are duration-domain-sized")
    case class Shape(xchg: Int, mix: JoinMix, wscg: Int, pushed: Boolean,
        splices: Seq[String])
    def shapeAt(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Shape = {
      val df = fn(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      Shape(
        "Exchange hashpartitioning".r.findAllIn(p).length,
        JoinMix.of(p),
        // codegen stages appear as "*(n)" operator prefixes in toString
        "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size,
        p.linesIterator.exists(l =>
          l.contains("PushedFilters: [") && !l.contains("PushedFilters: []")),
        lambdaSplices(df))
    }
    // Reviewed BHJ->SMJ flips (size-driven broadcast-threshold crossings
    // at the bigger SF). A reviewed flip is EXPECTED: the side that
    // stopped broadcasting is corpus-sized, so sort-merge is the correct
    // 100 TB strategy and the sf0.001 broadcast was the toy-scale
    // artifact. An UNREVIEWED flip renders loudly for investigation.
    val reviewedFlips = Map(
      "dd30_prefix_join" -> ("reviewed: prefix-shingle candidate frame " +
        "outgrows the broadcast threshold; SMJ is the corpus-scale " +
        "strategy"),
      "er11_tf_adjusted" -> ("reviewed: pair-keyed rare-token adjustment " +
        "frame is candidate-set-sized; SMJ correct at corpus scale"),
      "er5_incremental_link" -> ("reviewed: resolved-corpus sides are " +
        "record-count-sized; SMJ correct at corpus scale"),
      "q95_acf" -> ("reviewed: the lag self-join side is " +
        "calendar-bounded but stats-underestimated at static planning; " +
        "AQE re-broadcasts it at runtime, SMJ harmless on a bounded frame"),
      "g5_link_pred" -> ("reviewed (r11): dropping shingleSet's " +
        "redundant distinct removed its row-reduction from the static " +
        "size ESTIMATE, so the candidate-pair frames plan SMJ at sf0.1; " +
        "AQE re-broadcasts genuinely small sides at runtime — bench time " +
        "unchanged (0.40 -> 0.38 s), and not pinning the broadcast is " +
        "the correct corpus-scale call (same class as dd30/er11/er5)"))
    var flips = 0
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      if (eager.contains(name))
        s"| $name | — | — | — | — | — | — | ${eager(name)} |"
      else try {
        val s1 = shapeAt(fn, sfDir)
        val note =
          if (s1.mix.loops > 0)
            benignLoops.getOrElse(name, "UNEXPECTED loop join — investigate")
          else ""
        val splice =
          if (s1.splices.nonEmpty)
            s"LAMBDA-SPLICE (${s1.splices.mkString(",")}): loop-invariant " +
              "expensive expr re-evaluated per element — investigate"
          else ""
        // baseline planning failure must not hide the primary row; a
        // missing baseline shape simply skips the flip comparison
        val flip = try {
          val s0 = shapeAt(fn, baseDir)
          if (s0.mix != s1.mix) {
            flips += 1
            s"flip vs $baseDir: ${s0.mix} -> ${s1.mix} (" +
              reviewedFlips.getOrElse(name, "UNREVIEWED — investigate") + ")"
          } else ""
        } catch { case _: Throwable => "baseline plan ERROR" }
        val cells = Seq(if (s1.pushed) "pushdown=yes" else "", note, splice,
            flip)
          .filter(_.nonEmpty).mkString("; ")
        s"| $name | ${s1.xchg} | ${s1.mix.bhj} | ${s1.mix.smj} | ${s1.mix.shj} " +
          s"| ${s1.mix.loops} | ${s1.wscg} | $cells |"
      } catch {
        case e: Throwable => s"| $name | — | — | — | — | — | — | ERROR ${e.getClass.getSimpleName} |"
      }
    }
    val header =
      s"""# PLANS — physical-plan audit (auto-generated by `graft.PlanAudit`, $sfDir; flips checked vs $baseDir)
         |
         |Columns: hash-partition exchanges, BroadcastHashJoin, SortMergeJoin,
         |ShuffledHashJoin, nested-loop/cartesian joins, WholeStageCodegen
         |spans, filter pushdown present — all at the BENCH SF ($sfDir), so
         |the recorded broadcast decisions are the input-size-driven ones.
         |Non-zero loop counts carry a CURATED per-query annotation (bounded
         |1-row/centroid broadcast cross, or a deliberate brute-force
         |baseline whose scale path exists separately); a loop join in any
         |query outside that allowlist renders as UNEXPECTED. Every query is
         |also planned at $baseDir; a join-mix difference renders as an
         |explicit `flip` note. Each analyzed plan is also scanned for
         |loop-invariant expensive expressions spliced into HOF lambda
         |bodies (the tx3 O(n^2) class — re-evaluated per element); any
         |hit renders as a LAMBDA-SPLICE note. `PlanSpec` gates the
         |load-bearing subset against regressions.
         |
         || query | xchg | BHJ | SMJ | SHJ | loop | WSCG | notes |
         ||---|---|---|---|---|---|---|---|
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (header + lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"wrote $out (${lines.size} queries, $flips join-mix flips vs baseline)")
    spark.stop()
  }
}

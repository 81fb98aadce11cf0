package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed model-calibration steps — the "train a tiny model ON the
  * cluster" shape a curation pipeline uses to fit quality/domain
  * classifiers over corpus-scale features (the fastText-style filter of
  * GPT-3/CCNet pipelines: score documents by how much they look like a
  * target domain). The heavy part at 100 TB is the gradient sum over the
  * corpus, which is exactly a map-side-combined aggregation; the model
  * state is one broadcast row.
  *
  * Reference behavior: osarchiver has no learned components; this is
  * SURVEY.md §2.8 surface (training-data curation).
  */
object Calibration {

  /** `steps` full-batch gradient-descent iterations of a 2-parameter
    * logistic-style domain classifier: P(source = target | token count),
    * feature centered at the integer corpus mean. Publishes the whole
    * TRAINING TRAJECTORY — one row per step with the exact gradient sums
    * and updated weights — the audit a production trainer logs.
    *
    * Determinism discipline (the dd31/er6 integer-ML house style, one
    * step further — no libm anywhere): the sigmoid is the rational
    * surrogate 0.5 + z/(2(1+|z|)) (add/mul/div/abs only — IEEE
    * exact-rounded, bit-identical across engines, unlike exp/ln whose
    * last-ulp can differ); each row's residual floors ONCE to integer
    * micro-units (g0), the slope gradient is the exact integer product
    * g0 * xc, and both sums are BIGINT — order-free, partitioning-exact.
    * Per-parameter dyadic learning rates: eta0 = 1/2, eta1 = 1/128
    * (integer div by 2n and 128n), truncating division — Spark `div`
    * and other engines' integer division agree on signed operands.
    *
    * Scale shape: ONE tokenize pass collapses to a persisted (xc, y)
    * projection; each step is one map-side-combined 1-row aggregation
    * crossed with the 1-row weight state. Output: (step, s0, s1, w0_u,
    * w1_u), weights in micro-units. */
  /** The (mean-centered token count, target label, corpus size) feature
    * projection both the trainer and the calibration audit score over. */
  private def centeredBase(docs: DataFrame, sourceCol: String,
      textCol: String, targetSource: String): DataFrame = {
    val base0 = docs.select(
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")
        .as("x"),
      when(col(sourceCol) === targetSource, 1L).otherwise(0L).as("y"))
    val stats = base0.agg(count(lit(1)).as("n"),
      expr("coalesce(sum(x), 0L) div greatest(count(1), 1)").as("xbar"))
    base0.crossJoin(broadcast(stats))
      .select((col("x") - col("xbar")).as("xc"), col("y"), col("n"))
  }

  /** Memoized [[centeredBase]] / trained-trajectory frames, the
    * EntityResolution.scoredDistinct discipline: tx34 (trainer), tx36
    * (reliability audit) and tx38 (decile lift) all consume the same
    * tokenize pass and the same trained weights in one bench/verify
    * session, and without the memo each re-pays the full tokenize scan
    * and the whole GD chain. Keyed by session identity + source-plan
    * semantic hash + params so a stopped test session can never poison
    * a later one; frames persist MEMORY_AND_DISK in [[Memo.store]],
    * whose bound matters here: the centered base is CORPUS-SIZED. */
  private def centeredBaseCached(docs: DataFrame, sourceCol: String,
      textCol: String, targetSource: String): DataFrame =
    Memo.frame("calib.base", docs,
        Seq(sourceCol, textCol, targetSource).mkString("|")) {
      centeredBase(docs, sourceCol, textCol, targetSource)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Rational-sigmoid prediction in [0, 1e6) micro-units for a weight
    * state carried as (w0_u, w1_u) columns — shared trainer/audit math. */
  private def predictedMicro(): org.apache.spark.sql.Column = {
    val z = (col("w0_u") + col("w1_u") * col("xc")).cast("double") /
      lit(1000000.0)
    floor((lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))) *
      lit(1000000.0)).cast("long")
  }

  def domainClassifierSteps(docs: DataFrame, sourceCol: String,
      textCol: String, targetSource: String,
      steps: Int = 3): DataFrame =
    Memo.frame("calib.train", docs,
        Seq(sourceCol, textCol, targetSource, steps).mkString("|")) {
      domainClassifierStepsUncached(docs, sourceCol, textCol,
          targetSource, steps)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def domainClassifierStepsUncached(docs: DataFrame,
      sourceCol: String, textCol: String, targetSource: String,
      steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 16, "1 <= steps <= 16 (unrolled plan)")
    val base = centeredBaseCached(docs, sourceCol, textCol, targetSource)
    var state = docs.sparkSession.range(1).select(lit(0).as("step"),
      lit(0L).as("s0"), lit(0L).as("s1"),
      lit(0L).as("w0_u"), lit(0L).as("w1_u"))
    var out: Option[DataFrame] = None
    for (k <- 1 to steps) {
      val z = (col("w0_u") + col("w1_u") * col("xc")).cast("double") /
        lit(1000000.0)
      val sig = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
      val g0 = floor((col("y").cast("double") - sig) * lit(1000000.0))
        .cast("long")
      val grads = base.crossJoin(broadcast(state.select("w0_u", "w1_u")))
        .select(g0.as("g0"), col("xc"), col("n"))
        .groupBy("n")
        .agg(coalesce(sum(col("g0")), lit(0L)).as("s0"),
          coalesce(sum(col("g0") * col("xc")), lit(0L)).as("s1"))
      state = grads.crossJoin(broadcast(state.select(
          col("w0_u").as("pw0"), col("w1_u").as("pw1"))))
        .select(lit(k).as("step"), col("s0"), col("s1"),
          expr("pw0 + s0 div greatest(2 * n, 1)").as("w0_u"),
          expr("pw1 + s1 div greatest(128 * n, 1)").as("w1_u"))
      out = Some(out.map(_.unionAll(state)).getOrElse(state))
    }
    out.get
  }

  /** Calibration-reliability audit of the trained domain classifier
    * (Naeini et al. 2015's ECE, per-bin reliability-diagram form; Guo et
    * al. 2017): score every document with the FINAL trained weights,
    * bucket predictions into 10 equal-width probability bins, and report
    * per bin the exact document count, mean predicted probability
    * (confidence) and observed positive rate (accuracy), plus their
    * absolute gap — the table behind a reliability diagram; scalar ECE
    * is the n-weighted mean of `gap_u`. A quality filter whose
    * confidence does not track reality silently skews the corpus mix,
    * so this audit belongs next to the trainer it checks.
    *
    * Same no-libm integer discipline as the trainer: predictions floor
    * ONCE to micro-units, every aggregate is an exact BIGINT sum, ratios
    * are truncating integer division — partitioning-exact on both
    * engines. Scale shape: the training passes plus ONE extra scoring
    * scan collapsing to a <=10-row hash aggregation (map-side combined);
    * weights ride a 1-row broadcast.
    *
    * Output, one row per non-empty bin: (bin, n_docs, conf_u, acc_u,
    * gap_u) — micro-unit confidences/accuracies, bin = floor(p/0.1). */
  /** Decile lift/gains mechanics over an already-scored (p_u, y) frame:
    * rank documents by predicted micro-probability into 10 DESCENDING
    * score deciles and report, per decile, the exact positive rate, the
    * lift over the corpus base rate and the cumulative capture (gains
    * curve) — "keep the top-k% the filter likes best; what fraction of
    * the real positives did we keep" is precisely how a curation filter's
    * operating point is chosen.
    *
    * Decile assignment avoids the global row sort a naive ntile(10)
    * needs: p_u is already integer micro-units, so group by VALUE,
    * cumulate counts over the ordered value domain (the
    * perplexityBuckets/tx31 discipline — a window over distinct scores,
    * not documents), and assign decile = cb*10 div N from the EXCLUSIVE
    * higher-score count cb. Ties share a score, hence a decile
    * (cume-dist semantics both engines state identically in integers).
    *
    * Exactness: every column is BIGINT ppm with truncating division;
    * lift_ppm divides the two ppm rates (not the raw products) so
    * nothing overflows at any corpus size. Output, one row per
    * non-empty decile: (decile, n_docs, n_pos, pos_rate_ppm, lift_ppm,
    * cum_capture_ppm). */
  def liftFromScores(scored: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val g = scored.groupBy("p_u")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val totals = g.agg(sum(col("n")).as("nt"), sum(col("npos")).as("pt"))
    val byDecile = g
      .withColumn("cb", coalesce(sum(col("n")).over(
        W.orderBy(desc("p_u")).rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
      .crossJoin(broadcast(totals))
      .select(expr("least(cb * 10 div nt, 9)").as("decile"),
        col("n"), col("npos"))
      .groupBy("decile")
      .agg(sum(col("n")).as("n_docs"), sum(col("npos")).as("n_pos"))
    byDecile
      .withColumn("cum_pos", sum(col("n_pos")).over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)))
      .crossJoin(broadcast(totals))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        expr("n_pos * 1000000 div n_docs").as("pos_rate_ppm"),
        expr("(n_pos * 1000000 div n_docs) * 1000000 div " +
          "greatest(pt * 1000000 div nt, 1)").as("lift_ppm"),
        expr("cum_pos * 1000000 div greatest(pt, 1)")
          .as("cum_capture_ppm"))
  }

  /** [[liftFromScores]] fed by the trained domain classifier's final
    * weights — the decile-lift audit beside [[calibrationReport]]'s
    * reliability audit: same training passes, one extra scoring scan
    * collapsing to the distinct-score frame. */
  def liftTable(docs: DataFrame, sourceCol: String, textCol: String,
      targetSource: String, steps: Int = 3): DataFrame = {
    val wFinal = domainClassifierSteps(docs, sourceCol, textCol,
        targetSource, steps)
      .filter(col("step") === steps).select("w0_u", "w1_u")
    liftFromScores(centeredBaseCached(docs, sourceCol, textCol,
        targetSource)
      .crossJoin(broadcast(wFinal))
      .select(predictedMicro().as("p_u"), col("y")))
  }

  def calibrationReport(docs: DataFrame, sourceCol: String,
      textCol: String, targetSource: String, steps: Int = 3): DataFrame = {
    val wFinal = domainClassifierSteps(docs, sourceCol, textCol,
        targetSource, steps)
      .filter(col("step") === steps).select("w0_u", "w1_u")
    centeredBaseCached(docs, sourceCol, textCol, targetSource)
      .crossJoin(broadcast(wFinal))
      .select(predictedMicro().as("p_u"), col("y"))
      .withColumn("bin", expr("least(p_u div 100000, 9)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("p_u")).as("sp"),
        sum(col("y")).as("sy"))
      .select(col("bin"), col("n_docs"),
        expr("sp div n_docs").as("conf_u"),
        expr("sy * 1000000 div n_docs").as("acc_u"))
      .withColumn("gap_u", abs(col("conf_u") - col("acc_u")))
  }
}

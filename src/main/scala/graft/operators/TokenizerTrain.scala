package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Iterated BPE tokenizer training (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the merge-table
  * induction loop whose single selection step tx26 reports: repeatedly
  * pick the most frequent adjacent symbol pair over the corpus-weighted
  * word vocabulary, merge it everywhere, recount.
  *
  * The reference archives rows and never trains tokenizers; this is part
  * of the training-data-pipeline surface (a curation engine that counts
  * token budgets — tx6/pk-series — needs the merge table those counts
  * assume).
  *
  * Scale shape (the only part that touches corpus-sized data runs ONCE):
  *  - one corpus shuffle builds the word vocabulary (word, freq) —
  *    identical to tx26's heavy stage; every merge round after that runs
  *    over the POST-AGGREGATION vocabulary (|distinct words|, millions of
  *    rows at 100 TB, not corpus-sized);
  *  - each round is one vocabulary-local pair expansion (higher-order
  *    array functions, no UDF, no explode of corpus data) + one hash
  *    aggregation + a 1-row argmax (TakeOrdered) — exactly the per-merge
  *    cost of any distributed BPE trainer;
  *  - the chosen merges accumulate in a ONE-ROW wide frame that is
  *    `localCheckpoint`ed each round (the dd25 fixpoint discipline), so
  *    plan lineage stays linear in `nMerges` instead of doubling per
  *    round; the vocabulary is re-derived from the persisted base by
  *    re-applying the (broadcast) merge list — the er9 E-step pattern;
  *  - merge application is a single LITERAL string replace per merge
  *    (no regex): symbol sequences serialize as
  *    `" s1  s2  ...  sN "` (two spaces between symbols, one at each
  *    end), so replacing `" x  y "` with `" xy "` consumes one flanking
  *    space per side and leaves neighbours' boundaries intact — giving
  *    the classic left-to-right non-overlapping merge semantics
  *    (`a a a a` + merge (a,a) -> `aa aa`, never `aa a a`) with
  *    behaviour identical in Spark and the SQL oracle.
  *
  * Determinism: counts are exact integers; ties break on the pair's
  * binary string order — no RNG, no floats, partitioning-invariant.
  *
  * Output: one row per merge step, in training order:
  * (step, pair, cnt) — `pair` is the space-separated symbol pair chosen
  * at `step`, `cnt` its corpus-weighted adjacency count at selection
  * time. Empty iff some round finds no adjacent pair at all (the
  * vocabulary exhausted before `nMerges` — never at realistic params).
  */
object TokenizerTrain {

  /** One literal-replace application of merge (x, y) to a serialized
    * symbol sequence (see class doc for the two-space encoding). */
  private def applyMerge(s: Column, x: Column, y: Column): Column =
    replace(s,
      concat(lit(" "), x, lit("  "), y, lit(" ")),
      concat(lit(" "), x, y, lit(" ")))

  /** Corpus-weighted adjacent-pair counts over a (freq, s) vocabulary. */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("freq"), split(trim(col("s")), " +").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))

  /** Trained merge tables memoized per (session, optimized source plan,
    * params) — the scoredDistinct discipline: tx35 (the merge table
    * itself) and tx39 (applying it to encode the corpus) both need the
    * SAME training run in one bench/verify session, and training is the
    * expensive part (one corpus shuffle + nMerges vocabulary rounds).
    * The cached frame is the 1-row checkpointed wide frame (<= 16
    * merges), so the memo holds bytes, not corpus data; checkpointed
    * RDDs die with their session, and the session identity is part of
    * the key so a stopped test session can never poison a later one.
    * Entries live in [[Memo.store]], whose bound keeps a long-lived
    * multi-corpus session flat. The value is the 1-row wide frame
    * (pair_k, cnt_k, x_k, y_k for k=1..nMerges). */
  private def trainedMergesWide(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame =
    Memo.frame("tok.mergesWide", docs.select(col(textCol)),
        s"$textCol|$nMerges", optimized = true) {
      trainWideUncached(docs, textCol, nMerges)
    }

  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val wide = trainedMergesWide(docs, textCol, nMerges)
    wide.select(explode(array((1 to nMerges).map(k =>
        struct(lit(k.toLong).as("step"), col(s"pair_$k").as("pair"),
          col(s"cnt_$k").as("cnt"))): _*)).as("m"))
      .select(col("m.step").as("step"), col("m.pair").as("pair"),
        col("m.cnt").as("cnt"))
  }

  /** Applies the trained merge table to encode the corpus and reports
    * per-source token compression: (source, n_words, n_chars, n_tokens,
    * tok_per_kchar) — the "how many tokens is this corpus under MY
    * tokenizer" pass every token-budgeted curation plan runs after
    * training (tx6's counts assume a merge table; this measures one).
    *
    * Scale shape: encoding never touches corpus-sized data with
    * per-merge work — one corpus shuffle builds per-(source, word)
    * counts, then the <= 16 literal-replace merges apply over the
    * POST-AGGREGATION (source, word) vocabulary with the merge table on
    * a broadcast 1-row frame, and the result collapses to |sources|
    * rows via a map-side-combined hash agg. Integer-exact throughout
    * (`div` truncation identical in DuckDB). */
  def bpeEncodeReport(docs: DataFrame, textCol: String, srcCol: String,
      nMerges: Int): DataFrame = {
    val wide = trainedMergesWide(docs, textCol, nMerges)
    val vocab = docs
      .select(col(srcCol).as("source"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("freq"))
    val serial = (1 to nMerges).foldLeft(
        regexp_replace(col("w"), "(.)", " $1 ")) { (c, k) =>
      applyMerge(c, col(s"x_$k"), col(s"y_$k")) }
    vocab.crossJoin(broadcast(wide))
      .select(col("source"), col("freq"), length(col("w")).as("nc"),
        size(split(trim(serial), " +")).as("nt"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("nc")).as("n_chars"),
        sum(col("freq") * col("nt")).as("n_tokens"))
      .withColumn("tok_per_kchar",
        expr("n_tokens * 1000 div greatest(n_chars, 1)"))
  }

  private def trainWideUncached(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 16, "1 <= nMerges <= 16")
    // the one corpus-sized stage; persisted because every round's pair
    // count re-derives its vocabulary view from this base. Unpersisted
    // before returning — the result only references checkpointed rows.
    val words = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        regexp_replace(col("w"), "(.)", " $1 ").as("s"))
      .persist()
    // 1-row wide frame: (pair_1, cnt_1, x_1, y_1, ..., pair_k, cnt_k, ...)
    var wide: Option[DataFrame] = None
    for (k <- 1 to nMerges) {
      val vocab = wide match {
        case None => words
        case Some(w) =>
          words.crossJoin(broadcast(w)).select(col("freq"),
            (1 until k).foldLeft(col("s")) { (c, j) =>
              applyMerge(c, col(s"x_$j"), col(s"y_$j")) }.as("s"))
      }
      val best = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .select(col("pair").as(s"pair_$k"), col("cnt").as(s"cnt_$k"),
          split(col("pair"), " ").getItem(0).as(s"x_$k"),
          split(col("pair"), " ").getItem(1).as(s"y_$k"))
      // eager per-round materialization (one vocabulary-sized job each,
      // like any BPE trainer's merge pass); truncates lineage so round
      // k+1's plan starts from a 1-row leaf, not the whole history.
      val next = wide.map(_.crossJoin(best)).getOrElse(best)
        .localCheckpoint()
      // eager checkpoint: release the superseded round's (1-row) frame so
      // a training call registers ONE checkpoint RDD, not nMerges of them
      wide.foreach(graft.FrameRelease.release)
      wide = Some(next)
    }
    words.unpersist()
    wide.get
  }
}

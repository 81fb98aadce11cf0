package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: evidence (not plan-shape argument) that the expensive
  * plans stay near-linear one SF up.
  *
  * Synthesizes a ~sf1 dataset DERIVED from sf0.1 by 10x key-shifted
  * replication into a scratch dir (the read-only `/root/testdata` is
  * never touched), then runs the most expensive bench queries at both
  * SFs and reports per-query wall ratios plus a join-mix flip check.
  * A near-linear operator lands at <= ~12x for 10x input on a fixed
  * 32-thread local session (10x work + shuffle/spill superlinearities
  * budget); anything above that needs a written diagnosis or a fix.
  *
  * Replication discipline — growth must not CHANGE the problem:
  *   - every int64 entity key shifts by copy*10^7 (FK edges stay
  *     consistent within a copy, never across copies; parity/mod-k
  *     derived semantics survive because the stride is a multiple of 4;
  *     an asserted precondition — not an assumption — is that every
  *     source key is < the stride, otherwise copies would silently
  *     collide and corrupt FK consistency);
  *   - name/text token columns are SALTED per copy (`tok` -> `tokzk`):
  *     without this every replica is a near-duplicate of its original
  *     and candidate-pair counts grow ~quadratically BY CONSTRUCTION —
  *     that would measure the synthetic data's duplication rate, not the
  *     engine (each copy keeps the original's internal duplication
  *     structure, so dedup workloads grow linearly, 10 independent
  *     corpora of the same shape);
  *   - embedding vectors ROTATE by the copy index (cross-copy cosine
  *     decorrelates; within-copy geometry is untouched);
  *   - dimension tables (region, nation) are NOT replicated — they are
  *     fixed domains the fact tables reference;
  *   - timestamps are kept, so time-window density grows 10x (exactly
  *     what a bigger corpus over the same calendar looks like).
  *
  * Measurement discipline: the timed action is the full-column
  * fingerprint ([[Materialize]]) — count() column-prunes and hid the
  * round-10 dd22 double-evaluation; the join-mix column reads the
  * EXECUTED plan (AQE-final, initial-plan section stripped), not the
  * static pre-AQE plan.
  *
  * Usage: graft.ScaleProbe [srcSfDir] [scratchDir] [outFile]
  */
object ScaleProbe {
  private val Stride = 10000000L

  /** Families with a known collision-floor risk (the round-10 SimHash
    * banding defect class): probed EVERY run regardless of where they
    * currently sit in the bench ordering — a collision floor is
    * quadratic by construction and can re-enter silently. */
  private val pinnedFloor = Seq(
    "dd22_simhash_hamming", "dd30_prefix_join", "dd44_capture_recapture")

  /** Fallback probe set (the round-10 top-15 by bench cost) used only
    * when no bench artifact is readable — the live set is derived from
    * `bench_full.json` at runtime so it cannot go stale as the bench
    * evolves. */
  private val fallbackProbe = Seq(
    "g13_betweenness", "st7_stream_left_outer", "er11_tf_adjusted",
    "g10_semantic_expand", "dd22_simhash_hamming", "s14_bucketed_join",
    "g12_harmonic_centrality", "dd44_capture_recapture",
    "dd45_cdc_chunks", "tx43_textrank", "q96_assoc_rules",
    "dd30_prefix_join", "q75_market_basket", "g6_personalized_pr",
    "dd19_containment")

  /** Top-`n` most expensive queries from the latest committed bench
    * artifact, unioned with the pinned floor. Names no longer in
    * SparkEntry are dropped; any read/parse problem degrades to the
    * static fallback. */
  private def probeSet(benchFile: String, n: Int): Seq[String] = {
    val fromBench = try {
      val f = new java.io.File(benchFile)
      if (!f.exists()) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        node.path("queries").fields().asScala
          .map(e => e.getKey -> e.getValue.asDouble())
          .filter { case (k, _) => SparkEntry.queries.contains(k) }
          .toSeq.sortBy(-_._2).take(n).map(_._1)
      }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val base = if (fromBench.nonEmpty) fromBench else fallbackProbe
    (base ++ pinnedFloor.filter(SparkEntry.queries.contains)).distinct
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_scale/sf1"
    val out = if (args.length > 2) args(2) else "SCALE_PROBE.md"
    val benchFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      "bench_full.json")
    val cpus = Main.cpus(32)
    val spark = Main.localSession(cpus)
    graft.functions.GraftExtensions.register(spark)

    val probeQueries = probeSet(benchFile, 15)
    System.err.println(s"[probe] query set (${probeQueries.size}): " +
      probeQueries.mkString(", "))

    generateIfAbsent(spark, src, dst)

    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val loadStart = loadAvg()

    // warm both datasets' column pages so neither side pays cold reads
    for (dir <- Seq(src, dst); t <- Tables.names) {
      try {
        val df = Tables.load(spark, dir, t)
        df.agg(df.columns.map(c => count(col(c))).reduce(_ + _)).collect()
      } catch { case _: Throwable => () }
    }

    def flush(): Unit = {
      graft.operators.LruFrameCache.clearAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    /** Streaming results and iterative folds return re-rooted frames (a
      * checkpoint/memory-sink scan) — their plan describes the leaf, so
      * the join-mix comparison is n/a for them. */
    def reRooted(name: String, df: DataFrame): Boolean =
      name.startsWith("st") ||
        (df.queryExecution.analyzed match {
          case _: org.apache.spark.sql.execution.LogicalRDD => true
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            true
          case _ => false
        })
    /** AQE renders "isFinalPlan=true <final>... == Initial Plan == ..."
      * after execution; only the final section's join mix counts. */
    def finalMix(planStr: String): String = {
      val p = planStr.split("== Initial Plan ==").head
      def c(pat: String) = pat.r.findAllIn(p).length
      s"BHJ=${c("BroadcastHashJoin")} SMJ=${c("SortMergeJoin")} " +
        s"SHJ=${c("ShuffledHashJoin")} " +
        s"loop=${c("BroadcastNestedLoopJoin") + c("CartesianProduct")}"
    }
    /** Fingerprint-timed min-of-2 with the executed (AQE-final) join mix
      * of the steady-state run. The fingerprint wrapper adds one
      * aggregate and no joins, so its executed plan's join mix IS the
      * query's. */
    def timeAndMix(name: String, dir: String): (Double, String) = {
      val fn = SparkEntry.queries(name)
      def once(): (Double, String) = {
        // the clock starts BEFORE query construction: iterative/streaming
        // operators materialize their folds inside fn() (g13's Brandes
        // rounds, tx35's merge loop), so timing only the final action
        // would measure a tiny result scan — the same discipline as
        // Bench.runOnce
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val rr = reRooted(name, df)
        val fp = Materialize.fingerprintFrame(df)
        fp.collect()
        val t = (System.nanoTime() - t0) / 1e9
        val mix =
          if (rr) "n/a (re-rooted)"
          else try finalMix(fp.queryExecution.executedPlan.toString)
          catch { case e: Throwable => s"ERROR ${e.getClass.getSimpleName}" }
        (t, mix)
      }
      // min-of-2 (first run pays memo builds / codegen, same discipline
      // as the bench); isolation: every (query, dir) starts cold
      flush()
      val r1 = once(); val r2 = once()
      flush()
      (math.min(r1._1, r2._1), r2._2)
    }

    val rows = probeQueries.map { name =>
      val (t0, m0) = timeAndMix(name, src)
      val (t1, m1) = timeAndMix(name, dst)
      val ratio = if (t0 > 0) t1 / t0 else Double.NaN
      val flip =
        if (m0.startsWith("n/a")) "n/a"
        else if (m0 == m1) "no"
        else "FLIP"
      System.err.println(f"[probe] $name%-28s ${fmt(t0)}%8s s -> " +
        f"${fmt(t1)}%8s s  x${fmt(ratio)}%s  flip=$flip")
      (name, t0, t1, ratio, m0, m1, flip)
    }

    // Partitions-scaled re-probe: the residual-superlinearity diagnosis
    // (per-partition sort/hash growth at a FIXED shuffle-partition count,
    // which a real cluster absorbs by scaling the knob with input) is
    // tested, not asserted: the worst-ratio queries re-run at the big SF
    // with shuffle.partitions scaled 10x (32 -> 320). A diagnosis-true
    // query's ratio flattens toward linear; one that does not flatten is
    // a real scale defect.
    val worstSet = rows.filter(r => !r._4.isNaN).sortBy(-_._4).take(3)
    val scaledParts = (cpus.toInt * 10).toString
    val scaled = worstSet.map { case (name, t0, t1, r32, _, _, _) =>
      spark.conf.set("spark.sql.shuffle.partitions", scaledParts)
      val (tScaled, _) =
        try timeAndMix(name, dst)
        finally spark.conf.set("spark.sql.shuffle.partitions", cpus)
      val rScaled = if (t0 > 0) tScaled / t0 else Double.NaN
      // What this column answers is ATTRIBUTION, not pass/fail: "yes"
      // means the ratio dropped >=25% with partitions scaled, i.e. the
      // fixed knob really was the residual term; "no" means it did not
      // drop — on thread-capped local[32] extra partitions add pure
      // task-scheduling overhead for iteration-heavy tiny-frame queries
      // (no parallelism is added), so a non-drop REFUTES the knob
      // diagnosis for that query rather than indicating a defect. The
      // defect verdict lives on the BASE ratio: a query whose x32p
      // ratio exceeds the x12 budget carries a diagnosis in the
      // committed findings.
      val flattened =
        if (rScaled < 0.75 * r32) "yes — knob was the residual"
        else "no — knob not the residual (task overhead dominates)"
      System.err.println(f"[probe] scaled $name%-28s ${fmt(tScaled)}%8s s " +
        f"x${fmt(rScaled)} (was x${fmt(r32)} at ${cpus}p) " +
        f"flattened=$flattened")
      (name, t0, t1, r32, tScaled, rScaled, flattened)
    }

    val header =
      s"""# SCALE_PROBE — sf0.1 -> ~sf1 evidence (auto-generated by `graft.ScaleProbe`)
         |
         |Derived dataset: 10x key-shifted replication of `$src` into
         |`$dst` (token-salted text/name columns, rotated embeddings,
         |dimensions unreplicated, source keys asserted < the shift
         |stride — see ScaleProbe.scala for why each choice keeps growth
         |honest). Probe set: the ${probeQueries.size} most expensive
         |queries of the latest committed bench (`$benchFile`) plus the
         |pinned collision-floor families (${pinnedFloor.mkString(", ")}).
         |Timed action: full-column xxhash64/bit_xor fingerprint
         |(graft.Materialize) — count() column-prunes and under-times
         |projection-heavy plans. Min-of-2 on a `local[$cpus]` session,
         |caches flushed around every (query, sf) pair so each
         |measurement is self-contained; load_avg at start:
         |${fmt(loadStart)}, at end: ${fmt(loadAvg())}.
         |
         |Reading: 10x input on fixed threads => near-linear is <= ~12x.
         |`flip` compares the EXECUTED (AQE-final) join mix between SFs
         |(n/a for re-rooted iterative/streaming results whose returned
         |plan is a leaf).
         |
         || query | sf0.1 s | sf1 s | ratio | join mix sf0.1 | join mix sf1 | flip |
         ||---|---|---|---|---|---|---|
         |""".stripMargin
    val body = rows.map { case (n, t0, t1, r, m0, m1, f) =>
      s"| $n | ${fmt(t0)} | ${fmt(t1)} | x${fmt(r)} | $m0 | $m1 | $f |"
    }.mkString("\n")
    val worst = rows.filter(r => !r._4.isNaN).maxBy(_._4)
    val scaledSection =
      s"""
         |
         |## Partitions-scaled re-probe (worst ${scaled.size} ratios)
         |
         |The 32-thread session pins `spark.sql.shuffle.partitions` at
         |$cpus for both SFs, so per-partition sort/hash state grows 10x
         |at sf1 — a superlinearity a real cluster removes by scaling the
         |partition count with input. Re-running the worst-ratio queries
         |at sf1 with partitions scaled 10x ($scaledParts) tests that
         |diagnosis directly — as ATTRIBUTION, not pass/fail:
         |`yes` = the ratio dropped >=25%, the fixed knob really was the
         |residual term; `no` = it did not drop, which on thread-capped
         |local[32] (extra partitions add task overhead, never
         |parallelism) REFUTES the knob diagnosis for that query — its
         |residual is per-stage/task overhead across iterations, a term
         |a real cluster's scheduler amortizes differently. The defect
         |verdict lives on the BASE x${cpus}p ratio vs the x12 budget.
         |
         || query | sf0.1@${cpus}p s | sf1@${cpus}p ratio | sf1@${scaledParts}p s | sf1@${scaledParts}p ratio | flattened |
         ||---|---|---|---|---|---|
         |""".stripMargin +
        scaled.map { case (n, t0, _, r32, ts, rs, fl) =>
          s"| $n | ${fmt(t0)} | x${fmt(r32)} | ${fmt(ts)} | x${fmt(rs)} | $fl |"
        }.mkString("\n")
    val summary =
      s"""
         |
         |Worst ratio: `${worst._1}` at x${fmt(worst._4)}. Queries above
         |x12 (if any) carry a diagnosis in the committed version of this
         |file.
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (header + body + scaledSection + summary).getBytes("UTF-8"))
    println(s"wrote $out (${rows.size} queries, worst x${fmt(worst._4)})")
    spark.stop()
  }

  /** Build the derived ~sf1 dataset once; a marker file makes re-runs
    * free. Every transformation is deterministic in (input, copy index).
    */
  private def generateIfAbsent(spark: SparkSession, src: String,
      dst: String): Unit = {
    val marker = java.nio.file.Paths.get(dst, "_GRAFT_SCALE_COMPLETE")
    if (java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val copies = 10

    def shifted(df: DataFrame, keyCols: Seq[String], k: Int): DataFrame =
      keyCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(k * Stride)))
    // the suffix must be ALPHANUMERIC AND FUSED to the word: the engine's
    // tokenizer folds every non-[a-z0-9] character to a space, so a "_k"
    // salt would split into its own token and leave the original words
    // intact — every replica then near-duplicates its original (measured:
    // cross-copy near-dup cliques of size 10 per doc drove dd22/dd30/dd44
    // to x22-x70 "superlinear" ratios that were pure generator artifact)
    def salted(df: DataFrame, textCol: String, k: Int): DataFrame =
      if (k == 0) df
      else df.withColumn(textCol, array_join(
        transform(split(col(textCol), " "),
          w => concat(w, lit(s"z$k"))), " "))
    def replicate(table: String, keyCols: Seq[String],
        saltCols: Seq[String] = Nil,
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = Tables.load(spark, src, table)
      // key-shift soundness gate: a source key >= the stride would land
      // inside another copy's key range — FK edges would silently cross
      // copies and the "10 independent corpora" growth contract breaks.
      // Fail loudly instead (larger source SFs need a bigger stride).
      val maxes = base.select(keyCols.map(c => max(col(c)).as(c)): _*).head()
      keyCols.zipWithIndex.foreach { case (c, i) =>
        if (!maxes.isNullAt(i)) {
          val m = maxes.get(i) match {
            case n: Number => n.longValue()
            case other => sys.error(s"$table.$c non-numeric key: $other")
          }
          require(m < Stride,
            s"$table.$c max key $m >= stride $Stride: key-shifted copies " +
              "would collide; raise ScaleProbe.Stride for this source SF")
        }
      }
      val all = (0 until copies).map { k =>
        val s = saltCols.foldLeft(shifted(base, keyCols, k))(
          (d, c) => salted(d, c, k))
        extra(s, k)
      }.reduce(_ unionByName _)
      all.write.mode("overwrite")
        .parquet(s"$dst/$table.parquet")
      System.err.println(s"[probe] generated $table x$copies")
    }

    // dimensions: fixed domains, straight copy
    for (t <- Seq("region", "nation"))
      Tables.load(spark, src, t).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")

    replicate("customer", Seq("c_custkey"), saltCols = Seq("c_name"))
    replicate("supplier", Seq("s_suppkey"), saltCols = Seq("s_name"))
    replicate("part", Seq("p_partkey"), saltCols = Seq("p_name"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), saltCols = Seq("text"),
      extra = (d, k) =>
        if (k == 0) d else d.withColumn("n_chars", length(col("text"))))
    // rotate the vector by k: cross-copy cosine decorrelates, within-copy
    // geometry untouched (the ANN/near-dup workload grows linearly)
    replicate("embeddings", Seq("vec_id"),
      extra = (d, k) =>
        if (k == 0) d
        else d.withColumn("embedding",
          concat(
            slice(col("embedding"), lit(k + 1),
              size(col("embedding")) - lit(k)),
            slice(col("embedding"), lit(1), lit(k)))))

    java.nio.file.Files.write(marker, Array.emptyByteArray)
  }
}

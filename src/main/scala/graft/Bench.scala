package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Main.cpus(32)
    val spark = Main.localSession(cpus)
    graft.functions.GraftExtensions.register(spark)
    // Run metadata makes a contaminated artifact self-identifying: a round
    // measured while the machine was busy (snapshot machinery, concurrent
    // sbt) shows an elevated load average and an inflated warmup — readers
    // can discount its numbers instead of chasing phantom regressions.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // Load average alone cannot certify a clean run: this host has been
    // observed DROPPING the page cache mid-bench (buff/cache fell ~10x
    // while load stayed ~1), turning every parquet re-read into a cold
    // disk read and shipping phantom suspects. Track buffers+cached from
    // /proc/meminfo alongside load; a collapse below half the starting
    // size voids the suspect list outright — one retry cannot certify
    // cleanliness because the retry itself re-warms the cache.
    def cachedKb(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/meminfo")
        try {
          val m = src.getLines().flatMap { l =>
            val p = l.split("[:\\s]+")
            if (p.length >= 2) Some(p(0) -> p(1).toLong) else None
          }.toMap
          m.getOrElse("Cached", 0L) + m.getOrElse("Buffers", 0L)
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    // Locale.ROOT: a comma-decimal default locale (de_DE etc.) would render
    // 31.416 as "31,416" and break the harness's JSON parse
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val loadAtStart = loadAvg()
    val warmT0 = System.nanoTime()
    // Warm the session (parquet column data, codegen, shuffle machinery) so
    // the first timed query isn't charged for one-time JVM/session init.
    // count() alone is answered from parquet FOOTERS (the count-star
    // optimization) and leaves every column page cold — aggregate a
    // per-column count instead so each column chunk is actually read.
    locally {
      import org.apache.spark.sql.functions.{col, count}
      Tables.names.foreach { t =>
        try {
          val df = Tables.load(spark, sfDir, t)
          df.agg(df.columns.map(c => count(col(c))).reduce(_ + _).as("warm"))
            .collect()
        } catch { case _: Throwable => () }
      }
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    // Host-speed canary: a FIXED deterministic CPU workload (FNV-style
    // hash fold), measured single-threaded and at full thread count. No
    // code change can affect it, so when the fleet-wide drift check fires
    // the canary attributes the slowdown: canary drifted too -> the HOST
    // is slower (CPU steal, thermal/neighbor throttle, slower clock);
    // canary stable -> the drift is in the code under test. ~2 s total.
    def canaryWork(n: Long): Long = {
      var i = 0L; var h = 1469598103934665603L
      while (i < n) { h = (h ^ i) * 1099511628211L; i += 1 }
      h
    }
    // every canaryWork result is folded into a side-effecting sink: a
    // result-discarding loop is exactly what C2 dead-code-eliminates, and
    // a silently-zeroed canary would invert the drift attribution below
    val canarySink = new java.util.concurrent.atomic.AtomicLong()
    val (canarySingleSec, canaryParSec) = {
      canarySink.addAndGet(canaryWork(10_000_000L)) // JIT warm
      val t1 = System.nanoTime()
      canarySink.addAndGet(canaryWork(400_000_000L))
      val single = (System.nanoTime() - t1) / 1e9
      val nThreads = cpus.toInt
      val t2 = System.nanoTime()
      val threads = (1 to nThreads).map(_ =>
        new Thread(() => { canarySink.addAndGet(canaryWork(100_000_000L)); () }))
      threads.foreach(_.start()); threads.foreach(_.join())
      val par = (System.nanoTime() - t2) / 1e9
      if (canarySink.get == 0L) // impossible for this fold; pins the sink
        System.err.println("[bench] canary sink zero — investigate")
      (single, par)
    }
    // the collapse baseline is sampled AFTER the warmup on purpose: the
    // warmup is what populates the page cache, so a pre-warmup sample on
    // a cold host would make any later collapse undetectable (now*2 <
    // tiny-start never fires)
    val cachedKbWarm = cachedKb()
    def cacheCollapsed(): Boolean = {
      val now = cachedKb()
      cachedKbWarm > 0 && now >= 0 && now * 2 < cachedKbWarm
    }
    // sorted: deterministic run order, and adjacent queries sharing cached
    // subtrees (dd2's persisted shingle set feeds dd6) actually reuse them
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // per-round per-query history, tracked in git: regressions are detected
    // against in-repo history at bench time (tools/bench_trend.py), not by
    // diffing round artifacts after the fact
    val trendFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_TREND",
      "bench_trend.jsonl")
    // SPARK_GRAFT_BENCH_ONLY=q1_agg,g1_pagerank — local profiling filter;
    // the driver never sets it, so the full suite runs per-round.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Bound cache growth: queries persist intermediates and deliberately
    // share cached subtrees WITHIN a family (dd2's shingle set feeds dd6),
    // but across all 150+ queries the accumulated blocks eventually crowd
    // the unified region and the tail of the suite measures eviction/GC
    // churn instead of query cost. Clearing at family boundaries keeps the
    // intended reuse and caps resident cache at one family's worth.
    var lastFamily = ""
    def family(n: String) = n.takeWhile(_.isLetter)
    // The timed action is the full-column fingerprint, NOT count():
    // count() lets Catalyst prune every column the action doesn't
    // reference, so projection-side cost (and hidden recomputation — the
    // round-10 dd22 class) is systematically under-measured. See
    // graft.Materialize. Trend entries carry "materializer" so a
    // fingerprint run is never drift-compared against count-era history.
    val materializer = "fingerprint"
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { Materialize.fingerprint(fn(spark, sfDir)) }
      catch { case e: Throwable =>
        if (!failed.contains(name)) {
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    // run-1 seconds per query, published NEXT TO the min in the full
    // artifact (r11 verdict item 1): a memo-fed query's min is a cache
    // read — run 1 is where the shared family build actually lands, so
    // without this column the build cost vanishes from the artifact
    // (sum-of-mins never includes it) and a build regression is
    // invisible. Overwritten if a retry pass re-runs the query (the
    // retry's run 1 re-pays the family build after the flush — still
    // the honest first-touch number for that pass).
    val firstRuns = scala.collection.mutable.Map.empty[String, Double]
    val firstPass = selected.map { case (name, fn) =>
      if (family(name) != lastFamily) {
        lastFamily = family(name)
        // flush the cross-query memo maps FIRST: the blanket unpersist
        // below destroys their frames' checkpoint blocks, and a later
        // memo hit on a dead frame (the end-of-run suspect retries re-run
        // earlier families) would throw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
        graft.operators.LruFrameCache.clearAll()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
      // min of N runs: one-time costs (codegen, cache materialization)
      // land in run 1; the min is the steady-state per-query time
      val times = (1 to runs).map(_ => runOnce(name, fn))
      firstRuns(name) = times.head
      name -> times.min
    }
    // Contamination guard: a transient stall (snapshot machinery, noisy
    // neighbor) can inflate min-of-N for whatever ran inside the window and
    // ship a phantom regression in the artifact of record. Any query whose
    // min exceeds its previous same-sf trend entry by >2x AND >0.5s gets
    // one extra measurement; a surviving slowdown is a real regression and
    // is listed in suspect_regressions — UNLESS the machine is demonstrably
    // loaded, in which case the run first waits (bounded) for load to drop
    // and re-measures, and if it never drops stamps "contaminated": true so
    // no downstream reader can mistake a loaded run's suspects for
    // regressions (round-6 hygiene item: one retry under sustained load
    // could not clear a pure load artifact).
    val prevEntry = readPrevEntry(trendFile, sfDir, materializer)
    val prevTrend = prevEntry.map(queriesOf).getOrElse(Map.empty)
    def canaryOf(n: com.fasterxml.jackson.databind.JsonNode) =
      if (n.has("canary_single_sec") && n.has("canary_par_sec"))
        Some((n.path("canary_single_sec").asDouble(),
          n.path("canary_par_sec").asDouble()))
      else None
    val prevCanary = prevEntry.flatMap(canaryOf)
    // par-canary time scales with the thread count: comparing against an
    // entry recorded under a different SPARK_GRAFT_CPUS (or an entry old
    // enough to predate the field) would silently flip the host-vs-code
    // attribution, so the par leg only participates when the thread
    // counts match (missing field reads -1 and never matches)
    val prevCanaryThreads =
      prevEntry.map(_.path("canary_threads").asInt(-1)).getOrElse(-1)
    val parComparable = prevCanaryThreads == cpus.toInt
    // Canary qualification: this run's par-canary vs the fastest host
    // state in the recent comparable trend window. >20% above it means
    // the host is measurably slow RIGHT NOW — the run's timings are
    // honest measurements of a dishonest environment, so the trend entry
    // ships flagged (never silently becomes the clean baseline; two
    // consecutive hot runs de-ratchet, see readPrevEntry).
    val bestPar = trailingBestPar(trendFile, sfDir, materializer, cpus.toInt)
    val canaryHot = bestPar.exists(b => canaryParSec > 1.2 * b)
    if (canaryHot)
      System.err.println(f"[bench] CANARY HOT: par ${canaryParSec}%.3f s vs " +
        f"trailing-best ${bestPar.get}%.3f s (>20%% off) — trend entry flagged")
    val qByName = selected.toMap
    // Retries take min-of-2, NOT a single measurement: the family-boundary
    // clear flushed the shared memo caches, so a retried memo-fed query's
    // FIRST run pays the shared graph build its trend entry (min-of-N,
    // memo hit) never includes — a single retry run could exceed 2x trend
    // on a perfectly healthy host and ship a phantom permanent suspect.
    // Run 1 rebuilds the memo; run 2 is the apples-to-apples steady state.
    def retryOnce(name: String): Double = {
      val fn = qByName(name)
      val r1 = runOnce(name, fn)
      firstRuns(name) = r1
      math.min(r1, runOnce(name, fn))
    }
    def suspectsOf(rs: Seq[(String, Double)]): Seq[String] =
      rs.collect { case (name, t)
        if prevTrend.get(name).exists(p => t > 2 * p && t - p > 0.5) => name }
    var results = firstPass.map { case (name, t) =>
      prevTrend.get(name) match {
        case Some(p) if t > 2 * p && t - p > 0.5 =>
          name -> math.min(t, retryOnce(name))
        case _ => name -> t
      }
    }
    var suspects = suspectsOf(results)
    val loadThreshold =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "4.0").toDouble
    // Fleet-wide slowdown check: host noise (CPU steal, thermal/neighbor
    // throttle) slows EVERY query roughly uniformly, while a real
    // regression concentrates in the queries whose code changed. If the
    // MEDIAN per-query ratio vs trend exceeds the threshold across a wide
    // sample, the run is environment-limited: its >2x outliers are the
    // noisy tail of a noisy run, not signal (observed: a load-0.2 run
    // with a median x1.17 drift and 4 phantom suspects in families no
    // commit had touched — neither the load check nor the page-cache
    // check can see that failure mode).
    val medianDriftThreshold = sys.env
      .getOrElse("SPARK_GRAFT_MEDIAN_DRIFT", "1.15").toDouble
    val ratios = results.flatMap { case (name, t) =>
      prevTrend.get(name).collect { case p if p > 0.2 => t / p } }.sorted
    val medianDrift =
      if (ratios.size >= 50) ratios(ratios.size / 2) else 1.0
    // contamination cause, checked in severity order. The collapse check
    // is UNCONDITIONAL — a collapsed run with zero >2x suspects (or no
    // prior trend to compare against) still carries cold-read timings
    // that must not become next round's trend baseline.
    var cause: Option[String] = None
    var causeIsDrift = false
    if (cacheCollapsed())
      cause = Some(s"page cache collapsed: ${cachedKbWarm / 1024} MB -> " +
        s"${cachedKb() / 1024} MB")
    else if (medianDrift > medianDriftThreshold) {
      // the canary attributes the drift: it cannot be affected by code
      // changes, so if IT drifted too the host is slower; if it held, the
      // slowdown lives in the code under test and deserves a real look
      val attribution = prevCanary match {
        case Some((s0, p0))
            if canarySingleSec > 1.15 * s0 ||
              (parComparable && canaryParSec > 1.15 * p0) =>
          f"; host canary drifted too (single ${s0}%.2f->" +
            f"$canarySingleSec%.2f s, par ${p0}%.2f->$canaryParSec%.2f s)" +
            " -> host-attributed"
        case Some((s0, p0)) =>
          f"; host canary STABLE (single ${s0}%.2f->$canarySingleSec%.2f s" +
            (if (parComparable)
               f", par ${p0}%.2f->$canaryParSec%.2f s"
             else s", par leg skipped: thread count $prevCanaryThreads->" +
               s"${cpus.toInt}") +
            ") -> code-attributed, investigate"
        case None => ""
      }
      cause = Some(f"fleet-wide slowdown: median x$medianDrift%.3f vs " +
        s"trend over ${ratios.size} queries" + attribution)
      causeIsDrift = true
    }
    else if (suspects.nonEmpty && loadAvg() > loadThreshold) {
      var tries = 0
      while (loadAvg() > loadThreshold && tries < 3) {
        System.err.println(s"[bench] load ${fmt(loadAvg())} > " +
          s"$loadThreshold with suspects pending — waiting for quiet")
        Thread.sleep(20000); tries += 1
      }
      if (loadAvg() <= loadThreshold) {
        val sus = suspects.toSet
        results = results.map {
          case (name, t) if sus(name) =>
            name -> math.min(t, retryOnce(name))
          case x => x
        }
        suspects = suspectsOf(results)
      } else cause = Some(s"load ${fmt(loadAvg())} > $loadThreshold")
    }
    // Decorrelated retry: this host shows transient multi-second stalls
    // that survive min-of-N because the immediate re-measure lands inside
    // the same stall window (observed: three back-to-back full runs with
    // DISJOINT suspect lists — er9 at 7x trend in one run, at trend in the
    // other two). A short delay before one final re-measure decorrelates
    // the sample; a genuine regression reproduces after the pause, a stall
    // does not.
    if (cause.isEmpty && suspects.nonEmpty && suspects.size <= 12) {
      System.err.println(s"[bench] ${suspects.size} suspects after the " +
        "immediate retry — decorrelating with a 15s pause")
      Thread.sleep(15000)
      val sus = suspects.toSet
      results = results.map {
        case (name, t) if sus(name) =>
          name -> math.min(t, retryOnce(name))
        case x => x
      }
      suspects = suspectsOf(results)
    }
    // A drift-flagged run can become next round's baseline (two
    // consecutive flagged entries de-ratchet in readPrevEntry), but the
    // cause chain above skipped the suspect retry passes for it — an
    // adopted baseline carrying stall-inflated per-query minima would
    // then mask real per-query regressions next round. Retry the drift
    // run's suspects too; whatever still exceeds 2x after the retry is
    // EXCLUDED from the flagged trend entry's queries map below (the
    // uniform drift stays — that is the new reality the de-ratchet
    // exists to adopt; an unexplained per-query spike does not).
    if (causeIsDrift && suspects.nonEmpty && suspects.size <= 12) {
      val sus = suspects.toSet
      results = results.map {
        case (name, t) if sus(name) =>
          name -> math.min(t, retryOnce(name))
        case x => x
      }
      suspects = suspectsOf(results)
    }
    val contaminated = cause.isDefined
    if (contaminated)
      System.err.println(s"[bench] CONTAMINATED (${cause.get})" +
        (if (suspects.nonEmpty) s": suspect list void: ${suspects.mkString(", ")}"
         else ""))
    else if (suspects.nonEmpty)
      System.err.println(
        s"[bench] persistent >2x regressions vs trend: ${suspects.mkString(", ")}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val (skewPlain, skewSplit) = skewDemo(spark)
    val (levOff, levOn) = levPrefilterDemo(spark)
    val (jwOff, jwOn) = jwPrefilterDemo(spark)
    val streamNullSec = streamNullDemo(spark)
    // A contaminated run's suspect list is load noise, not signal: legacy
    // readers keyed on suspect_regressions alone (pre-dating the
    // contaminated flag) must fail safe, so the voided names move to
    // suspects_under_load and suspect_regressions stays empty.
    val suspectsJson =
      (if (contaminated) Nil else suspects)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    val underLoadJson =
      (if (contaminated) suspects else Nil)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(qs: Seq[(String, Double)], extra: String): String = {
      val m = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$m,""" +
        s""""failed":$failedJson,"skew_plain_sec":${fmt(skewPlain)},""" +
        s""""skew_split_sec":${fmt(skewSplit)},""" +
        s""""lev_rule_off_sec":${fmt(levOff)},"lev_rule_on_sec":${fmt(levOn)},""" +
        s""""jw_rule_off_sec":${fmt(jwOff)},"jw_rule_on_sec":${fmt(jwOn)},""" +
        s""""load_avg_start":${fmt(loadAtStart)},""" +
        s""""load_avg_end":${fmt(loadAvg())},""" +
        s""""cached_mb_warm":${cachedKbWarm / 1024},""" +
        s""""cached_mb_end":${cachedKb() / 1024},""" +
        s""""contamination_cause":${cause.map("\"" + _ + "\"")
          .getOrElse("null")},""" +
        s""""median_drift_vs_trend":${fmt(medianDrift)},""" +
        s""""canary_single_sec":${fmt(canarySingleSec)},""" +
        s""""canary_par_sec":${fmt(canaryParSec)},""" +
        s""""canary_threads":${cpus.toInt},""" +
        s""""canary_hot":$canaryHot,""" +
        s""""materializer":"$materializer",""" +
        // fixed micro-batch scheduling cost of a 1-row AvailableNow file
        // stream: the st-family floor at small SF — read st timings NET
        // of this to see the actual query work
        s""""stream_null_sec":${fmt(streamNullSec)},""" +
        s""""warmup_sec":${fmt(warmupSec)},"runs_per_query":$runs,""" +
        s""""suspect_regressions":$suspectsJson,""" +
        s""""suspects_under_load":$underLoadJson,""" +
        s""""contaminated":$contaminated,""" +
        s""""sf":"$sfDir"$extra}"""
    }
    // Full per-query map → file (the harness keeps only a ~2KB stdout tail,
    // which a 100-query map overflows; the judge reads the file instead).
    // queries_run1 rides only the file artifact: per query, the FIRST
    // measured run of the pass that produced its min — the number that
    // includes any shared family build the min excludes.
    val run1Json = results.map { case (k, _) =>
      "\"" + k + "\":" + fmt(firstRuns.getOrElse(k, -1.0)) }
      .mkString("{", ",", "}")
    // the memo fields ride only the file artifacts: inside the stdout
    // line they used up its byte budget and left "queries" empty
    val fullJson = line(results,
      s""","n_queries":${results.size},"queries_run1":$run1Json,""" +
        memoJson)
    // a filtered dev run must never clobber the full-suite artifact of
    // record (bench_full.json is committed with the round)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "bench_full.json" else "/tmp/bench_only.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    // append this run to the trend history (skipped for filtered dev runs —
    // a 2-query subset would otherwise shadow the last full round — for
    // broken runs, whose failure-path timings would poison the baseline the
    // next run's contamination guard compares against, and for contaminated
    // runs, whose inflated timings would hide real regressions next round).
    // EXCEPTION: a fleet-wide median-drift run IS appended, marked
    // "drift_flag":true. Without it the drift check is a one-way ratchet —
    // a genuine uniform regression (shared-helper change, Spark upgrade)
    // would mark every future run contaminated against a stale baseline
    // forever. readPrevTrend skips a single flagged entry (one noisy run
    // never becomes the baseline) but accepts the newest of TWO
    // consecutive flagged entries: a slowdown that reproduces across two
    // full runs is the new reality, and the trend self-heals.
    if (only.isEmpty && failed.isEmpty && (!contaminated || causeIsDrift)) {
      // a drift-flagged entry's REMAINING suspects (survived the retry
      // pass) are excluded from the queries map: if this entry is adopted
      // as baseline by the de-ratchet, a stall-inflated minimum must not
      // become the reference a real regression is compared against (a
      // missing key simply skips next round's per-query check)
      val trendQueries =
        if (causeIsDrift) results.filterNot(r => suspects.contains(r._1))
        else results
      val trendLine = s"""{"ts_ms":${System.currentTimeMillis()},""" +
        s""""sf":"$sfDir","total":${fmt(total)},""" +
        (if (causeIsDrift) s""""drift_flag":true,""" else "") +
        (if (canaryHot) s""""canary_hot":true,""" else "") +
        s""""materializer":"$materializer",""" +
        s""""load_avg_start":${fmt(loadAtStart)},""" +
        s""""load_avg_end":${fmt(loadAvg())},""" +
        s""""canary_single_sec":${fmt(canarySingleSec)},""" +
        s""""canary_par_sec":${fmt(canaryParSec)},""" +
        s""""canary_threads":${cpus.toInt},""" +
        s""""stream_null_sec":${fmt(streamNullSec)},""" +
        memoJson + "," +
        s""""warmup_sec":${fmt(warmupSec)},"runs_per_query":$runs,""" +
        s""""queries":${trendQueries.map { case (k, v) =>
          "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")}}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get(trendFile),
        (trendLine + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // Stdout gets ONE JSON line sized to survive the tail window: slowest
    // queries first until the byte budget is spent, the rest summarized so
    // the map still reconciles with "value".
    val budget = 1500
    val extraFor = (omitted: Int, omittedSec: Double) =>
      s""","n_queries":${results.size},"n_omitted":$omitted,""" +
        s""""omitted_sec":${fmt(omittedSec)},"queries_file":"$outFile""""
    val byCost = results.sortBy(-_._2)
    var kept = Vector.empty[(String, Double)]
    // slack = the actually-rendered fixed fields (incl. sfDir of any length)
    var used = line(Nil, extraFor(results.size, total)).length
    byCost.foreach { case (k, v) =>
      val w = k.length + fmt(v).length + 4
      if (used + w <= budget) { kept :+= (k -> v); used += w }
    }
    val omitted = results.size - kept.size
    val omittedSec = total - kept.map(_._2).sum
    // Self-gating: a broken query must not ship silently inside an
    // otherwise-plausible bench artifact. Leading marker line + non-zero
    // exit make the breakage visible to both humans and the harness.
    if (failed.nonEmpty) {
      val msg = s"BENCH BROKEN: ${failed.size} queries failed: ${failed.mkString(", ")}"
      println(msg)
      System.err.println(msg)
    }
    println(line(kept.sortBy(_._1), extraFor(omitted, omittedSec)))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** `memo_build_secs` — every timed memo tag (the query kit's shared
    * builds and each PlanPersist tag), the min observed build
    * wall-seconds: the builds vanish from steady-state per-query times
    * (min-of-N discards the first-touch run), so they are reported
    * explicitly to keep a build regression diffable round over round —
    * and `memo`, the shared store's hit/miss/build/eviction counters. */
  private def memoJson: String = {
    val fmtLocal = (v: Double) =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val secs = graft.operators.Memo.buildSecs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmtLocal(v) }
    val counts = graft.operators.Memo.store.stats
      .map { case (k, v) => "\"" + k + "\":" + v }
    s""""memo_build_secs":${secs.mkString("{", ",", "}")},""" +
      s""""memo":${counts.mkString("{", ",", "}")}"""
  }

  private def queriesOf(
      n: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    n.path("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap
  }

  /** Same-sf, same-materializer trend entries, newest first. A count-era
    * entry must never baseline a fingerprint run (the fingerprint
    * materializer evaluates projection work count() pruned, so every
    * query reads uniformly "slower" — a phantom fleet-wide drift). Any
    * parse problem degrades to "no history". */
  private def trendEntries(path: String, sf: String, mat: String)
      : Vector[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) return Vector.empty
      import scala.jdk.CollectionConverters._
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      java.nio.file.Files.readAllLines(p).asScala
        .reverseIterator
        .filter(_.trim.nonEmpty)
        .flatMap(l => scala.util.Try(mapper.readTree(l)).toOption)
        .filter(n => n.path("sf").asText() == sf &&
          n.path("materializer").asText("count") == mat)
        .toVector
    } catch { case scala.util.control.NonFatal(_) => Vector.empty }

  /** Baseline same-sf entry from the trend history. Usually the latest
    * entry; a FLAGGED entry — `drift_flag` (fleet-wide slowdown) or
    * `canary_hot` (recorded on a measurably slow host state) — is
    * skipped in favor of the entry before it UNLESS that one is also
    * flagged: two consecutive flagged runs mean the condition reproduces
    * and the newest becomes the baseline (the de-ratchet; see the trend
    * append in main). The bench must never fail on a malformed trend
    * line. */
  private def readPrevEntry(path: String, sf: String, mat: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    def flagged(n: com.fasterxml.jackson.databind.JsonNode) =
      n.path("drift_flag").asBoolean(false) ||
        n.path("canary_hot").asBoolean(false)
    trendEntries(path, sf, mat).take(2).toList match {
      case Nil => None
      case latest :: Nil =>
        // a LONE flagged entry never becomes the baseline (a truncated
        // history must not launder one noisy run into the trend)
        if (flagged(latest)) None else Some(latest)
      case latest :: older :: _ =>
        if (!flagged(latest)) Some(latest)
        else if (flagged(older)) Some(latest)
        else Some(older)
    }
  }

  /** Trailing-best par-canary: the fastest known host state over the
    * last `window` comparable (same sf/threads/materializer) trend
    * entries. A run whose par-canary is >20% above this is measured on a
    * demonstrably slow host and must not ship as a clean trend baseline
    * (round-10's committed "quiet" 182.9 s bench had par 0.252 s vs the
    * best-known 0.170 s — pure host drift booked as a code number). The
    * window bounds the ratchet: a permanently slower host ages out of it
    * and the gate self-heals. */
  private def trailingBestPar(path: String, sf: String, mat: String,
      threads: Int, window: Int = 10): Option[Double] = {
    val pars = trendEntries(path, sf, mat)
      .filter(_.path("canary_threads").asInt(-1) == threads)
      .take(window)
      .map(_.path("canary_par_sec").asDouble(Double.NaN))
      .filter(d => !d.isNaN && d > 0)
    if (pars.isEmpty) None else Some(pars.min)
  }

  /** Null-stream canary: a 1-row parquet file stream run to completion
    * under Trigger.AvailableNow with a no-op foreachBatch — the same
    * source/trigger/sink shape as the st-family queries but with no
    * query work at all. What it measures is the FIXED micro-batch
    * scheduling + offset-log + commit overhead, which at sf0.1 dominates
    * the st timings and masks real regressions in the actual stream
    * logic; readers subtract it (st net = st - stream_null_sec) and the
    * trend tooling diffs it separately so a Spark-upgrade scheduling
    * regression is attributed to the harness, not to the fold code.
    * Min-of-2, same discipline as every other timing here. */
  private def streamNullDemo(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-null-stream")
    try {
      spark.range(0, 1).select(col("id")).coalesce(1)
        .write.mode("overwrite").parquet(dir.toString)
      def run(): Double = {
        val t0 = System.nanoTime()
        val q = spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType))))
          .option("pathGlobFilter", "*.parquet")
          .parquet(dir.toString)
          .writeStream.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.count(); () // materialize like every real st fold does
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(run(), run())
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
    finally LocalFiles.deleteTree(dir)
  }

  /** A/B for the LevenshteinPrefilter optimizer rule: 200k candidate
    * pairs of ~400-char strings where most pairs differ wildly in length
    * (the realistic fuzzy-dedup candidate mix). With the rule off every
    * pair pays the O(len^2) DP; with it on, the implied
    * abs(length diff) <= k conjunct rejects the bulk in O(1). Interleaved
    * min-of-2 per side, same discipline as the skew demo. */
  private def levPrefilterDemo(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftExtensions.register(spark)
    spark.catalog.clearCache()
    // deterministic synthetic pairs: id-derived lengths, md5-derived text
    val pairs = spark.range(0, 200000).select(
      rpad(md5(concat(lit("a:"), col("id"))), (lit(80) + pmod(col("id"), lit(320))).cast("int"), lit("x")).as("sa"),
      rpad(md5(concat(lit("b:"), col("id"))), (lit(80) + pmod(col("id") * 7 + 3, lit(320))).cast("int"), lit("y")).as("sb"))
      .persist()
    pairs.count()
    def run(): Double = {
      val t0 = System.nanoTime()
      pairs.filter(expr("levenshtein(sa, sb) <= 16")).count()
      (System.nanoTime() - t0) / 1e9
    }
    def withFlag(on: Boolean)(f: => Double): Double = {
      spark.conf.set("graft.levenshteinPrefilter.enabled", on.toString)
      try f finally spark.conf.unset("graft.levenshteinPrefilter.enabled")
    }
    val off1 = withFlag(false)(run()); val on1 = withFlag(true)(run())
    val off2 = withFlag(false)(run()); val on2 = withFlag(true)(run())
    pairs.unpersist()
    (math.min(off1, off2), math.min(on1, on2))
  }

  /** A/B of the Jaro-Winkler length-ratio pre-filter rule: jw >= 0.9
    * implies min/max length ratio >= 0.5, which the O(1) conjunct
    * rejects before the O(|a|*|b|) scorer. The fixture uses
    * document-scale strings (0.2-2 KB — the fuzzy DOCUMENT-matching
    * shape, where the quadratic scorer actually hurts; entity names are
    * too short to showcase it). Expected shape: a BOUNDED ~10-15% win,
    * not lev's 8x — the ratio-pruned pairs are the scorer's cheap ones
    * (cost ~ min*window); see the rule's Scaladoc. Reported as
    * jw_rule_off_sec / jw_rule_on_sec. */
  private def jwPrefilterDemo(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftExtensions.register(spark)
    val pairs = spark.range(0, 20000).select(
      rpad(md5(concat(lit("a:"), col("id"))), (lit(200) + pmod(col("id"), lit(1800))).cast("int"), lit("x")).as("sa"),
      rpad(md5(concat(lit("b:"), col("id"))), (lit(200) + pmod(col("id") * 7 + 3, lit(1800))).cast("int"), lit("y")).as("sb"))
      .persist()
    pairs.count()
    def run(): Double = {
      val t0 = System.nanoTime()
      pairs.filter(graft.functions.TextFunctions.jaroWinkler(
        col("sa"), col("sb")) >= 0.9).count()
      (System.nanoTime() - t0) / 1e9
    }
    def withFlag(on: Boolean)(f: => Double): Double = {
      spark.conf.set("graft.jaroWinklerPrefilter.enabled", on.toString)
      try f finally spark.conf.unset("graft.jaroWinklerPrefilter.enabled")
    }
    val off1 = withFlag(false)(run()); val on1 = withFlag(true)(run())
    val off2 = withFlag(false)(run()); val on2 = withFlag(true)(run())
    pairs.unpersist()
    (math.min(off1, off2), math.min(on1, on2))
  }

  /** Skewed-join microbenchmark: one key owns 3/4 of a 4M-row fact side.
    * The hot input partition (~70MB) sits BELOW AQE's skew-split byte
    * threshold (256MB), so plain+AQE leaves it whole — yet the per-row
    * post-join work (a chained digest, standing in for the per-row cost
    * every real training-data pipeline pays after an enrichment join)
    * runs serially in that one reducer. This is precisely the blind spot
    * the hybrid skew-split join covers: byte-thin but compute-hot keys.
    * Reported as skew_plain_sec / skew_split_sec alongside the query map.
    */
  private def skewDemo(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions._
    // The query suite leaves ~150 queries' persisted blocks in the unified
    // memory region; left in place they squeeze execution memory for the
    // demo's 4M-row shuffles and the A/B numbers measure cache-eviction
    // pressure instead of join strategy (observed: the split side losing
    // 4.5x under pollution while winning 2x on a clean session). Clear
    // everything so both sides run on the same clean slate.
    graft.operators.LruFrameCache.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // fact: one hot key owns 3/4 of 4M rows; cold keys spread over the dim
    // key space. dim: 1M rows — dimension-sized but above the broadcast
    // threshold, so the plain join sort-merges and the hot key lands in
    // ONE reducer. The hot partition is byte-thin (~70MB, below AQE's
    // 256MB skew-split threshold) but compute-hot: the per-row chained
    // digest below stands in for real post-join work (tokenize, parse,
    // feature-extract). That byte-thin/compute-hot blind spot is exactly
    // what the hybrid split covers; a shuffle-bound demo (cheap per-row
    // work) would instead be dominated by the split's extra passes.
    val big = spark.range(0, 4L * 1000 * 1000).select(
      when(col("id") % 4 =!= 0, 1L).otherwise(col("id") % 1000000).as("k"),
      col("id").as("payload"))
    val dim = spark.range(0, 1000 * 1000)
      .select(col("id").as("k"), (col("id") * 2).as("dval"))
    // per-row work downstream of the join, evaluated in the join's output
    // partitioning — the skew carrier
    def work(df: org.apache.spark.sql.DataFrame): Unit = {
      df.select(xxhash64(
          md5(md5(md5(concat_ws(":", col("k"), col("payload"), col("dval"))))))
          .as("h"))
        .agg(bit_xor(col("h")), count(lit(1))).collect()
      ()
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val hot = graft.operators.JoinStrategies.sampleHotKeys(
      big, Seq("k"), fraction = 0.001, minShare = 0.05)
    def plainOnce() = time { work(big.join(dim, Seq("k"))) }
    def splitOnce() = time {
      work(graft.operators.JoinStrategies.skewSplitJoin(big, dim, Seq("k"), 32,
        hot, saltCols = Seq("payload")))
    }
    // INTERLEAVED min-of-2 per side (plain, split, plain, split): a
    // transient stall (GC, noisy-neighbor CPU, disk contention) hits one
    // round, not one side, so neither number can be wrecked by a single
    // unlucky window — which is exactly what a sequential single-shot
    // measurement suffered in a contended environment.
    val p1 = plainOnce(); val s1 = splitOnce()
    val p2 = plainOnce(); val s2 = splitOnce()
    (math.min(p1, p2), math.min(s1, s2))
  }
}

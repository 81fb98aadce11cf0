package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): time every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and print ONE JSON line with per-query seconds.
  *
  * Bench measures and records; it does not judge. `tools/bench_trend.py`
  * judges regressions from the trend file this appends to, and `runbench`
  * is the gated benchmark.
  *
  * Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_BENCH_RUNS (timed
  * runs per query, default 2), SPARK_GRAFT_BENCH_ONLY (comma-separated
  * query filter), SPARK_GRAFT_BENCH_OUT (full artifact path),
  * SPARK_GRAFT_BENCH_TREND (trend file), SPARK_GRAFT_CPUS.
  */
object Bench {
  /** The harness keeps only a ~2 KB tail of stdout. */
  val StdoutBudget = 1500

  /** Query family: the name's letter prefix (`dd` for `dd2_ngram_jaccard`). */
  private[graft] def family(name: String): String = name.takeWhile(_.isLetter)

  // Locale.ROOT: a comma-decimal default locale (de_DE etc.) would render
  // 31.416 as "31,416" and break the harness's JSON parse
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jsonMap(qs: Seq[(String, Double)]): String =
    qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** One artifact line: the total, the given per-query map, then `fields`
    * (JSON members, each led by a comma). */
  private def line(total: Double, qs: Seq[(String, Double)], fields: String): String =
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${jsonMap(qs)}$fields}"""

  /** The timed action, recorded in every artifact and trend entry so runs
    * timed with different materializers are never compared. */
  val Materializer = "fingerprint"

  /** The run fields every artifact line carries after its per-query map. */
  private[graft] def runFields(failed: Seq[String], loadAtStart: Double,
      loadAtEnd: Double, warmupSec: Double, runs: Int, sf: String): String =
    s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""load_avg_start":${fmt(loadAtStart)},"load_avg_end":${fmt(loadAtEnd)},""" +
      s""""materializer":"$Materializer","warmup_sec":${fmt(warmupSec)},""" +
      s""""runs_per_query":$runs,"sf":"$sf""""

  /** The stdout line: the slowest queries, as many as fit in
    * [[StdoutBudget]] bytes; the rest are summarized by `n_omitted` and
    * `omitted_sec`, so the map still reconciles with `value`. Every
    * omitted query is at most as slow as the fastest kept one. */
  private[graft] def stdoutLine(results: Seq[(String, Double)], fields: String,
      queriesFile: String): String = {
    val total = results.map(_._2).sum
    val byCost = results.sortBy { case (k, v) => (-v, k) }
    def render(kept: Int): String = {
      val omitted = byCost.drop(kept)
      line(total, byCost.take(kept).sortBy(_._1),
        s"""$fields,"n_queries":${results.size},"n_omitted":${omitted.size},""" +
          s""""omitted_sec":${fmt(omitted.map(_._2).sum)},""" +
          s""""queries_file":"$queriesFile"""")
    }
    render((1 to byCost.size)
      .takeWhile(k => render(k).getBytes(UTF_8).length <= StdoutBudget)
      .lastOption.getOrElse(0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Main.localSession(Main.cpus())
    graft.functions.GraftExtensions.register(spark)
    // the load average at both ends makes a run measured on a busy host
    // self-identifying in every artifact
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadAtStart = loadAvg()
    val warmT0 = System.nanoTime()
    Materialize.warmColumns(spark, sfDir)
    val warmupSec = (System.nanoTime() - warmT0) / 1e9
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val trendFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_TREND",
      "bench_trend.jsonl")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // sorted: deterministic run order, and adjacent queries sharing cached
    // subtrees (dd2's persisted shingle set feeds dd6) actually reuse them
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // The timed action is the full-column fingerprint, not count(), which
    // lets Catalyst prune every column the action does not reference (see
    // graft.Materialize). The clock starts before the query is built:
    // iterative and streaming queries do their work inside `fn`.
    def runOnce(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try Materialize.fingerprint(fn(spark, sfDir))
      catch { case e: Throwable =>
        if (!failed.contains(name)) {
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Queries share cached subtrees within a family (dd2's shingle set
    // feeds dd6); flushing at family boundaries keeps that reuse and caps
    // resident cache at one family's worth, so the tail of the suite does
    // not measure eviction churn.
    var lastFamily = ""
    val timed = selected.map { case (name, fn) =>
      if (family(name) != lastFamily) {
        lastFamily = family(name)
        Materialize.flushCaches(spark)
      }
      // min of N runs is the steady-state time; run 1 carries one-time
      // costs (codegen, the family's shared memo build) and is recorded
      // next to it, since the min of a memo-fed query never includes the
      // build
      val times = (1 to runs).map(_ => runOnce(name, fn))
      (name, times.min, times.head)
    }
    val results = timed.map(t => t._1 -> t._2)
    val total = results.map(_._2).sum
    val loadAtEnd = loadAvg()
    val fields = runFields(failed.toSeq, loadAtStart, loadAtEnd, warmupSec, runs, sfDir)
    // the full per-query map goes to a file (the stdout line holds only
    // the slowest queries); a filtered dev run never overwrites the
    // committed full-suite artifact
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "bench_full.json" else "/tmp/bench_only.json")
    val fullJson = line(total, results, fields +
      s""","n_queries":${results.size},""" +
      s""""queries_run1":${jsonMap(timed.map(t => t._1 -> t._3))},$memoJson""")
    try Files.write(Paths.get(outFile), (fullJson + "\n").getBytes(UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }
    // The trend history gets full runs only: a filtered subset would
    // shadow the last full run, and a broken run's failure-path timings
    // would enter the baseline tools/bench_trend.py compares against.
    if (only.isEmpty && failed.isEmpty) {
      val trendLine = s"""{"ts_ms":${System.currentTimeMillis()},""" +
        s""""sf":"$sfDir","total":${fmt(total)},""" +
        s""""materializer":"$Materializer",""" +
        s""""load_avg_start":${fmt(loadAtStart)},"load_avg_end":${fmt(loadAtEnd)},""" +
        memoJson + "," +
        s""""warmup_sec":${fmt(warmupSec)},"runs_per_query":$runs,""" +
        s""""queries":${jsonMap(results)}}"""
      try Files.write(Paths.get(trendFile), (trendLine + "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // A broken query must not ship silently inside an otherwise plausible
    // artifact: a leading marker line and a non-zero exit.
    if (failed.nonEmpty) {
      val msg = s"BENCH BROKEN: ${failed.size} queries failed: ${failed.mkString(", ")}"
      println(msg)
      System.err.println(msg)
    }
    println(stdoutLine(results, fields, outFile))
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
    val counts = graft.operators.Memo.store.stats
      .map { case (k, v) => "\"" + k + "\":" + v }
    s""""memo_build_secs":${jsonMap(graft.operators.Memo.buildSecs.toSeq.sortBy(_._1))},""" +
      s""""memo":${counts.mkString("{", ",", "}")}"""
  }
}

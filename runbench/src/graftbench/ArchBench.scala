package graftbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Main, Materialize, SparkEntry, Tables}
import graft.Tables.TableSpec
import graft.catalog.Catalog
import graft.config.{ArchiverConfig, SourceConfig}
import graft.functions.GraftExtensions
import graft.operators.Archiver
import graft.sinks._

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** The JVM half of the archival-run benchmark: one workload, one seed,
  * closed loop with one client. It drives only public entry points
  * (`Archiver.run` as `graft.Main` calls it, `SparkEntry.queries` with
  * `Materialize.fingerprint`) and times the layers from outside. It
  * writes raw measurements as JSON; `run.py` checks the outputs and turns
  * the measurements into metrics.
  *
  * Usage: graftbench.ArchBench --workload W --seconds S --trace 0|1
  *   --store DIR --base DIR --work DIR --out FILE [--seed N]
  *   [--queries a,b,...] [--fail-table T]
  */
object ArchBench {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** Day 1 cuts at 1998-01-01 (now minus the retention); day 2 one month
    * later. */
  val Day1 = Instant.parse("1999-01-01T00:00:00Z")
  val Day2 = Instant.parse("1999-02-01T00:00:00Z")
  val RetentionInterval = "12 MONTH"

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val traced = a("trace") == "1"
    if (traced) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)

    // set-up, from process start: the session is built as
    // Main.registeredSession builds it (session, then the graft functions)
    val t0 = System.nanoTime()
    val spark = Main.session()
    val t1 = System.nanoTime()
    GraftExtensions.register(spark)
    val t2 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)

    val out = mutable.LinkedHashMap[String, Any](
      "setup" -> Map("setup_s" -> setupS, "jvm_start_s" -> (mainMs - jvmStartMs) / 1e3,
        "session_s" -> (t1 - t0) / 1e9, "register_s" -> (t2 - t1) / 1e9))
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    a("workload") match {
      case "archive_initial" =>
        out ++= new ArchiveLoop(spark, a, counters, traced).run(
          input = a("store"), archiveSeed = None, now = Day1, jdbc = false)
      case "archive_incremental" =>
        val loop = new ArchiveLoop(spark, a, counters, traced)
        val day1 = loop.day1(a("store"), s"$work/day1")
        out ++= loop.run(input = s"$day1/live", archiveSeed = Some(s"$day1/parquet"),
          now = Day2, jdbc = true)
      case "query_mix" =>
        out ++= new QueryMix(spark, a, counters, traced).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("jvm") = Map("peak_rss_mb" -> peakRssMb(), "gc_s" -> gcSeconds())
    Files.write(Paths.get(a("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
  }

  /** Repetitions per block: plain, or in the traced run untraced,
    * traced, traced, untraced, so the tracing overhead (traced minus
    * untraced wall time, same process) does not absorb the JVM's
    * warming trend. */
  def blocks(traced: Boolean): Seq[Boolean] =
    if (traced) Seq(false, true, true, false) else Seq(false)

  /** Whether to time another block: until `--seconds` have passed and
    * there are at least three timed repetitions (or one traced block),
    * so a median can discard one disturbed repetition. */
  def more(reps: Int, startNs: Long, a: Args, traced: Boolean): Boolean =
    reps < (if (traced) 4 else 3) || (System.nanoTime() - startNs) / 1e9 < a("seconds").toDouble

  /** What Spark did between `mark` and now: jobs, memo builds, and the
    * persisted frames and their size at the end. */
  def sparkWindow(spark: SparkSession, counters: SparkCounters,
      mark: (Int, Set[Int])): Map[String, Any] = {
    BusDrain(spark.sparkContext)
    val (jobs, builds) = counters.since(mark)
    Map("jobs" -> jobs, "memo" -> Map("builds" -> builds,
      "frames" -> spark.sparkContext.getPersistentRDDs.size,
      "cached_mb" -> spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0))
  }

  /** Processor time of this JVM so far, every thread counted (the
    * program's, Spark's, GC and JIT), in seconds. The host's steal time
    * is not charged to it. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Processor time the host withheld from this VM so far (steal, from
    * `/proc/stat`), summed over its processors; 0 where not reported. */
  def stealSeconds(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally src.close()
    }.getOrElse(0.0)

  /** Processor time of the JIT compiler threads so far (user plus
    * system time from `/proc/self/task/<tid>/stat`), in seconds. The
    * JVM runs with a fixed set of compiler threads
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none exits and takes
    * its time with it. */
  def jitSeconds(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      scala.util.Try {
        val st = new String(Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        // fields after the name: utime and stime are the 12th and 13th
        val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
        if (name.contains("CompilerThre")) (f(11).toDouble + f(12).toDouble) / 100 else 0.0
      }.toOption
    }.sum

  /** Starts a repetition's clocks; the returned function, called at its
    * end, gives its wall time, the JVM's processor time (all threads) and
    * its JIT compiler threads' share, and the host's steal time. */
  def clocks(): () => Map[String, Any] = {
    val steal0 = stealSeconds()
    val cpu0 = cpuSeconds()
    val jit0 = jitSeconds()
    val t0 = System.nanoTime()
    () => Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuSeconds() - cpu0),
      "jit_s" -> (jitSeconds() - jit0), "steal_s" -> (stealSeconds() - steal0))
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete(_)) finally walk.close()
    }
  }

  /** Bytes of the data files under `path` (hidden checksum files and
    * `_`-prefixed markers excluded). */
  def dataBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.map(Files.size).sum
      finally walk.close()
    }
  }

  /** Minimal JSON rendering for the raw measurement file. */
  def Json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => Json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(Json).mkString("[", ",", "]")
    case p: Product => Json(p.productElementNames.zip(p.productIterator).toMap)
  }
}

/** Repetitions of one archival run over fresh copies of its inputs. */
final class ArchiveLoop(spark: SparkSession, a: ArchBench.Args, counters: SparkCounters,
    traced: Boolean) {
  import ArchBench._

  private val tracer = new Tracer
  private val failTable = a.get("fail-table")
  private val pattern = blocks(traced)

  private def conf(live: String) = ArchiverConfig(
    name = "bench",
    source = SourceConfig(name = "nova", dir = live, retention = RetentionInterval),
    destinations = Nil, // the sinks come in through sinkOverride, wrapped
    archiveData = true, deleteData = true)

  /** The program's own day-1 run on the seed's store, kept for the run:
    * its live store and parquet archive are day 2's starting state,
    * restored before each repetition. Running it in every process (not
    * caching it across processes) keeps day 2 always measured in a JVM
    * warmed up the same way. */
  def day1(store: String, dir: String): String = {
    copyTree(store, s"$dir/live")
    new Archiver(spark, conf(s"$dir/live"), Day1,
      Some(Seq(new ParquetUpsertSink(s"$dir/parquet"))))
      .run(Some(Archiver.parquetLiveStore(spark, s"$dir/live")))
    dir
  }

  private def sinksFor(rep: String, jdbc: Boolean): Seq[(String, Sink)] =
    Seq("parquet" -> new ParquetUpsertSink(s"$rep/parquet"),
      "csv" -> new CsvSink(s"$rep/csv"),
      "sql" -> new SqlDumpSink(s"$rep/sql")) ++
      (if (jdbc) Seq("jdbc" -> new JdbcUpsertSink(
        JdbcSinkConfig(url = s"jdbc:derby:$rep/derby;create=true"), AnsiDialect))
      else Nil)

  /** `Archiver.run`'s steps, through the same public calls and in the
    * same order, each inside a span (`recoverLiveStore` is skipped: it is
    * a no-op on the fresh store every repetition starts from). */
  private def tracedRun(archiver: Archiver, c: ArchiverConfig,
      store: (TableSpec, DataFrame) => Unit): Seq[Archiver.TableResult] = tracer("run") {
    val dir = c.source.dir
    val present = tracer("catalog:discover")(
      Catalog.discoverTables(dir, spark.sparkContext.hadoopConfiguration).toSet)
    val probes0 = CountingLocalFs.listings.get()
    val candidates = tracer("catalog:probe")(
      Tables.specs.filter(s => present.contains(s.name)).map(s => s.copy(deletedColumn =
        if (Tables.load(spark, dir, s.name).schema.fieldNames.contains(c.source.deletedColumn))
          Some(c.source.deletedColumn)
        else s.deletedColumn)))
    val elected = tracer("catalog:elect")(Catalog.electTables(spark, dir, candidates,
      include = c.source.tables, excludeRegexes = c.source.excludedTables))
    catalogStats = Map("probes" -> (CountingLocalFs.listings.get() - probes0).toDouble,
      "elected" -> elected.size.toDouble)
    elected.map(t => tracer(s"archiver:${t.name}")(archiver.runTable(t, Some(store))))
  }
  private var catalogStats = Map.empty[String, Double]

  private def oneRep(rep: String, input: String, archiveSeed: Option[String], now: Instant,
      jdbc: Boolean, tracedRep: Boolean): Map[String, Any] = {
    deleteTree(rep)
    copyTree(input, s"$rep/live")
    archiveSeed.foreach(p => copyTree(p, s"$rep/parquet"))
    val calls = mutable.ArrayBuffer.empty[SinkCall]
    val deletes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tr = if (tracedRep) Some(tracer) else None
    // --fail-table makes the first sink (parquet) throw for that table
    val sinks = sinksFor(rep, jdbc).map { case (k, s) =>
      new TimedSink(k, s, calls, tr, failTable.filter(_ => k == "parquet"))
    }
    val live = Archiver.parquetLiveStore(spark, s"$rep/live")
    val store: (TableSpec, DataFrame) => Unit = (spec, rest) => {
      val path = s"$rep/live/${spec.name}.parquet"
      val before = if (tracedRep) dataBytes(path) else 0L
      val t0 = System.nanoTime()
      tr.fold(live(spec, rest))(t => t("deleteback")(live(spec, rest)))
      val sec = (System.nanoTime() - t0) / 1e9
      deletes += Map("table" -> spec.name, "s" -> sec, "bytes_before" -> before,
        "bytes_after" -> (if (tracedRep) dataBytes(path) else 0L))
    }
    val fileSinks = Seq("parquet", "csv", "sql")
    val bytes0 = fileSinks.map(k => dataBytes(s"$rep/$k"))
    val c = conf(s"$rep/live")
    val archiver = new Archiver(spark, c, now, Some(sinks))
    tracer.newRun()
    val mark = counters.mark()
    val gc0 = gcSeconds()
    val ms0 = System.currentTimeMillis()
    val stop = clocks()
    val results =
      if (tracedRep) tracedRun(archiver, c, store)
      else archiver.run(Some(store), parallelism = 1)
    val times = stop()
    val added = fileSinks.zip(bytes0).map { case (k, b) => k -> (dataBytes(s"$rep/$k") - b) }.toMap
    times ++ Map("dir" -> rep, "traced" -> tracedRep,
      "results" -> results.map(r => Map("table" -> r.table, "archived" -> r.archivedCount,
        "deleted" -> r.deletedCount, "vetoed" -> r.vetoed)),
      "sinks" -> calls.toSeq, "deleteback" -> deletes.toSeq, "sink_bytes_added" -> added,
      "start_ms" -> ms0, "jvm_gc_s" -> (gcSeconds() - gc0),
      "catalog" -> (if (tracedRep) catalogStats else Map.empty)) ++
      sparkWindow(spark, counters, mark)
  }

  /** Shut the rep's Derby database down and, for the last rep, export its
    * tables to parquet so the invariant check can read them. */
  private def closeDerby(rep: String, export: Boolean): Unit = {
    val url = s"jdbc:derby:$rep/derby"
    if (export) Seq("orders", "lineitem", "events").foreach { t =>
      val props = new java.util.Properties()
      val exists = {
        val c = java.sql.DriverManager.getConnection(url)
        try {
          val rs = c.getMetaData.getTables(null, null, t.toUpperCase, null)
          try rs.next() finally rs.close()
        } finally c.close()
      }
      if (exists) spark.read.jdbc(url, t, props).write.parquet(s"$rep/derby_export/$t")
    }
    try java.sql.DriverManager.getConnection(s"$url;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals a clean shutdown this way
  }

  /** One untimed warm-up repetition, then timed ones (see [[more]]).
    * Without the warm-up the first run in a JVM spends about two thirds
    * of its time on class loading, code generation and JIT, and varies by
    * +-13% run to run on 4 cores. Day 2 needs it too: its set-up, the
    * day-1 run, warms only the parquet sink, and the first day-2 run
    * still takes twice the wall time and three times the processor time
    * of the third. */
  def run(input: String, archiveSeed: Option[String], now: Instant,
      jdbc: Boolean): Map[String, Any] = {
    val work = a("work")
    var k = 0
    def next(tracedRep: Boolean): Map[String, Any] = {
      val rep = s"$work/rep-$k"
      if (k > 0) deleteTree(s"$work/rep-${k - 1}")
      k += 1
      val r = oneRep(rep, input, archiveSeed, now, jdbc, tracedRep)
      if (jdbc) closeDerby(rep, export = false)
      r
    }
    next(tracedRep = false)
    val reps = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    while (more(reps.size, start, a, traced)) pattern.foreach(t => reps += next(tracedRep = t))
    val last = reps.last("dir").toString
    if (jdbc) closeDerby(last, export = true) // reopened to export it for the check
    // the cut the run applied, by the expression `Retention.predicate` builds
    val nowLit = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(now)
    val cut = spark.range(1).select(expr(s"TIMESTAMP '$nowLit' - INTERVAL $RetentionInterval")
      .cast("string")).head().getString(0)
    Map("workload" -> a("workload"), "now" -> now.toString, "cut" -> cut, "input" -> input,
      "archive_seed" -> archiveSeed, "reps" -> reps.toSeq, "spans" -> tracer.json)
  }
}

/** The analytics control workload: a fixed list of library queries in a
  * fresh session (cold memos) per repetition, in a seed-permuted order. */
final class QueryMix(spark: SparkSession, a: ArchBench.Args, counters: SparkCounters,
    traced: Boolean) {
  import ArchBench._

  private val tracer = new Tracer
  private val pattern = blocks(traced)

  /** One pass over the mix in a new session; returns the measurements
    * and the session, whose memos are still warm. */
  private def oneRep(order: Seq[String], dir: String,
      tracedRep: Boolean): (Map[String, Any], SparkSession) = {
    // persisted frames are shared by every session of the context, and a
    // new session alone would still hit them through plan matching
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    tracer.newRun()
    val mark = counters.mark()
    val gc0 = gcSeconds()
    val ms0 = System.currentTimeMillis()
    val stop = clocks()
    val s = spark.newSession() // new session key: every memo starts cold
    def body(): Seq[Map[String, Any]] = {
      GraftExtensions.register(s)
      order.map { q =>
        val q0 = System.nanoTime()
        val (fp, err) =
          try {
            val f = () => Materialize.fingerprint(SparkEntry.queries(q)(s, dir))
            (Some(if (tracedRep) tracer(s"operators:$q")(f()) else f()), None)
          } catch { case e: Exception => (None, Some(e.toString)) }
        Map("query" -> q, "s" -> (System.nanoTime() - q0) / 1e9, "fingerprint" -> fp.map(_.toString),
          "error" -> err)
      }
    }
    val queries = if (tracedRep) tracer("run")(body()) else body()
    (stop() ++ Map("traced" -> tracedRep, "queries" -> queries,
      "start_ms" -> ms0, "jvm_gc_s" -> (gcSeconds() - gc0)) ++ sparkWindow(spark, counters, mark), s)
  }

  def run(): Map[String, Any] = {
    val names = a("queries").split(",").toSeq
    val rng = new scala.util.Random(a.get("seed").map(_.toLong).getOrElse(0L))
    val dir = a("base")
    val order = rng.shuffle(names)
    oneRep(order, dir, tracedRep = false) // warm-up, as for the archive runs
    val reps = mutable.ArrayBuffer.empty[(Map[String, Any], SparkSession)]
    val start = System.nanoTime()
    while (more(reps.size, start, a, traced))
      pattern.foreach(t => reps += oneRep(order, dir, tracedRep = t))
    // outputs for the oracle check, written after the measured window in
    // the last repetition's session (its memos are warm, so this costs
    // less than the timed pass)
    val s = reps.last._2
    val outDir = s"${a("work")}/mix_out"
    names.foreach(q => SparkEntry.queries(q)(s, dir).write.parquet(s"$outDir/$q"))
    // ties the checked outputs to the timed passes: run.py requires every
    // timed fingerprint to equal the fingerprint of the output read back
    val outFps = names.map(q =>
      q -> Materialize.fingerprint(s.read.parquet(s"$outDir/$q")).toString).toMap
    Files.write(Paths.get(outDir, "oracle_sql.json"),
      Json(names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap).getBytes("UTF-8"))
    Map("workload" -> "query_mix", "reps" -> reps.map(_._1).toSeq, "out_dir" -> outDir,
      "out_fingerprints" -> outFps,
      "spans" -> tracer.json)
  }
}

package graft.operators

import java.time.Instant

import graft.Tables
import graft.Tables.TableSpec
import graft.catalog.Catalog
import graft.config._
import graft.sinks._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The archival engine core — `Archiver.run()` re-expressed Spark-first
  * (SURVEY.md §3.2; /root/reference/osarchiver/archiver.py:82-106).
  *
  * Per elected table, in FK child-first order:
  *   1. scan + retention filter (predicate pushed to the source scan),
  *   2. persist the archivable snapshot (read once, write N times —
  *      replaces the reference's chunk re-reading),
  *   3. fan out to every destination; ANY failure vetoes the delete
  *      (reference OSArchiverArchivingFailed, archiver.py:58-64,99-101),
  *   4. delete-back as a left-anti join on the PK against the *archived*
  *      snapshot — the file-store equivalent of the reference's chunked
  *      `DELETE … WHERE pk IN (…)` (/root/reference/osarchiver/source/db.py:300-374).
  *
  * Scale design: each table is an independent narrow scan→filter→write plan
  * (no shuffle in the archival path at all; the only exchange is the PK
  * anti-join of delete-back, which broadcasts when the archived side is
  * small and AQE-plans otherwise). Tables are embarrassingly parallel
  * across a cluster; `{now}` is one driver Instant so all tables see a
  * consistent cut (/root/reference/osarchiver/source/db.py:58-65).
  */
object Archiver {
  final case class TableResult(
      table: String,
      archivedCount: Long,
      deletedCount: Long,
      vetoed: Boolean)

  private val LiveBackup = ".__old__"

  /** Parquet-testbed delete-back: rewrite the live table without the
    * archived rows through [[Commit.replace]] (staging `.__new__`, backup
    * `.__old__`) — the live table is never deleted before its replacement
    * is durable; a run that dies mid-swap is recovered by
    * `recoverLiveStore` on the next run. Against JDBC this becomes the
    * keyed DELETE of SURVEY.md D1. Shared by the CLI and the flagship
    * `entry`. */
  def parquetLiveStore(spark: SparkSession, sourceDir: String): (
      graft.Tables.TableSpec, org.apache.spark.sql.DataFrame) => Unit =
    (spec, rest) => {
      val target = new Path(s"$sourceDir/${spec.name}.parquet")
      Commit.replace(target.getFileSystem(spark.sparkContext.hadoopConfiguration),
        target, Commit.sibling(target, ".__new__"), Commit.sibling(target, LiveBackup)) {
        tmp => rest.write.mode("overwrite").parquet(tmp.toString)
      }
    }
}

final class Archiver(
    spark: SparkSession,
    conf: ArchiverConfig,
    now: Instant = Instant.now(),
    sinkOverride: Option[Seq[Sink]] = None) {
  import Archiver.TableResult

  /** W5 — same-host safety rename: a destination that resolves to the
    * source's own location must archive under `<db>_archive` so live data
    * can never be overwritten (reference forces the suffix when dst
    * host:port == src host:port, destination/db/db.py:53-115). */
  private def dbNameFor(destDir: String): String = {
    val src = new java.io.File(conf.source.dir).getAbsolutePath
    val dst = new java.io.File(destDir).getAbsolutePath
    if (src == dst) conf.source.name + "_archive" else conf.source.name
  }

  private val sinks: Seq[(Sink, String)] = sinkOverride
    .map(_.map(s => s -> conf.source.name))
    .getOrElse(conf.destinations.map {
      case ParquetDestination(_, dir, evolve) =>
        new ParquetUpsertSink(rt(dir), evolve) -> dbNameFor(rt(dir))
      case CsvDestination(_, dir, comp) =>
        new CsvSink(rt(dir), comp) -> dbNameFor(rt(dir))
      case SqlDumpDestination(_, dir, comp) =>
        new SqlDumpSink(rt(dir), comp) -> dbNameFor(rt(dir))
      case JdbcDestination(_, url, dialect, batchSize) =>
        new JdbcUpsertSink(
          JdbcSinkConfig(url = rt(url), batchSize = batchSize),
          if (dialect == "mysql") MySqlDialect else AnsiDialect) -> conf.source.name
    })

  private def rt(s: String): String = graft.config.Config.interpolateRuntime(s, now)

  /** Rows eligible for archiving in one table (operator S6+P2: filtered
    * scan, predicate pushed down). */
  def archivable(df: DataFrame, spec: TableSpec): DataFrame = {
    val deletedCol = spec.deletedColumn.getOrElse(
      throw new IllegalArgumentException(s"${spec.name} has no retention column"))
    val pred = conf.source.whereTemplate match {
      case Some(tpl) => Retention.fromTemplate(tpl, now, deletedCol)
      case None => Retention.predicate(deletedCol, now, conf.source.retention)
    }
    df.filter(pred)
  }

  /** Remaining live rows after a successful archive: anti-join on PK against
    * the archived snapshot (D1). Vetoed tables keep all rows (D2). */
  def remaining(live: DataFrame, archived: DataFrame, spec: TableSpec): DataFrame =
    live.join(archived.select(spec.pk.map(col): _*), spec.pk, "left_anti")

  /** Run one table end-to-end; returns counts + whether delete was vetoed.
    * `liveStore` receives the post-delete table when deleteData is on — in
    * the testbed that's a parquet rewrite, against JDBC it would be the
    * keyed DELETE of SURVEY.md D1. */
  def runTable(
      spec: TableSpec,
      liveStore: Option[(TableSpec, DataFrame) => Unit] = None): TableResult = {
    val live = Tables.load(spark, conf.source.dir, spec.name)
    val archived = archivable(live, spec)
    // One snapshot for every sink and the delete decision — the reference
    // gets this for free by buffering the chunk; we persist the filtered set.
    archived.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = archived.count()
      var vetoed = false
      if (conf.archiveData && n > 0) {
        sinks.foreach { case (s, sinkDb) =>
          try s.write(sinkDb, spec, archived, conf.dryRun)
          catch {
            case e: Exception =>
              // archiving failed => delete MUST NOT run (archiver.py:96-103)
              vetoed = true
              System.err.println(
                s"[archiver:${conf.name}] sink ${s.name} failed for ${spec.name}, " +
                  s"delete vetoed: ${e.getMessage}")
          }
        }
      }
      var deleted = 0L
      if (conf.deleteData && !vetoed && !conf.dryRun && n > 0 && liveStore.isDefined) {
        val rest = remaining(live, archived, spec)
        liveStore.foreach(f => f(spec, rest))
        deleted = n // only counted when a live store actually applied it
      }
      TableResult(spec.name, n, deleted, vetoed)
    } finally archived.unpersist()
  }

  /** Finish any delete-back swap a crash interrupted ([[Commit.recover]]
    * on every `<name>.__old__`) — must run before discovery, or a table
    * stranded at its backup simply isn't seen. */
  private def recoverLiveStore(): Unit = {
    val dir = new Path(conf.source.dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(Archiver.LiveBackup)).foreach { st =>
        Commit.recover(fs,
          new Path(dir, st.getPath.getName.stripSuffix(Archiver.LiveBackup)), st.getPath)
      }
  }

  /** Full run: discover (S1/S2), elect tables (T1–T5), FK order them (T6),
    * archive each.
    *
    * `parallelism > 1` runs tables concurrently in FK "waves": a table
    * joins a wave only when every elected child table is already done, so
    * delete-back still never orphans child rows, but independent tables
    * (the common case — most tables share no FK path) submit their Spark
    * jobs simultaneously instead of serializing driver-side. Each wave is
    * a barrier; within it, results arrive in deterministic table order.
    */
  def run(
      liveStore: Option[(TableSpec, DataFrame) => Unit] = None,
      parallelism: Int = 1): Seq[TableResult] = {
    recoverLiveStore()
    val present = Catalog.discoverTables(conf.source.dir,
      spark.sparkContext.hadoopConfiguration).toSet
    // one schema probe per present table: it resolves the soft-delete
    // column and stands in for electTables' own per-candidate column gate
    val fieldsOf = Tables.specs.filter(s => present.contains(s.name))
      .map(s => s.name -> Tables.load(spark, conf.source.dir, s.name)
        .schema.fieldNames.toSet).toMap
    val candidates = Tables.specs.filter(s => fieldsOf.contains(s.name))
      .map(s => s.copy(deletedColumn =
        // the configured soft-delete column applies only where it exists
        if (fieldsOf(s.name).contains(conf.source.deletedColumn))
          Some(conf.source.deletedColumn)
        else s.deletedColumn))
    val elected = Catalog.electTables(
      spark, conf.source.dir, candidates,
      include = conf.source.tables,
      excludeRegexes = conf.source.excludedTables,
      deletedColumnRequired = false)
      .filter(s => s.deletedColumn.exists(fieldsOf(s.name).contains))
    if (parallelism <= 1) return elected.map(runTable(_, liveStore))

    // FK waves over the ACYCLIC elected set: wave(t) = 1 + max(wave(elected
    // children)). Cyclic tables (TopoSort reports them) can't be leveled —
    // they run sequentially after all waves, the reference's escape hatch.
    val topo = graft.catalog.TopoSort.sort(elected)
    val cyclic = topo.cyclic.toSet
    val acyclic = elected.filterNot(t => cyclic.contains(t.name))
    val electedNames = acyclic.map(_.name).toSet
    val children = graft.catalog.TopoSort.childrenOf(acyclic)
      .view.mapValues(_.intersect(electedNames)).toMap
    val waveOf = scala.collection.mutable.Map[String, Int]()
    def wave(t: TableSpec): Int = waveOf.getOrElseUpdate(t.name, {
      val kids = children.getOrElse(t.name, Set.empty) - t.name
      if (kids.isEmpty) 0
      else 1 + kids.map(k => wave(acyclic.find(_.name == k).get)).max
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val waved = acyclic.groupBy(wave).toSeq.sortBy(_._1).flatMap { case (_, tables) =>
        val futures = tables.map(t =>
          scala.concurrent.Future(t.name -> runTable(t, liveStore)))
        val done = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf).toMap
        tables.map(t => done(t.name)) // deterministic order within the wave
      }
      waved ++ elected.filter(t => cyclic.contains(t.name)).map(runTable(_, liveStore))
    } finally pool.shutdown()
  }
}

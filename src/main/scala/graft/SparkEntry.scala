package graft

import java.time.Instant

import graft.config._
import graft.operators.Archiver
import graft.queries.QueryKit.tmpDir
import graft.queries.Registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one query per implemented operator from SURVEY.md
  * §2, each with a DuckDB-equivalent oracle (FIXTURES.md oracle
  * protocol). The queries live in `graft.queries`, one file per family,
  * each build next to its oracle; the two maps here are derived from
  * that registry once.
  */
object SparkEntry {

  /** Flagship: the COMPLETE archival semantic on a writable copy of
    * sf0.001 — elect → FK order → retention filter → fan-out to
    * parquet+csv+sqldump sinks → delete-back from the live store → then a
    * SECOND run proving idempotence (everything already archived and
    * deleted, so it archives 0). Returns the per-table summary of both
    * runs; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val out = tmpDir("graft-entry")
    val src = s"$out/live"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    Tables.names.foreach { tname =>
      val from = java.nio.file.Paths.get(
        s"/root/testdata/sf0.001/$tname.parquet")
      if (java.nio.file.Files.exists(from))
        java.nio.file.Files.copy(from,
          java.nio.file.Paths.get(s"$src/$tname.parquet"))
    }
    val conf = ArchiverConfig(
      name = "smoke",
      source = SourceConfig(name = "sf0001", dir = src,
        retention = "12 MONTH"),
      destinations = Seq(
        ParquetDestination("arch", s"$out/parquet"),
        CsvDestination("csv", s"$out/csv"),
        SqlDumpDestination("sql", s"$out/sql")),
      archiveData = true, deleteData = true)
    // fixed snapshot past every fixture's time range (orders/lineitem end
    // 2001, events end 2024-01) so each elected table archives rows
    def runOnce() = new Archiver(spark, conf,
      now = Instant.parse("2025-06-01T00:00:00Z"))
      .run(Some(Archiver.parquetLiveStore(spark, src)))
    val first = runOnce()
    val second = runOnce().map(r => r.table -> r).toMap
    import spark.implicits._
    first.map { r =>
      val r2 = second(r.table)
      (r.table, r.archivedCount, r.deletedCount, r.vetoed,
        r2.archivedCount, r2.archivedCount == 0L)
    }.toDF("table_name", "archived", "deleted", "vetoed",
      "rerun_archived", "rerun_idempotent")
  }

  /** Every query's Spark build, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(d => d.name -> d.build).toMap

  /** Every query's DuckDB oracle SQL, by name (the same names). */
  lazy val oracleSql: Map[String, String] =
    Registry.all.map(d => d.name -> d.oracle).toMap
}

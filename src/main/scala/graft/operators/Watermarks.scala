package graft.operators

import graft.sinks.Commit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** High-watermark store for INCREMENTAL archival runs.
  *
  * The reference re-scans every table each run and relies on the keyset
  * loop + idempotent upsert to make that cheap-ish
  * (`/root/reference/osarchiver/source/db.py:242-277`). At 100 TB a full
  * re-scan per run is the bill that matters: this store records, per
  * (table, column), the highest value already archived, and the next run
  * filters `col > watermark` — a predicate Catalyst pushes into the scan,
  * so incremental cost is proportional to NEW data, with partition/row-
  * group pruning doing the skipping.
  *
  * Storage is a tiny single-partition parquet KV (table_name, col_name,
  * wm_value as string) rewritten atomically via the same [[Commit]] swap
  * the sinks use. Values round-trip as strings with the column's type
  * recorded, so timestamps/longs/decimals all work; `advance` is
  * monotone (max of old and new) making re-runs and replays safe.
  */
final class Watermarks(spark: SparkSession, path: String) {

  private val schema = "table_name string, col_name string, " +
    "wm_value string, wm_type string"

  // All store IO goes through the Hadoop FileSystem API so the store works
  // on any URI the sinks accept (file://, hdfs://, s3a://) — a java.io.File
  // store would silently see "no store" on a remote URI and degrade every
  // incremental run to a full rescan.
  private def fsFor(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def target = new org.apache.hadoop.fs.Path(path)
  private def bakPath = new org.apache.hadoop.fs.Path(path + ".bak")
  private def tmpPath = new org.apache.hadoop.fs.Path(path + ".tmp")

  /** A previous run that died mid-swap may have left the store only at
    * `.bak` — restore it so the watermark is never lost. */
  private def recover(): Unit = Commit.recover(fsFor(target), target, bakPath)

  def load(): DataFrame = {
    recover()
    val fs = fsFor(target)
    val hasData = fs.exists(target) &&
      fs.listStatus(target).exists(_.getPath.getName.endsWith(".parquet"))
    if (hasData) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  /** Current watermark for (table, column), or None on first run. */
  def get(table: String, column: String): Option[(String, String)] =
    load().filter(col("table_name") === table && col("col_name") === column)
      .select("wm_value", "wm_type").collect()
      .headOption.map(r => (r.getString(0), r.getString(1)))

  /** The incremental filter: rows at or beyond the watermark (all rows on
    * first run). INCLUSIVE on purpose: rows inserted later with a value
    * exactly equal to the stored max (same-second inserts under coarse
    * timestamps) must not be lost, and the idempotent upsert sinks make
    * re-archiving the boundary rows free. NULL-valued rows always pass —
    * a watermark cannot order them, so their archivability is decided by
    * the caller's own predicate (e.g. retention's IS NOT NULL), not by
    * run order. Comparison happens in the COLUMN's type, so pushdown
    * stays type-correct. */
  def beyond(df: DataFrame, table: String, column: String): DataFrame =
    get(table, column) match {
      case Some((v, t)) =>
        df.filter(col(column).isNull || col(column) >= lit(v).cast(t))
      case None => df
    }

  /** Record the max archived value of `column` in `archived`; monotone
    * merge with any existing watermark. No-op on an empty batch (the
    * watermark must never regress or go null). */
  def advance(table: String, column: String, archived: DataFrame): Unit = {
    val typ = archived.schema(column).dataType.simpleString
    val head = archived.agg(max(col(column)).cast("string")).collect().head
    if (!head.isNullAt(0)) {
      val newVal = head.getString(0)
      val merged = load()
        .filter(!(col("table_name") === table && col("col_name") === column))
        .unionByName(
          get(table, column) match {
            case Some((old, _)) =>
              // compare in the column's type, not lexicographically
              val winner = spark.range(1).select(
                when(lit(newVal).cast(typ) > lit(old).cast(typ), lit(newVal))
                  .otherwise(lit(old)).as("w")).collect().head.getString(0)
              kvRow(table, column, winner, typ)
            case None => kvRow(table, column, newVal, typ)
          })
      writeSwap(merged)
    }
  }

  private def kvRow(t: String, c: String, v: String, typ: String): DataFrame =
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(t, c, v, typ)),
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** Crash-safe swap through [[Commit.replace]] (staging `.tmp`, backup
    * `.bak`): the store is either at `path` or at `path.bak`, never gone,
    * and `recover()` on the next load/advance puts it back. */
  private def writeSwap(df: DataFrame): Unit =
    Commit.replace(fsFor(target), target, tmpPath, bakPath) { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    }
}

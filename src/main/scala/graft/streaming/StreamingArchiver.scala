package graft.streaming

import java.time.Instant

import graft.Tables
import graft.Tables.TableSpec
import graft.operators.Retention
import graft.sinks.Sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous archival — the streaming extension of the batch Archiver.
  *
  * The reference archives in scheduled batch runs; at 100 TB/day of
  * appends, re-scanning the live store each run is the bottleneck. This
  * operator tails the live table as a file stream and archives each
  * micro-batch through the same Sink fan-out, preserving the batch
  * engine's semantics:
  *  - retention predicate evaluated per micro-batch against a consistent
  *    per-batch snapshot instant,
  *  - every sink write must succeed before the batch is committed to the
  *    checkpoint (a sink failure fails the batch; re-processing is safe
  *    because sinks are idempotent upserts keyed on PK),
  *  - exactly-once *effect* therefore comes from idempotence + checkpoint
  *    replay, the streaming analogue of ON DUPLICATE KEY UPDATE.
  */
object StreamingArchiver {

  /** Start continuously archiving `table` from `sourceDir` through `sinks`.
    *
    * @param now  fixed snapshot for deterministic tests; None = per-batch
    *             processing-time snapshot
    */
  def start(
      spark: SparkSession, sourceDir: String, spec: TableSpec,
      sinks: Seq[Sink], db: String, retention: String,
      checkpoint: String, now: Option[Instant] = None,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val deletedCol = spec.deletedColumn.getOrElse(
      throw new IllegalArgumentException(s"${spec.name} has no retention column"))
    val path = s"$sourceDir/${spec.name}.parquet"
    val (dir, glob) = {
      val f = new java.io.File(path)
      if (f.isFile) (f.getParent, f.getName) else (path, "*")
    }
    val schema = spark.read.parquet(path).schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
    stream.writeStream
      .queryName(s"graft_archive_${spec.name}")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val snapshot = now.getOrElse(Instant.now())
        val archivable = batch.filter(
          Retention.predicate(deletedCol, snapshot, retention))
        archivable.persist()
        try {
          if (archivable.count() > 0)
            // any sink failure propagates => batch not committed, replayed
            sinks.foreach(_.write(db, spec, archivable, false))
        } finally archivable.unpersist()
      }
      .start()
  }
}

package graft.sinks

import graft.Tables.TableSpec

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Archive destinations — SURVEY.md §2.4 (W1–W11).
  *
  * The reference fans each chunk out to N destinations and vetoes the
  * delete if any destination write fails
  * (/root/reference/osarchiver/archiver.py:44-64,96-103). Here each sink
  * writes a whole per-table DataFrame; the caller persists the DataFrame
  * first so all sinks (and the delete-back) see one snapshot.
  *
  * Scale notes: every sink is a distributed `df.write` — no driver-side
  * row loops; compression is a write-time codec (reference compresses files
  * post-hoc, destination/file/base.py:113-133); "upsert" idempotence is
  * merge-by-PK, the Spark-equivalent of the reference's
  * `INSERT … ON DUPLICATE KEY UPDATE pk = pk`
  * (/root/reference/osarchiver/destination/db/db.py:392-400).
  */
trait Sink {
  def name: String

  /** Write one table's archived rows. Must throw on failure — the archiver
    * turns that into a delete veto. */
  def write(db: String, spec: TableSpec, df: DataFrame, dryRun: Boolean): Unit
}

/** Schema drift detected between a previous archive and the source —
  * Spark-native form of OSArchiverNotEqualTableCreateStatements
  * (/root/reference/osarchiver/destination/db/errors.py:11-30). */
final class SchemaDriftException(msg: String) extends RuntimeException(msg)

object SchemaGuard {
  /** The reference string-compares `SHOW CREATE TABLE` output (stripping
    * AUTO_INCREMENT) on re-runs (destination/db/db.py:246-277). The Spark
    * equivalent is structural StructType equality, nullability ignored
    * (parquet append relaxes nullability). */
  def check(existing: StructType, incoming: StructType, where: String): Unit = {
    def canon(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (canon(existing) != canon(incoming))
      throw new SchemaDriftException(
        s"schema drift at $where: archived=${existing.simpleString} " +
          s"incoming=${incoming.simpleString}")
  }

  /** Additive-evolution variant (W4+): columns may APPEAR in or DISAPPEAR
    * from the incoming batch (a source ALTER TABLE mid-archival-history —
    * the case the reference hard-fails on, destination/db/db.py:246-277);
    * rows on the short side backfill NULL. What still drifts hard: a type
    * change on any SHARED column — silently unioning int-then-string would
    * corrupt the archive, and no NULL backfill can represent that.
    */
  def checkEvolvable(
      existing: StructType, incoming: StructType, where: String): Unit = {
    val ex = existing.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.foreach { f =>
      ex.get(f.name).foreach { et =>
        if (et != f.dataType)
          throw new SchemaDriftException(
            s"type drift at $where on column ${f.name}: " +
              s"archived=${et.simpleString} incoming=${f.dataType.simpleString}")
      }
    }
  }
}

/** W-layer delivery manifest: after a successful write, a
  * `_graft_manifest.json` beside the data records the row count and the
  * file inventory (name + bytes). Downstream consumers — and a
  * belt-and-braces delete-back gate — can verify delivery without
  * reading the data; the `_` prefix keeps Spark readers from ever
  * scanning it. Written through the Hadoop FS API, so it works on any
  * URI the sinks accept (file://, s3a://, ...). The reference's closest
  * analogue is its per-file success/error logging on Swift upload
  * (/root/reference/osarchiver/destination/file/remote_store/swift.py:48-61);
  * this makes the delivery record machine-checkable.
  */
object Manifest {
  /** Minimal JSON string escaping: quotes, backslashes and control chars.
    * Table/file names are caller-supplied — an unescaped quote would make
    * the manifest unparseable for downstream verifiers. */
  private[sinks] def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(spark: SparkSession, dir: String, table: String,
      rows: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    val fileJson = files.map(st =>
        s"""{"name":${jstr(st.getPath.getName)},"bytes":${st.getLen}}""")
      .mkString("[", ",", "]")
    val json = s"""{"table":${jstr(table)},"rows":$rows,""" +
      s""""n_files":${files.length},"files":$fileJson}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(p, ManifestName), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  val ManifestName = "_graft_manifest.json"

  /** Run `write` on `df` and return the rows it wrote, counted on the write
    * job itself (`Dataset.observe`) — no separate count job, no read-back. */
  def countingWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }
}

/** W2/W3/W4 — idempotent keyed archive store on parquet.
  *
  * Re-archiving the same rows must not duplicate them (the whole point of
  * the reference's ON DUPLICATE KEY UPDATE upsert). Implemented as
  * merge-by-PK: existing ∪ incoming, first-writer-wins per key. At 100 TB
  * the same operator runs against a transactional table format; the merge is
  * a single shuffle on the PK either way.
  *
  * `evolveSchema = true` switches the W4 drift guard to ADDITIVE evolution:
  * a source ALTER TABLE ADD/DROP COLUMN between runs merges instead of
  * failing — new columns appear (old rows NULL), dropped columns survive
  * (new rows NULL), while a type change on a shared column still fails
  * hard ([[SchemaGuard.checkEvolvable]]). PK columns are required in every
  * batch by construction (the anti-join would fail loudly otherwise).
  */
final class ParquetUpsertSink(root: String, evolveSchema: Boolean = false)
    extends Sink {
  override def name: String = s"parquet:$root"

  override def write(db: String, spec: TableSpec, df: DataFrame, dryRun: Boolean): Unit = {
    val path = s"$root/$db/${spec.name}"
    val spark = df.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val backup = Commit.sibling(target, ".__old__")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dryRun) { df.count(); return } // X4: execute the read, skip the write
    // a previous run that died mid-swap may have left the archive at the
    // backup location — restore it before deciding create vs merge
    Commit.recover(fs, target, backup)
    val rows = if (!fs.exists(target)) {
      Manifest.countingWrite(df)(_.write.mode(SaveMode.ErrorIfExists).parquet(path))
    } else {
      val existing = spark.read.parquet(path)
      if (evolveSchema) SchemaGuard.checkEvolvable(existing.schema, df.schema, path)
      else SchemaGuard.check(existing.schema, df.schema, path)
      // Upsert: keep existing rows for already-archived PKs (pk = pk no-op
      // update), append only genuinely new keys — dedup happens on the PK
      // shuffle, map-side combined by AQE.
      val newRows = df.join(existing.select(spec.pk.map(col): _*), spec.pk, "left_anti")
      // under evolution the union backfills NULL on whichever side lacks a
      // column; with evolution off the schemas are structurally equal and
      // allowMissingColumns is a no-op
      val merged = existing.unionByName(newRows, allowMissingColumns = evolveSchema)
      // the previous archive is never deleted before the new one is in
      // place (archived rows may already be delete-backed from the source
      // — losing them here would be silent data loss)
      Commit.replace(fs, target, Commit.sibling(target, ".__staging__"), backup) { tmp =>
        Manifest.countingWrite(merged)(_.write.mode(SaveMode.Overwrite).parquet(tmp.toString))
      }
    }
    Manifest.write(spark, path, spec.name, rows)
  }

  def read(spark: SparkSession, db: String, table: String): DataFrame =
    spark.read.parquet(s"$root/$db/$table")
}

/** W6 — CSV file destination: one directory of `db.table` CSV part files,
  * header on, optional codec (reference: csv.DictWriter + post-hoc
  * compression, destination/file/csv.py:20-58). */
final class CsvSink(root: String, compression: Option[String] = None) extends Sink {
  override def name: String = s"csv:$root"
  override def write(db: String, spec: TableSpec, df: DataFrame, dryRun: Boolean): Unit = {
    if (dryRun) { df.count(); return }
    val path = s"$root/$db.${spec.name}.csv"
    val rows = Manifest.countingWrite(df) { counted =>
      val w = counted.write.mode(SaveMode.Overwrite).option("header", "true")
      compression.fold(w)(c => w.option("compression", c)).csv(path)
    }
    Manifest.write(df.sparkSession, path, spec.name, rows)
  }
}

/** W7 — SQL-dump destination: each row rendered as an idempotent
  * `INSERT … ON DUPLICATE KEY UPDATE pk = pk;` statement
  * (/root/reference/osarchiver/destination/file/sql.py:34-84).
  *
  * The rendering is a pure column expression ([[SqlDump.statements]]) so it
  * runs inside whole-stage codegen and writes with `text()` — no driver
  * formatting loop.
  */
final class SqlDumpSink(root: String, compression: Option[String] = None) extends Sink {
  override def name: String = s"sqldump:$root"
  override def write(db: String, spec: TableSpec, df: DataFrame, dryRun: Boolean): Unit = {
    if (dryRun) { df.count(); return }
    val w = SqlDump.statements(df, db, spec).write.mode(SaveMode.Overwrite)
    compression.fold(w)(c => w.option("compression", c))
      .text(s"$root/$db.${spec.name}.sql")
  }
}

object SqlDump {

  /** MySQL-style string escaping as a column expression (reference uses
    * pymysql.escape_string, destination/file/sql.py:60): backslash first,
    * then quote/newline/CR/tab/NUL. */
  def escape(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val steps: Seq[(String, String)] = Seq(
      "\\" -> "\\\\", "'" -> "\\'", "\n" -> "\\n", "\r" -> "\\r",
      "\t" -> "\\t", "\u0000" -> "\\0")
    steps.foldLeft(c) { case (acc, (from, to)) =>
      regexp_replace(acc, java.util.regex.Pattern.quote(from),
        java.util.regex.Matcher.quoteReplacement(to))
    }
  }

  /** Render one SQL literal per column, NULL-safe: strings quoted+escaped,
    * timestamps as 'yyyy-MM-dd HH:mm:ss', numerics unquoted
    * (int-vs-string quoting mirrors the reference's pk type sniffing,
    * source/db.py:264-277; NULL rendering, file/sql.py:59-66). */
  def literal(df: DataFrame, field: StructField): org.apache.spark.sql.Column = {
    val c = col(field.name)
    val rendered = field.dataType match {
      case StringType => concat(lit("'"), escape(c), lit("'"))
      case TimestampType | TimestampNTZType =>
        concat(lit("'"), date_format(c, "yyyy-MM-dd HH:mm:ss"), lit("'"))
      case DateType => concat(lit("'"), date_format(c, "yyyy-MM-dd"), lit("'"))
      case DoubleType | FloatType =>
        // fixed-scale rendering keeps dumps stable across engines
        c.cast(DecimalType(18, 2)).cast(StringType)
      case BinaryType => concat(lit("X'"), hex(c), lit("'"))
      case _ => c.cast(StringType)
    }
    when(c.isNull, lit("NULL")).otherwise(rendered)
  }

  /** One `stmt` column of idempotent INSERTs for the whole DataFrame. */
  def statements(df: DataFrame, db: String, spec: TableSpec): DataFrame = {
    val cols = df.schema.fields.toSeq
    val colList = cols.map(f => s"`${f.name}`").mkString(", ")
    val values = cols.map(f => literal(df, f))
    val valueList = concat_ws(", ", values: _*)
    val pk = spec.pk.head
    df.select(
      concat(
        lit(s"INSERT INTO `$db`.`${spec.name}` ($colList) VALUES ("),
        valueList,
        lit(s") ON DUPLICATE KEY UPDATE `$pk` = `$pk`;")
      ).as("stmt"))
  }
}

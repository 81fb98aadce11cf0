package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic versioned dataset publishing (W13): each publish writes a fresh
  * immutable `v=N` directory, then commits it by swapping a one-line
  * `_LATEST` pointer file — readers resolve the pointer and never observe
  * a half-written version. The pattern every warehouse-table format builds
  * on (snapshot + pointer swap; cf. the reference's date-suffixed dump
  * directories, /root/reference/osarchiver/destination/file/base.py:38-49,
  * which version by naming but have no atomic commit point).
  *
  * Crash safety, in publish order:
  *  - a death while writing `v=N` leaves a dir WITHOUT Spark's `_SUCCESS`
  *    marker: invisible to [[resolve]] (which requires the marker), and the
  *    next publish picks `max(listed)+1` so the torso is never reused;
  *  - the pointer swap is write-temp + delete + rename (the Watermarks
  *    discipline); a death between delete and rename leaves no pointer, and
  *    [[resolve]] falls back to the highest _SUCCESS-complete version — the
  *    just-published one, so the commit is effectively preserved;
  *  - retention never deletes the resolved version.
  *
  * All IO goes through the Hadoop FS API, so any URI the sinks accept
  * (file://, hdfs://, s3a://) works. Scale: pointer and listing are O(K)
  * driver metadata ops; data IO is the parquet write itself, fully
  * distributed.
  */
object VersionedPublish {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v=")) scala.util.Try(n.drop(2).toLong).toOption else None
  }

  /** All version dirs under `base`, complete or not. */
  private def listVersions(fs: FileSystem, base: Path): Seq[(Long, Path)] =
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.filter(_.isDirectory)
      .flatMap(st => versionOf(st.getPath).map(_ -> st.getPath))
      .sortBy(_._1)

  /** The id the next publish under `base` takes: one past every listed
    * version, complete or torso, so a torso's id is never reused. */
  private def nextVersion(fs: FileSystem, base: Path): Long = {
    fs.mkdirs(base)
    listVersions(fs, base).map(_._1).foldLeft(0L)(math.max) + 1
  }

  /** Marks a complete single-table version (Spark's own job marker). */
  private val VersionMarker = "_SUCCESS"

  private def isComplete(fs: FileSystem, dir: Path, marker: String): Boolean =
    fs.exists(new Path(dir, marker))

  /** The committed version readers should see: the `_LATEST` pointer when
    * it names a version holding `marker`, else the highest such version
    * (the crash-between-delete-and-rename fallback), else None. */
  private def resolveWith(spark: SparkSession, baseUri: String,
      marker: String): Option[(Long, String)] = {
    val base = new Path(baseUri)
    val fs = fsFor(spark, base)
    val ptr = new Path(base, "_LATEST")
    val pointed: Option[(Long, Path)] =
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        val s = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        scala.util.Try(s.toLong).toOption
          .map(v => v -> new Path(base, s"v=$v"))
          .filter { case (_, d) => fs.exists(d) && isComplete(fs, d, marker) }
      }
    pointed.orElse(
        listVersions(fs, base).filter(v => isComplete(fs, v._2, marker)).lastOption)
      .map { case (v, d) => (v, d.toString) }
  }

  /** Commit version `next` by swapping the `_LATEST` pointer, then apply
    * retention: the newest `keep` versions holding `marker` survive (and
    * `next` always does); older ones and stale torsos are deleted. */
  private def commitPointer(fs: FileSystem, base: Path, next: Long,
      keep: Int, marker: String): Unit = {
    // commit point: temp + delete + rename (rename-over-existing is not
    // portable across Hadoop filesystems)
    val tmp = new Path(base, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    val ptr = new Path(base, "_LATEST")
    if (fs.exists(ptr)) fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new java.io.IOException(s"cannot commit _LATEST for $base")
    val complete = listVersions(fs, base).filter(v => isComplete(fs, v._2, marker))
    val keepSet = complete.takeRight(keep).map(_._1).toSet + next
    listVersions(fs, base).foreach { case (v, d) =>
      if (!keepSet.contains(v) && v < next) fs.delete(d, true)
    }
  }

  /** The committed single-table version readers should see, or None. */
  def resolve(spark: SparkSession, baseUri: String): Option[(Long, String)] =
    resolveWith(spark, baseUri, VersionMarker)

  /** Publish `df` as the next version; returns the committed version id.
    * Keeps the newest `keep` complete versions (the resolved one always
    * survives); partial (no `_SUCCESS`) torsos older than the new version
    * are pruned too.
    */
  def publish(df: DataFrame, baseUri: String, keep: Int = 3): Long = {
    require(keep >= 1, "must keep at least the published version")
    val spark = df.sparkSession
    val base = new Path(baseUri)
    val fs = fsFor(spark, base)
    val next = nextVersion(fs, base)
    val vdir = new Path(base, s"v=$next")
    df.write.mode("overwrite").parquet(vdir.toString)
    commitPointer(fs, base, next, keep, VersionMarker)
    next
  }

  /** Time-travel read: load a SPECIFIC committed version by id. Versions
    * are immutable once committed, so any version that retention has kept
    * reads back byte-identical to what was published — the audit /
    * reproducibility primitive ("train exactly on what v3 was"). Fails
    * loudly for an unknown, pruned, or incomplete (no `_SUCCESS`) id
    * rather than silently reading a torso.
    */
  def readVersion(spark: SparkSession, baseUri: String,
      version: Long): DataFrame = {
    val base = new Path(baseUri)
    val fs = fsFor(spark, base)
    val vdir = new Path(base, s"v=$version")
    if (!fs.exists(vdir) || !isComplete(fs, vdir, VersionMarker))
      throw new java.util.NoSuchElementException(
        s"version $version is not a complete committed version under " +
          s"$baseUri (pruned by retention, never published, or torso)")
    spark.read.parquet(vdir.toString)
  }

  /** Read the committed version (None resolves to an error — publishing
    * must have happened). */
  def readLatest(spark: SparkSession, baseUri: String): DataFrame = {
    val (_, dir) = resolve(spark, baseUri).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed version under $baseUri"))
    spark.read.parquet(dir)
  }

  // ---- multi-table atomic snapshots -------------------------------------

  private val SnapshotMarker = "_SNAPSHOT_COMPLETE"

  /** Publish N tables as ONE atomic snapshot version — the cross-table
    * consistency primitive a relational export needs: a reader must never
    * observe v2's orders with v1's lineitems (FK-consistent table sets
    * only make sense together). Every table writes under `v=N/<table>/`,
    * then a snapshot-level marker commits the version and the `_LATEST`
    * pointer swaps — a crash anywhere before the marker leaves an
    * invisible torso (resolution falls back to the previous complete
    * snapshot), exactly the single-table publish guarantee lifted to the
    * table set. Retention keeps the newest `keep` complete snapshots.
    *
    * Scale shape: per-table parquet writes are independent jobs (no
    * cross-table shuffle); atomicity costs two driver-side filesystem
    * renames regardless of data volume. */
  def publishSnapshot(tables: Seq[(String, DataFrame)], baseUri: String,
      keep: Int = 3): Long = {
    require(tables.nonEmpty, "a snapshot needs at least one table")
    require(keep >= 1, "must keep at least the published snapshot")
    require(tables.map(_._1).distinct.size == tables.size,
      "duplicate table names in one snapshot")
    val spark = tables.head._2.sparkSession
    val base = new Path(baseUri)
    val fs = fsFor(spark, base)
    val next = nextVersion(fs, base)
    val vdir = new Path(base, s"v=$next")
    // the per-table writes are INDEPENDENT jobs into disjoint subdirs —
    // submit them concurrently so the next table's tasks back-fill
    // executors freed by the current table's write tail (r12; the
    // overlap-independent-jobs discipline), on no more threads than
    // Spark has task slots (`defaultParallelism`). Atomicity is untouched: the snapshot marker still lands
    // only after EVERY write returned, and any write failure propagates
    // before the marker exists.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tables.size, spark.sparkContext.defaultParallelism))
    val failures = try {
      tables.map { case (name, df) =>
        val write: java.util.concurrent.Callable[Unit] = () => {
          // job descriptions are thread-local: label each write
          df.sparkSession.sparkContext
            .setJobDescription(s"publishSnapshot v=$next/$name")
          df.write.mode("overwrite").parquet(new Path(vdir, name).toString)
        }
        pool.submit(write)
      }.flatMap(f => scala.util.Try(f.get()).failed.toOption.map {
        case e: java.util.concurrent.ExecutionException => e.getCause
        case e => e
      })
    } finally pool.shutdown()
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    // snapshot commit point: marker AFTER every table landed
    fs.create(new Path(vdir, SnapshotMarker), true).close()
    commitPointer(fs, base, next, keep, SnapshotMarker)
    next
  }

  /** The committed snapshot readers should see — [[resolve]] with the
    * snapshot-level marker. */
  def resolveSnapshot(spark: SparkSession,
      baseUri: String): Option[(Long, String)] =
    resolveWith(spark, baseUri, SnapshotMarker)

  /** Read one table of the committed snapshot — every table read through
    * the same resolved version is mutually consistent by construction. */
  def readSnapshotTable(spark: SparkSession, baseUri: String,
      table: String): DataFrame = {
    val (_, dir) = resolveSnapshot(spark, baseUri).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed snapshot under $baseUri"))
    spark.read.parquet(new Path(dir, table).toString)
  }
}

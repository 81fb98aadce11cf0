package graft.operators

import graft.sinks.Commit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Archive maintenance: compact a parquet directory to a target file size.
  *
  * Long-running archival produces many small files (one batch = one or
  * more part files); at 100 TB that turns every downstream scan into a
  * listing/open-latency problem. Compaction rewrites the directory with
  * partition count sized from the actual bytes on storage, through the
  * same [[graft.sinks.Commit]] swap as the upsert sink so a crash never
  * loses the archive.
  */
object Compaction {

  /** Rewrite `path` so each output file targets `targetBytes` (default
    * 128 MB — one HDFS/object-store block). Returns the new file count.
    * An archive a crashed sink merge or compaction stranded at
    * `<path>.__old__` is restored first. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Commit.replace(fs, p, Commit.sibling(p, ".__compact__"),
      Commit.sibling(p, ".__old__")) { tmp =>
      val bytes = fs.getContentSummary(p).getLength
      val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      spark.read.parquet(path).repartition(parts).write.mode("overwrite").parquet(tmp.toString)
      parts
    }
  }

  /** Cluster-and-write: range-partition on `clusterCols`, sort within each
    * partition, write parquet. Every output file then owns a DISJOINT key
    * range, so parquet min/max column statistics let any later scan skip
    * every file (and row group) outside its predicate range — the
    * data-layout investment that turns a 100 TB archive scan into a
    * few-file read for time- or key-bounded queries. The single-dimension
    * cousin of Z-ordering; pay the one range shuffle at write time, save
    * it on every read after.
    *
    * `parts` sizes the files (aim for ~128 MB each); the range partitioner
    * samples the data, so file boundaries follow the actual distribution
    * (a skewed key space still yields even files).
    */
  /** Dynamic partition overwrite — the idempotent-rerun primitive of a
    * partitioned pipeline: `mode(overwrite)` with
    * `partitionOverwriteMode=dynamic` replaces ONLY the partitions the
    * incoming frame actually contains and leaves every other partition's
    * files untouched (static overwrite would truncate the whole table —
    * the classic rerun-one-day-lose-a-year incident). The session conf is
    * restored afterwards so other writers keep their own semantics. */
  def overwritePartitions(df: DataFrame, dir: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def clusteredWrite(
      df: DataFrame, path: String, clusterCols: Seq[String],
      parts: Int): Unit = {
    require(clusterCols.nonEmpty, "at least one cluster column")
    df.repartitionByRange(parts, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** 2-D Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative integer columns — x owns the even output bits, y the
    * odd. Pure shift/mask arithmetic (codegen'd, engine-portable): rows
    * close in BOTH x and y land close in z, so clustering on the single z
    * key gives min/max file skipping on either column — the multi-column
    * generalization of [[clusteredWrite]]'s one-dimensional layout, same
    * one-shuffle write cost. `bits` must cover the column's value range
    * (values >= 2^bits would collide); 20 bits each keeps z below 2^40.
    */
  def zorderKey2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31]")
    (0 until bits).map { i =>
      (shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
        .cast("long")
    }.reduce(_ + _)
  }

  /** Cluster-and-write on the Z-order key of (`xCol`, `yCol`): range-
    * partition + sort on z, write parquet WITHOUT the synthetic key (the
    * layout is the product; readers filter on the natural columns and the
    * parquet min/max stats do the skipping for both). */
  def zorderWrite(
      df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int, parts: Int): Unit = {
    val z = zorderKey2(col(xCol), col(yCol), bits)
    df.withColumn("__z", z)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Partition-coalescence plan — which consecutive small daily
    * partitions merge into one rewrite group to hit `targetRows` per
    * output unit (the small-partitions half of the compaction story;
    * [[compact]] rewrites bytes, this PLANS the groups). Sequential
    * grouping preserves date clustering (a group is always a contiguous
    * date range, so min/max pruning keeps working after the rewrite):
    * group id = exclusive running row total div target — each group
    * fills to at least `targetRows` except the last, and overshoots by
    * less than one partition, the documented greedy contract.
    *
    * Scale shape: one hash aggregation collapses the corpus to one row
    * per DAY; the running total is a single-partition window over that
    * calendar-bounded frame (the q72 spine discipline — days, never
    * rows). Output per group: (grp, n_days, d_from, d_to, total_rows),
    * dates rendered as strings for engine-portable comparison. */
  /** The day -> rewrite-group mapping [[coalescePlan]] aggregates,
    * exposed so an executor (w17) can tag fact rows with their group via
    * an EQUI-join on the day — never a range join against the plan's
    * (d_from, d_to) summary. Output: (d, grp, nr). */
  def dayGroups(df: DataFrame, tsCol: String,
      targetRows: Long): DataFrame = {
    require(targetRows > 0)
    val daily = df.filter(col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("d"))
      .agg(count(lit(1)).as("nr"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1L)
    daily
      .withColumn("cb", coalesce(sum(col("nr")).over(w), lit(0L)))
      .withColumn("grp", expr(s"cb div ${targetRows}L"))
      .select(col("d"), col("grp"), col("nr"))
  }

  def coalescePlan(df: DataFrame, tsCol: String,
      targetRows: Long): DataFrame =
    dayGroups(df, tsCol, targetRows)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_days"),
        min(col("d")).cast("string").as("d_from"),
        max(col("d")).cast("string").as("d_to"),
        sum(col("nr")).as("total_rows"))
}

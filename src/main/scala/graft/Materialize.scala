package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, ArrayType, MapType, StructType}

/** The timed action for benchmarks and scale probes: a full-column
  * fingerprint, not `count()`. Also the column warm-up and cache flush
  * those harnesses run around it.
  *
  * `count()` is the wrong materializer for timing a query: Catalyst
  * column-prunes everything the action does not reference, so a query
  * whose cost sits in the final projection is systematically
  * under-measured. The round-10 dd22 finding was exactly this class —
  * `count()`-based timing hid the banded self-join re-evaluating the
  * whole SimHash signature pipeline once per side, because the pruned
  * plan never evaluated the signatures the query claims to produce.
  *
  * `agg(bit_xor(xxhash64(struct(all columns))))` forces every output
  * column through evaluation (nothing upstream of a hashed column can be
  * pruned), stays entirely inside whole-stage codegen, and returns ONE
  * row to the driver — the measured time is the query's cost, not a
  * collect's.
  *
  * Column-type handling: `xxhash64` supports every atomic type plus
  * arrays/structs of them, but not maps; a column whose type contains a
  * `MapType` anywhere is fingerprinted through its JSON rendering
  * instead (same full-evaluation guarantee).
  */
object Materialize {
  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(et, _) => containsMap(et)
    case st: StructType => st.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** One expression per output column, each safe to hash. */
  private def hashableCols(df: DataFrame) =
    df.schema.fields.map { f =>
      val c = df.col(s"`${f.name}`")
      if (containsMap(f.dataType)) to_json(c) else c
    }

  /** Run the query to completion — every column evaluated — and return
    * its order-insensitive 64-bit fingerprint (0 for an empty result). */
  def fingerprint(df: DataFrame): Long = {
    val row = fingerprintFrame(df).collect().head
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** The un-executed single-row fingerprint frame, for callers that need
    * to run the action themselves and then inspect ITS queryExecution
    * (e.g. the scale probe's AQE-final join-mix read: the wrapper adds
    * one aggregate and no joins, so the executed fingerprint plan's join
    * mix IS the query's). */
  def fingerprintFrame(df: DataFrame): DataFrame =
    df.agg(bit_xor(xxhash64(struct(hashableCols(df): _*))).as("fp"))

  /** Read every column of every fixture table under `dir` once, so the
    * first timed query is not charged for cold column pages, codegen or
    * shuffle set-up. `count()` alone is answered from parquet footers and
    * leaves every column page cold, so this aggregates a per-column count.
    * A missing or unreadable table is skipped. */
  def warmColumns(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { t =>
      try {
        val df = Tables.load(spark, dir, t)
        df.agg(df.columns.map(c => count(col(c))).reduce(_ + _)).collect()
      } catch { case _: Throwable => () }
    }

  /** Drop every memo frame, cached table and persisted RDD, memo store
    * first: the blanket unpersist destroys its frames' checkpoint blocks,
    * and a later memo hit on a dead frame would throw
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
  def flushCaches(spark: SparkSession): Unit = {
    graft.operators.LruFrameCache.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}

/** Join strategies in a rendered physical plan: broadcast-hash, sort-merge,
  * shuffled-hash, and nested-loop plus cartesian joins. */
final case class JoinMix(bhj: Int, smj: Int, shj: Int, loops: Int) {
  override def toString = s"BHJ=$bhj SMJ=$smj SHJ=$shj loop=$loops"
}

object JoinMix {
  def of(plan: String): JoinMix = {
    def c(op: String) = op.r.findAllIn(plan).length
    JoinMix(c("BroadcastHashJoin"), c("SortMergeJoin"), c("ShuffledHashJoin"),
      c("BroadcastNestedLoopJoin") + c("CartesianProduct"))
  }
}

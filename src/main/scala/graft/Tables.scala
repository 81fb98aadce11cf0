package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Static catalog of the test fixture tables (FIXTURES.md).
  *
  * In the reference this metadata is discovered at runtime from MySQL
  * (`SHOW DATABASES/TABLES/KEYS`, information_schema probes —
  * /root/reference/osarchiver/common/db.py:393-482). Our parquet testbed has
  * no information_schema, so the catalog is declared here; the discovery
  * *operators* (S1–S5) are implemented against this catalog in
  * [[graft.catalog.Catalog]] and would read JDBC information_schema in a
  * real deployment.
  */
object Tables {

  /** Table metadata: primary key columns, soft-delete (retention) column if
    * any, and FK parents as (fkColumn -> parentTable).
    */
  final case class TableSpec(
      name: String,
      pk: Seq[String],
      deletedColumn: Option[String],
      fkParents: Seq[(String, String)])

  /** All tables of the TPC-H-ish testbed, per FIXTURES.md. */
  val specs: Seq[TableSpec] = Seq(
    TableSpec("region", Seq("r_regionkey"), None, Nil),
    TableSpec("nation", Seq("n_nationkey"), None, Seq("n_regionkey" -> "region")),
    TableSpec("customer", Seq("c_custkey"), None, Seq("c_nationkey" -> "nation")),
    TableSpec("supplier", Seq("s_suppkey"), None, Seq("s_nationkey" -> "nation")),
    TableSpec("part", Seq("p_partkey"), None, Nil),
    TableSpec(
      "orders",
      Seq("o_orderkey"),
      Some("o_orderdate"),
      Seq("o_custkey" -> "customer")),
    TableSpec(
      "lineitem",
      Seq("l_orderkey", "l_linenumber"),
      Some("l_shipdate"),
      Seq("l_orderkey" -> "orders", "l_partkey" -> "part", "l_suppkey" -> "supplier")),
    TableSpec("events", Seq("event_id"), Some("ts"), Nil),
    TableSpec("documents", Seq("doc_id"), None, Nil),
    TableSpec("embeddings", Seq("vec_id"), None, Nil)
  )

  val byName: Map[String, TableSpec] = specs.map(s => s.name -> s).toMap

  val names: Seq[String] = specs.map(_.name)

  /** Relational core tables (the star schema the FK graph spans). */
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Load one fixture table. Column pruning + predicate pushdown reach the
    * parquet scan because this is a plain declarative read (no RDD hop).
    *
    * The events fixture has shipped `ts` under several parquet encodings
    * across fixture generations: TIMESTAMP(NANOS) (which Spark 4 rejects
    * outright — we read nanos as long via
    * spark.sql.legacy.parquet.nanosAsLong and truncate to microseconds,
    * the same truncation DuckDB applies), TIMESTAMP(MICROS) UTC-adjusted
    * (read natively as TIMESTAMP), and TIMESTAMP(MICROS) without UTC
    * adjustment (read as TIMESTAMP_NTZ). [[normalizeTs]] folds all three
    * into TimestampType so downstream event-time code (unix_micros,
    * withWatermark) sees one stable type regardless of fixture vintage.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Normalize any `ts` column to TimestampType (micros).
    *
    * - nanos-as-long (legacy NANOS fixtures): integer-divide to micros.
    *   Integer `div`, NOT `/`: Column./ is double division, and nanos
    *   epochs (~1.7e18) exceed double precision — off-by-1µs corruption.
    * - TIMESTAMP_NTZ (isAdjustedToUTC=false MICROS fixtures): cast to
    *   TimestampType. The session timezone is pinned to UTC everywhere
    *   (Bench/Verify/tests), so the cast is value-exact and the DuckDB
    *   oracle (which reads the same wall-clock values) is unaffected.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
  }
}

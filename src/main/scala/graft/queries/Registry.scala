package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its Spark build over an sf dir and the
  * DuckDB SQL that must return the same rows over the same tables
  * (FIXTURES.md oracle protocol). */
final case class QueryDef(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

/** Every query, one family file each (`Bench.family`'s prefix grouping). */
object Registry {

  /** Concatenate families into one registry; a name defined twice fails
    * here instead of one definition silently replacing the other. */
  def assemble(families: Seq[QueryDef]*): Seq[QueryDef] = {
    val all = families.flatten
    val dup = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dup.isEmpty, s"query defined more than once: ${dup.toSeq.sorted.mkString(", ")}")
    all
  }

  val all: Seq[QueryDef] = assemble(
    StorageQueries.all, SmallFamilyQueries.all, RelationalQueries.all,
    DedupQueries.all, TextQueries.all, SimilarityQueries.all,
    StreamingQueries.all, QualityQueries.all, GraphQueries.all,
    EntityQueries.all, MediaQueries.all)
}

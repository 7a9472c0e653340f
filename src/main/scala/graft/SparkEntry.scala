package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators.Core

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's query map; `oracleSql`
  * carries the DuckDB-equivalent SQL for each SQL-expressible query
  * (queries absent from `oracleSql` get a rows-only check). Both derive
  * from [[Modules.all]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole pipeline in one plan: scan → liveness filters
    * → per-key ordered nest → proto3 encode + varint framing.
    */
  def entry(spark: SparkSession): DataFrame =
    Core.encodeProto(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 plus the
    * LLM-data-pipeline extensions (dedup, similarity search, text
    * analysis, event windows). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Modules.all.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Modules.all.flatMap(_.oracle).toMap
}

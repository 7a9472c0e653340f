package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable.withScalar
import graft.sources.Tables

/** Multi-dimensional data LAYOUT — Z-order (Morton) clustering, the
  * write-time organisation that makes min/max file skipping work on
  * MORE THAN ONE column at once.
  *
  * A corpus laid out by a single sort key skips files only for
  * predicates on that key (the proto-zst sidecar path, q60); range
  * queries on a second dimension still scan everything. Interleaving
  * the bits of two dimensions into one Morton code and range-sharding
  * by it gives every shard a TIGHT BOUNDING BOX in both dimensions —
  * shard min/max sidecars then prune files for predicates on either
  * column (or both). This is the layout step Delta/Iceberg `OPTIMIZE
  * ZORDER BY` runs before collecting file statistics; here it is a
  * plain declarative plan: a codegen'd bit-interleave projection, an
  * in-plan max for the shard width, and one hash aggregation for the
  * per-shard boxes.
  */
object Layout extends graft.Module {

  /** Bits taken from each dimension — 16+16 interleave to a 32-bit
    * Morton code. Dimensions are masked to [[ZBits]] low bits first
    * (exact for any key domain that fits; beyond it, high-bit locality
    * degrades gracefully while the code stays deterministic).
    */
  val ZBits = 16

  /** Target shard (≈ output file) count for the range layout. */
  val ZShards = 64

  /** Morton interleave of the [[ZBits]] low bits of x (even positions)
    * and y (odd positions) — a pure fold of shift/mask/or builtins, one
    * whole-stage-codegen expression, no UDF.
    */
  def morton(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** q74: Z-ORDER LAYOUT AUDIT — lineitem keyed by (l_partkey,
    * l_suppkey), Morton-coded, cut into [[ZShards]] equal z-ranges
    * (quadtree blocks), and summarised as per-shard bounding boxes —
    * exactly the min/max statistics a file-skipping manifest would
    * record for each output file. Tight boxes on BOTH columns are the
    * point: a predicate on either dimension prunes most shards, where
    * a single-key sort gives tight boxes on one column and full-range
    * boxes on the other (the PipelineSpec grid test asserts both spans
    * stay bounded; z-order pays off only when BOTH domains are wide —
    * against a narrow second dimension a plain sort prunes better,
    * which is why OPTIMIZE ZORDER is a choice, not a default).
    * Shard width comes from an in-plan scalar max (the
    * `withScalar` 1-row broadcast), so the query is ONE corpus pass +
    * one small shuffle for the boxes — at 100 TB the same plan with
    * `repartitionByRange(zcode)` in front of the sink IS the
    * clustered write.
    */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val mask = (1L << ZBits) - 1
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey").bitwiseAND(lit(mask)).as("px"),
        col("l_suppkey").bitwiseAND(lit(mask)).as("sy"))
      .withColumn("zcode", morton(col("px"), col("sy")))
    val maxz = l.agg(max(col("zcode")).as("mz"))
    withScalar(l, maxz)
      .withColumn("shard", expr(s"zcode DIV ((mz DIV $ZShards) + 1)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("px")).as("p_min"), max(col("px")).as("p_max"),
        min(col("sy")).as("s_min"), max(col("sy")).as("s_max"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q74_zorder_layout" -> zorderStats)

  /** q74 replay: the same interleave spelled with DuckDB's bitwise
    * operators, generated from [[ZBits]] so both engines always
    * compute the identical code.
    */
  private val zExprSql = (0 until ZBits).map(i =>
    s"(((px >> $i) & 1) << ${2 * i}) | (((sy >> $i) & 1) << ${2 * i + 1})")
    .mkString(" | ")

  private val zorderSql = {
    val mask = (1L << ZBits) - 1
    s"""WITH b AS (SELECT l_partkey & $mask AS px, l_suppkey & $mask AS sy
       |           FROM lineitem),
       |z AS (SELECT px, sy, ($zExprSql) AS zcode FROM b),
       |m AS (SELECT max(zcode) AS mz FROM z)
       |SELECT zcode // ((mz // $ZShards) + 1) AS shard, count(*) AS n_rows,
       |       min(px) AS p_min, max(px) AS p_max,
       |       min(sy) AS s_min, max(sy) AS s_max
       |FROM z, m GROUP BY 1""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q74_zorder_layout" -> zorderSql)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator module: its named queries, the DuckDB-equivalent SQL
  * for the SQL-expressible ones (queries without an oracle get a
  * rows-only check), and the shared session fixtures it builds, named
  * for the bench's timed `fixture:*` rows.
  */
trait Module {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
  private[graft] def fixtureBuilds: Seq[(String, (SparkSession, String) => Unit)] =
    Seq.empty
}

/** The only list of operator modules. `SparkEntry.queries`/`oracleSql`,
  * Bench's `fixture:*` rows, Probe's warm-up and the query-build spec
  * all derive from it.
  */
object Modules {
  import graft.operators._

  /** The fixture-building modules come first, in dependency order: each
    * `fixture:*` row then times only its own increment (Dedup's q15
    * pair set, for one, is built before the cluster closure over it).
    */
  val all: Seq[Module] = Seq(
    Sink, SimSearch, Relational, Dedup, DedupClusters, Quality, Retrieval,
    Classifier, StreamCurate,
    Core, Decontam, Sketches, VectorOps, AnnPq, Tokenizer, TextAnalysis,
    Events, Multimodal, Streaming, SinkMaintain, Releases, Curation,
    Compaction, Layout, Tombstones, Quarantine)
}

package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session recipe, used by Bench, Verify, the tools and
  * the test session: `local[cpus]` with one shuffle partition per core,
  * the UTC session time zone the date predicates assume, the native SQL
  * functions of [[GraftExtensions]], nanosecond parquet timestamps read
  * as LONG (see `Tables.normalizeTs`), no UI, and the driver log level.
  * Returned as a builder so a caller can add its own settings before
  * `getOrCreate()`.
  */
object GraftSession {
  /** `cpus` defaults to `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def builder(
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      logLevel: String = "ERROR"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
}

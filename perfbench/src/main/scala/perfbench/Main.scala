package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** A metric as the result line reports it. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run found: the result line's fields plus the run record. */
final case class Result(attempted: Long, failures: Seq[String], metrics: Seq[Metric],
    record: Seq[(String, Any)])

/** Shared state of one run. `work` holds every file the run writes and
  * is deleted when the run ends.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val work: File) {
  val ops = new Ops(spark)
  val cpus: Int = spark.sparkContext.defaultParallelism
  private var n = 0
  def fresh(tag: String): String = { n += 1; new File(work, s"$tag-$n").getPath }
  def delete(path: String): Unit = Main.deleteTree(new File(path))
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Input cells per workload: the sizes at which a run of each fits the
    * per-run time budget (see README.md).
    */
  val Cells: Map[String, Long] = Map("convert" -> 1000000L, "lookup" -> 300000L)
  /** Calls per lookup kind: a p90 with 10 samples beyond it. */
  val MinCallsPerKind = 100

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The session every run uses: the engine's settings (as `graft.Bench`
    * sets them) on `local[cpus]`, with Spark's scratch space in `work`.
    */
  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work"))
    val out = new File(args("out"))
    require(Cells.contains(workload), s"unknown workload $workload")

    val steal0 = Load.stealTicks(); val load0 = Load.loadavg1()
    val wall0 = System.nanoTime()
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val ctx = new Ctx(spark, seed, seconds, work)
    val result =
      try if (traced) Profile.run(ctx, new File(out, s"trace-$workload-seed$seed.json"))
        else if (workload == "convert") Bench.convert(ctx)
        else Bench.lookup(ctx)
      finally spark.stop()

    val record = Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cells" -> Cells, "nproc" -> cpus,
      "output_location" -> work.getPath, "wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "steal_ticks" -> (Load.stealTicks() - steal0),
      "loadavg_start" -> load0, "loadavg_end" -> Load.loadavg1(),
      "failures" -> result.failures) ++ result.record
    println("RECORD " + Json.obj(record))
    val failed = math.min(result.failures.length.toLong, result.attempted)
    println(Json.obj(Seq(
      "correct" -> result.failures.isEmpty,
      "attempted" -> result.attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(result.metrics.map(m =>
        m.name -> Json.Raw(Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))))))))
  }
}

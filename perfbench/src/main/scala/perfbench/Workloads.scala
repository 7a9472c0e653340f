package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.{CellModel, Sink}
import graft.sources.{ProtoZstInputPartition, ProtoZstSlicePartition, Tables}

/** The pieces the three workloads are made of. Every timed action
  * computes every output column: the sink itself, a `noop` write, or a
  * `collect` whose rows are checked.
  */
final class Ops(val spark: SparkSession) {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def input(gen: Gen, dir: String): Unit =
    gen.write(spark, dir, slices = 2 * spark.sparkContext.defaultParallelism)

  /** The paper's job: nest the `events` cells per key, encode, write. */
  def convert(in: String, out: String): Unit =
    Sink.writeNested(CellModel.nestRows(spark, in), out)

  /** The `lookup` corpus: the input split by write time into one
    * generation per day, each nested and written key-sorted as its own
    * append of one file, so every file spans nearly the whole key
    * range, as SSTables do.
    */
  def generations(in: String, out: String): Unit =
    (0 until Gen.Days).foreach { d =>
      val lo = (Gen.T0Micros + d * Gen.DayMicros) * 1000 // Tables presents ts in ns
      val day = Tables.events(spark, in)
        .filter(col("ts") >= lo && col("ts") < lo + Gen.DayMicros * 1000)
      Sink.writeNested(CellModel.nestCells(CellModel.cellsOf(CellModel.cellStringsOf(day)))
        .repartition(1).sortWithinPartitions(col("key")), out)
    }

  def read(dir: String): DataFrame = spark.read.format("proto-zst").load(dir)

  /** Full decode: one row per cell, every column. */
  def fullScan(dir: String): DataFrame =
    read(dir).select(col("key"), explode(col("columns")).as("c"))
      .select(col("key"), col("c.name"), col("c.value"), col("c.write_time"))

  def keyScan(dir: String): DataFrame = read(dir).select(col("key"))

  /** Rows the source produced and cells the explode produced in an
    * executed scan pass, from the plan's SQL metrics.
    */
  def scanned(plan: SparkPlan): (Long, Long) = {
    def rows(pf: PartialFunction[SparkPlan, SparkPlan]): Long =
      plan.collect(pf).map(_.metrics("numOutputRows").value).sum
    (rows { case b: BatchScanExec => b }, rows { case g: GenerateExec => g })
  }

  /** Rows, cells and digest of the corpus as the engine's source reads
    * it, summed by the benchmark's own digest.
    */
  def sourceTotals(dir: String): Totals =
    read(dir).rdd.mapPartitions(rows => Iterator(Lookup.totals(rows))).collect()
      .foldLeft(Totals.Zero)(_ + _)
}

/** One `lookup` call: a point get on `lo` (hi == null) or a scan of
  * keys in [lo, hi), and the answer it must return.
  */
final case class Probe(kind: String, lo: Array[Byte], hi: Array[Byte], want: Totals) {
  def frame(ops: Ops, dir: String): DataFrame =
    if (hi == null) ops.read(dir).filter(col("key") === lit(lo))
    else ops.read(dir).filter(col("key") >= lit(lo) && col("key") < lit(hi))
}

object Lookup {
  val Kinds: Seq[String] = Seq("get", "miss", "range")
  /** Partitions a short key-range scan covers. */
  val RangeSpan = 8

  def totals(rows: Iterator[Row]): Totals = {
    var t = Totals.Zero
    rows.foreach { r =>
      val key = r.getAs[Array[Byte]](0)
      val cols = r.getSeq[Row](1)
      var d = 0L
      cols.foreach { c =>
        val n = c.getAs[Array[Byte]](0); val v = c.getAs[Array[Byte]](1)
        d += Digest.cell(key, 0, key.length, n, 0, n.length, v, 0, v.length, c.getLong(2))
      }
      t = t + Totals(1, cols.length, d)
    }
    t
  }

  /** The seeded call sequence: get, miss and range in turn. Present
    * keys are drawn from non-tombstoned partitions, absent keys from the
    * odd ids between two partitions (inside every file's key range).
    */
  def probes(answer: Answer, seed: Long): Iterator[Probe] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    val present = answer.genMask.indices.filter(answer.genMask(_) != 0).toArray
    val n = answer.partitions
    Iterator.from(0).map { i =>
      Kinds(i % 3) match {
        case "get" =>
          val p = present(rnd.nextInt(present.length))
          Probe("get", Gen.key(p), null, answer.range(p, p + 1))
        case "miss" => Probe("miss", Gen.gapKey(rnd.nextInt(n - 1)), null, Totals.Zero)
        case _ =>
          val p0 = rnd.nextInt(n - RangeSpan)
          Probe("range", Gen.key(p0), Gen.key(p0 + RangeSpan), answer.range(p0, p0 + RangeSpan))
      }
    }
  }

  /** Distinct data files a planned lookup will open. */
  def plannedFiles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions.flatMap {
        case p: ProtoZstInputPartition => Seq(p.file)
        case p: ProtoZstSlicePartition => Seq(p.file)
        case _ => Nil
      }).distinct.length
}

/** Bytes a corpus leaves on disk, split by kind. */
final case class DiskUse(dataBytes: Long, sidecarBytes: Long, manifestBytes: Long, files: Int) {
  def total: Long = dataBytes + sidecarBytes + manifestBytes
}
object DiskUse {
  /** Bytes of the parquet data files of the `events` table in `dir`. */
  def parquetBytes(dir: String): Long =
    Option(new File(dir, "events.parquet").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  def of(dir: String): DiskUse = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val all = walk(new File(dir))
    val data = Check.dataFiles(dir).toSet
    val manifest = all.filter(_.getPath.contains("_graft_manifest"))
    val sidecars = all.filterNot(f => data(f) || manifest.contains(f))
    DiskUse(data.toSeq.map(_.length).sum, sidecars.map(_.length).sum,
      manifest.map(_.length).sum, data.size)
  }
}

package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.MetaIO

/** Outside-in counters: one SparkListener, the QueryPlanningTracker
  * phases of every finished query, and the engine's `MetaIO` counters.
  * A [[Snap]] taken before and after a span gives that span's share.
  */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private val taskMs = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ms", m.jvmGCTime)
      add("cpu_ns", m.executorCpuTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      taskMs.synchronized(taskMs += e.taskInfo.duration)
    }
  }
  @volatile private var last: SparkPlan = _
  /** The executed plan of the latest finished query, its SQL metrics final. */
  def lastPlan(): SparkPlan = { PerfbenchBus.drain(spark.sparkContext); last }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    last = qe.executedPlan
    add("queries", 1)
    qe.tracker.phases.foreach { case (phase, s) => add(s"${phase}_ms", s.durationMs) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    add("failed_queries", 1)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Waits for queued events, then copies every counter. */
  def snap(): Snap = {
    PerfbenchBus.drain(spark.sparkContext)
    val io = Map(
      "manifest_reads" -> MetaIO.manifestReads.get, "sidecar_reads" -> MetaIO.sidecarReads.get,
      "data_listings" -> MetaIO.dataListings.get, "commit_bytes" -> MetaIO.commitBytes.get,
      "checkpoint_bytes" -> MetaIO.checkpointBytes.get, "bloom_probes" -> MetaIO.bloomProbes.get,
      "bloom_skips" -> MetaIO.bloomSkips.get, "frame_seeks" -> MetaIO.frameSeeks.get,
      "seek_bytes" -> MetaIO.seekBytes.get)
    Snap(c.map { case (k, v) => k -> v.get }.toMap ++ io, taskMs.synchronized(taskMs.length))
  }

  /** Counter deltas between two snaps, plus p50/max task seconds. */
  def delta(a: Snap, b: Snap): Map[String, Double] = {
    val d = (a.counters.keySet ++ b.counters.keySet).map(k =>
      k -> (b.counters.getOrElse(k, 0L) - a.counters.getOrElse(k, 0L)).toDouble).toMap
    val tasks = taskMs.synchronized(taskMs.slice(a.tasks, b.tasks).toSeq).map(_ / 1000.0)
    d ++ (if (tasks.isEmpty) Map.empty
      else Map("task_p50_s" -> Stats.median(tasks), "task_max_s" -> tasks.max))
  }

  def close(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

final case class Snap(counters: Map[String, Long], tasks: Int)

/** A span: name, wall interval, the span that caused it, the run it
  * belongs to, and the counter deltas over its interval.
  */
final case class Span(id: Int, parent: Int, run: String, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder of the traced run. */
final class Tracer(collector: Collector) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var run = "setup"

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val s0 = collector.snap()
    val t0 = System.nanoTime()
    stack = id :: stack
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, run, name, t0, t1, collector.delta(s0, collector.snap()))
    }
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def writeJson(file: java.io.File): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "run" -> s.run,
        "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "self_s" -> selfSeconds(s),
        "counters" -> Json.Raw(Json.obj(s.counters.toSeq.sortBy(_._1)))))
    }
    file.getParentFile.mkdirs()
    java.nio.file.Files.writeString(file.toPath, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Machine-load evidence, read as `graft.Bench` reads it: cumulative
  * steal ticks (field 8 of /proc/stat's cpu line) and the 1-minute
  * loadavg. Absent /proc degrades to zeros.
  */
object Load {
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .flatMap(_.trim.split("\\s+").drop(1).lift(7)).fold(0L)(_.toLong)
      finally src.close()
    } catch { case _: Exception => 0L }
  def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").head.toDouble finally src.close()
    } catch { case _: Exception => 0.0 }
}

/** Minimal JSON writer for the run record, the trace and the result. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  final case class Raw(json: String)
}

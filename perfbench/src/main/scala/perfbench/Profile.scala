package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.functions.ProtoWire.{proto_delimited, proto_row}
import graft.operators.CellModel
import graft.sources.{SplitSidecar, Tables}

/** The traced run: per-layer metrics for all three workloads, from
  * spans the benchmark records around its calls into each layer, plus
  * an untraced repeat of each workload for the tracing overhead.
  */
object Profile {
  import Main.time

  val LadderRounds = 3
  val ScanPasses = 3
  val CallsPerKind = 30

  /** Profiles all three workloads and writes the spans to `traceFile`. */
  def run(ctx: Ctx, traceFile: File): Result = {
    val collector = new Collector(ctx.spark)
    val tr = new Tracer(collector)
    try profile(ctx, tr, collector)
    finally { collector.close(); tr.writeJson(traceFile) }
  }

  /** Checks the totals of the scan pass that just ran. */
  private def scanFailure(ctx: Ctx, collector: Collector, answer: Answer,
      full: Boolean): Option[String] = {
    val got = ctx.ops.scanned(collector.lastPlan())
    val want = if (full) (answer.rows, answer.liveCells) else (answer.rows, 0L)
    if (got == want) None
    else Some(s"scan ${if (full) "full" else "key"} pass: (rows, cells) $got, want $want")
  }

  private def profile(ctx: Ctx, tr: Tracer, collector: Collector): Result = {
    val ops = ctx.ops
    val m = ArrayBuffer.empty[Metric]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    def check(what: String)(f: => Option[String]): Unit = {
      attempted += 1
      val bad = try f catch { case e: Check.Corrupt => Some(s"$what: ${e.getMessage}") }
      failures ++= bad
    }
    def failFrac(w: String, f0: Int, a0: Long): Unit =
      m += Metric(s"$w.failed_frac", (failures.length - f0).toDouble / (attempted - a0), "ratio")
    def spark(w: String, s: Span): Unit = {
      val c = s.counters
      m += Metric(s"spark.$w.jobs", c.getOrElse("jobs", 0), "count")
      m += Metric(s"spark.$w.stages", c.getOrElse("stages", 0), "count")
      m += Metric(s"spark.$w.tasks", c.getOrElse("tasks", 0), "count")
      m += Metric(s"spark.$w.gc_ms", c.getOrElse("gc_ms", 0), "ms")
      m += Metric(s"spark.$w.task_cpu_s", c.getOrElse("cpu_ns", 0.0) / 1e9, "s")
      m += Metric(s"spark.$w.planning_ms", Seq("analysis_ms", "optimization_ms", "planning_ms")
        .map(c.getOrElse(_, 0.0)).sum, "ms")
    }
    def med(name: String): Double = Stats.median(tr.named(name).map(_.seconds))
    def last(name: String): Map[String, Double] = tr.named(name).last.counters
    val mb = 1e6

    tr.run = "setup"
    val gen = Gen(ctx.seed, Main.Cells("convert"))
    val in = ctx.fresh("input")
    val answer = tr.span("setup.input") { ops.input(gen, in); gen.answer(ctx.cpus) }
    val want = Totals(answer.rows, answer.liveCells, answer.liveDigest)

    // convert: the cumulative prefix ladder; a layer's self time is its
    // prefix's time minus the previous prefix's
    tr.run = "convert"
    var f0 = failures.length; var a0 = attempted
    val outs = ArrayBuffer.empty[String]
    ctx.delete({ // an untraced warm-up round, so the ladder runs warm
      val o = ctx.fresh("warm")
      Seq(Tables.events(ctx.spark, in), CellModel.cells(ctx.spark, in),
        CellModel.nestRows(ctx.spark, in)).foreach(ops.noop)
      ops.convert(in, o); o
    })
    tr.span("convert") {
      (1 to LadderRounds).foreach { _ =>
        tr.span("convert.ladder") {
          tr.span("tables.scan")(ops.noop(Tables.events(ctx.spark, in)))
          tr.span("cellmodel.cells")(ops.noop(CellModel.cells(ctx.spark, in)))
          tr.span("cellmodel.nest")(ops.noop(CellModel.nestRows(ctx.spark, in)))
          val out = ctx.fresh("ladder")
          tr.span("sink.write")(ops.convert(in, out))
          outs += out
        }
        val nested = CellModel.nestRows(ctx.spark, in)
        tr.span("protowire.row")(ops.noop(
          nested.select(col("key"), proto_row(col("key"), col("columns")))))
        tr.span("protowire.frame")(ops.noop(nested.select(col("key"),
          proto_delimited(proto_row(col("key"), col("columns"))))))
      }
    }
    outs.foreach(o => check(s"ladder output $o")(Check.compare("ladder output", Check.decodeDir(o), want)))
    val untracedConvert = (1 to 2).map { _ =>
      val out = ctx.fresh("convert")
      val t = time(ops.convert(in, out))._2
      check(s"convert output $out")(Check.compare("convert output", Check.decodeDir(out), want))
      ctx.delete(out)
      t
    }
    val (tScan, tCells, tNest, tSink) =
      (med("tables.scan"), med("cellmodel.cells"), med("cellmodel.nest"), med("sink.write"))
    val (tRow, tFrame) = (med("protowire.row"), med("protowire.frame"))
    val ladder = Seq("tables.scan" -> tScan, "cellmodel.cells" -> (tCells - tScan),
      "cellmodel.nest" -> (tNest - tCells), "sink.write" -> (tSink - tNest))
    ladder.foreach { case (k, v) => m += Metric(s"$k.self_s", v, "s") }
    m += Metric("convert.ladder.pipeline_s", tSink, "s")
    m += Metric("tables.scan.input_mb", DiskUse.parquetBytes(in) / mb, "MB")
    val nest = last("cellmodel.nest")
    m += Metric("cellmodel.nest.shuffle_write_mb", nest.getOrElse("shuffle_write_bytes", 0.0) / mb, "MB")
    m += Metric("cellmodel.nest.shuffle_read_mb", nest.getOrElse("shuffle_read_bytes", 0.0) / mb, "MB")
    m += Metric("cellmodel.nest.spill_mb", nest.getOrElse("spill_bytes", 0.0) / mb, "MB")
    m += Metric("cellmodel.nest.task_p50_s", nest.getOrElse("task_p50_s", 0.0), "s")
    m += Metric("cellmodel.nest.task_max_s", nest.getOrElse("task_max_s", 0.0), "s")
    val sinkOut = outs.last
    val decoded = Check.decodeDir(sinkOut)
    m += Metric("cellmodel.nest.rows_out", decoded.rows.toDouble, "count")
    m += Metric("cellmodel.nest.live_frac", decoded.cells.toDouble / gen.cells, "ratio")
    m += Metric("protowire.row.self_s", tRow - tNest, "s")
    m += Metric("protowire.frame.self_s", tFrame - tRow, "s")
    val wire = Check.wireBytes(sinkOut)
    m += Metric("protowire.framed_mb", wire / mb, "MB")
    val disk = DiskUse.of(sinkOut)
    val fs = graft.sources.ProtoZstFiles.hadoopConf()
    val frames = Check.dataFiles(sinkOut).map { f =>
      val p = new org.apache.hadoop.fs.Path(f.getPath)
      SplitSidecar.read(p.getFileSystem(fs), p).fold(1)(_.length + 1)
    }.sum
    m += Metric("sink.write.out_mb", disk.dataBytes / mb, "MB")
    m += Metric("sink.write.files", disk.files, "count")
    m += Metric("sink.write.frames", frames, "count")
    m += Metric("sink.write.sidecar_kb", disk.sidecarBytes / 1024.0, "KB")
    m += Metric("sink.compress_ratio", wire.toDouble / disk.dataBytes, "ratio")
    m += Metric("manifest.commit_bytes", last("sink.write").getOrElse("commit_bytes", 0.0), "bytes")
    m += Metric("trace.convert.overhead_frac", tSink / Stats.median(untracedConvert) - 1, "ratio")
    spark("convert", tr.named("convert").last)
    failFrac("convert", f0, a0)
    outs.init.foreach(ctx.delete)

    // scan: plan forced on its own, then the noop action, per pass
    tr.run = "scan"
    f0 = failures.length; a0 = attempted
    def pass(traced: Boolean): Double = time {
      Seq(true, false).foreach { full =>
        val tag = if (full) "" else ".keys"
        val df = if (full) ops.fullScan(sinkOut) else ops.keyScan(sinkOut)
        if (traced) {
          tr.span(s"source.scan.plan$tag")(df.queryExecution.executedPlan)
          tr.span(s"source.decode$tag")(ops.noop(df))
        } else ops.noop(df)
        check(s"scan pass$tag")(scanFailure(ctx, collector, answer, full))
      }
    }._2
    tr.span("scan")((1 to ScanPasses).foreach(_ => tr.span("scan.pass")(pass(traced = true))))
    check("scan via source")(Check.compare("scan via source", ops.sourceTotals(sinkOut), want))
    val untracedScan = (1 to ScanPasses).map(_ => pass(traced = false))
    m += Metric("source.scan.plan_ms", med("source.scan.plan") * 1000, "ms")
    m += Metric("source.decode.self_s", med("source.decode"), "s")
    m += Metric("source.decode.keys_self_s", med("source.decode.keys"), "s")
    m += Metric("source.decode.in_mb", disk.dataBytes / mb, "MB")
    val dec = last("source.decode")
    m += Metric("source.decode.partitions", dec.getOrElse("tasks", 0.0), "count")
    m += Metric("source.decode.task_max_s", dec.getOrElse("task_max_s", 0.0), "s")
    m += Metric("trace.scan.overhead_frac",
      med("scan.pass") / Stats.median(untracedScan) - 1, "ratio")
    spark("scan", tr.named("scan").last)
    failFrac("scan", f0, a0)

    // lookup: each call's span holds a plan span and an exec span
    tr.run = "lookup"
    f0 = failures.length; a0 = attempted
    val lookupGen = Gen(ctx.seed, Main.Cells("lookup"))
    val lookupIn = ctx.fresh("input")
    val lookupAnswer = tr.span("setup.input")({ ops.input(lookupGen, lookupIn); lookupGen.answer(ctx.cpus) })
    val corpus = ctx.fresh("generations")
    tr.span("setup.generations")(ops.generations(lookupIn, corpus))
    val corpusFiles = DiskUse.of(corpus).files
    val probes = Lookup.probes(lookupAnswer, ctx.seed)
    probes.take(9).foreach(p => Bench.call(ctx, corpus, p)) // warm-up
    val planned = ArrayBuffer.empty[Double]
    var getRows = 0L
    tr.span("lookup") {
      probes.take(3 * CallsPerKind).foreach { p =>
        tr.span(s"lookup.${p.kind}") {
          val df = tr.span("source.lookup.plan") {
            val d = p.frame(ops, corpus); d.queryExecution.executedPlan; d }
          val got = tr.span("source.lookup.exec")(Lookup.totals(df.collect().iterator))
          planned += Lookup.plannedFiles(df).toDouble / corpusFiles
          if (p.kind == "get") getRows += got.rows
          check("lookup")(Check.compare(s"lookup ${p.kind} ${new String(p.lo)}", got, p.want))
        }
      }
    }
    val calls = Lookup.Kinds.flatMap(k => tr.named(s"lookup.$k"))
    for (k <- Lookup.Kinds; phase <- Seq("plan", "exec")) {
      val xs = tr.named(s"lookup.$k").flatMap(tr.children)
        .filter(_.name == s"source.lookup.$phase").map(_.seconds * 1000)
      m += Metric(s"source.lookup.${phase}_ms.$k", Stats.percentile(xs, 0.5).get, "ms")
    }
    def perOp(spans: Seq[Span], key: String): Double =
      spans.map(_.counters.getOrElse(key, 0.0)).sum / spans.length
    m += Metric("source.lookup.files_planned_frac", planned.sum / planned.length, "ratio")
    m += Metric("manifest.reads_per_op", perOp(calls, "manifest_reads"), "count")
    m += Metric("sidecars.range_reads_per_op", perOp(calls, "sidecar_reads"), "count")
    m += Metric("source.listings_per_op", perOp(calls, "data_listings"), "count")
    val gets = tr.named("lookup.get"); val misses = tr.named("lookup.miss")
    def skipFrac(spans: Seq[Span]): Double =
      perOp(spans, "bloom_skips") / math.max(perOp(spans, "bloom_probes"), 1e-9)
    m += Metric("sidecars.bloom.probes_per_get", perOp(gets, "bloom_probes"), "count")
    m += Metric("sidecars.bloom.skip_frac.get", skipFrac(gets), "ratio")
    m += Metric("sidecars.bloom.skip_frac.miss", skipFrac(misses), "ratio")
    m += Metric("sidecars.seek.frames_per_get", perOp(gets, "frame_seeks"), "count")
    m += Metric("sidecars.seek.kb_per_get", perOp(gets, "seek_bytes") / 1024, "KB")
    val untraced = Lookup.Kinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    while (untraced.values.exists(_.length < CallsPerKind)) {
      val p = probes.next()
      val (t, _, bad) = Bench.call(ctx, corpus, p)
      attempted += 1; failures ++= bad
      untraced(p.kind) += t
    }
    m += Metric("source.lookup.kb_decoded_per_row",
      gets.map(_.counters.getOrElse("seek_bytes", 0.0)).sum / 1024 / math.max(getRows, 1), "KB")
    for (k <- Lookup.Kinds)
      m += Metric(s"lookup.${k}_p50_ms", Stats.percentile(untraced(k).toSeq, 0.5).get * 1000, "ms")
    val untracedMean = untraced.values.flatten.sum / untraced.values.map(_.length).sum
    m += Metric("trace.lookup.overhead_frac",
      calls.map(_.seconds).sum / calls.length / untracedMean - 1, "ratio")
    spark("lookup", tr.named("lookup").last)
    failFrac("lookup", f0, a0)

    Result(attempted, failures.toSeq, m.toSeq, Seq("spans" -> tr.all.length))
  }
}

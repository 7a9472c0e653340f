package perfbench

import scala.collection.mutable.ArrayBuffer

/** The workloads, untraced: the end-to-end metrics. Every workload
  * reports the same four metrics, each read the way that workload's
  * user sees it (see README.md).
  */
object Bench {
  import Main._

  /** Untimed calls after set-up, since the JIT keeps speeding calls up
    * over the first few: convert calls, or lookup calls of each kind.
    */
  val WarmCalls = 6

  /** Input generation and its answer key. */
  private def input(ctx: Ctx, gen: Gen): (String, Answer) = {
    val in = ctx.fresh("input")
    ctx.ops.input(gen, in)
    (in, gen.answer(ctx.cpus))
  }

  /** Runs `build` [[SetupReps]] times, keeps the last result, deletes
    * the others' files, and returns it with the per-rep seconds. The
    * first rep also pays the JVM's warm-up, which the median discounts.
    */
  private def setup[T](ctx: Ctx)(build: => (T, Seq[String])): (T, Seq[Double]) = {
    val reps = (1 to SetupReps).map(_ => time(build))
    reps.init.foreach(_._1._2.foreach(ctx.delete))
    (reps.last._1._1, reps.map(_._2))
  }

  /** For convert, `p50_ms` is input cells over `throughput_per_s`; for
    * lookup, throughput is calls over total call time, so a faster kind
    * of call moves it.
    */
  private def metrics(setupS: Seq[Double], perS: Double, p50S: Double,
      stored: Double): Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(setupS), "s"),
    Metric("throughput_per_s", perS, "1/s"),
    Metric("p50_ms", p50S * 1000, "ms"),
    Metric("stored_bytes_per_live_byte", stored, "ratio"))

  private def wantAll(a: Answer): Totals = Totals(a.rows, a.liveCells, a.liveDigest)

  private def decodeFailure(what: String, dir: String, want: Totals): Option[String] =
    try Check.compare(what, Check.decodeDir(dir), want)
    catch { case e: Check.Corrupt => Some(s"$what: ${e.getMessage}") }

  def convert(ctx: Ctx): Result = {
    val ((in, answer), setupS) = setup(ctx) {
      val r = input(ctx, Gen(ctx.seed, Cells("convert"))); (r, Seq(r._1)) }
    (1 to WarmCalls).foreach(_ => ctx.delete({ val o = ctx.fresh("warm"); ctx.ops.convert(in, o); o }))
    val steal0 = Load.stealTicks()
    val calls = ArrayBuffer.empty[(String, Double)]
    while (calls.map(_._2).sum < ctx.seconds || calls.length < 3) {
      val out = ctx.fresh("convert")
      calls += out -> time(ctx.ops.convert(in, out))._2
    }
    val steal = Load.stealTicks() - steal0
    val failures = calls.flatMap { case (out, _) =>
      decodeFailure(s"convert output $out", out, wantAll(answer)) }
    val stored = calls.map { case (out, _) => DiskUse.of(out).total.toDouble }.toSeq
    calls.foreach(c => ctx.delete(c._1))
    val ts = calls.map(_._2).toSeq
    val med = Stats.median(ts)
    Result(calls.length, failures.toSeq,
      metrics(setupS, Cells("convert") / med, med, Stats.median(stored) / answer.livePayloadBytes),
      Seq("setup_samples_s" -> setupS, "call_samples_s" -> ts,
        "partitions" -> answer.partitions, "rows" -> answer.rows,
        "live_cells" -> answer.liveCells, "input_digest" -> answer.inputDigest,
        "steal_ticks_measure" -> steal))
  }

  /** Calls one probe, untraced: (seconds, what it returned, failure). */
  def call(ctx: Ctx, dir: String, p: Probe): (Double, Totals, Option[String]) = {
    val (got, t) = time(Lookup.totals(p.frame(ctx.ops, dir).collect().iterator))
    (t, got, Check.compare(s"lookup ${p.kind} ${new String(p.lo)}", got, p.want))
  }

  /** The `lookup` set-up: the input, its answer key, the corpus. */
  def lookupCorpus(ctx: Ctx, gen: Gen): ((Answer, String), Seq[String]) = {
    val (in, a) = input(ctx, gen)
    val c = ctx.fresh("generations")
    ctx.ops.generations(in, c)
    ((a, c), Seq(in, c))
  }

  def lookup(ctx: Ctx): Result = {
    val ((answer, corpus), setupS) = setup(ctx)(lookupCorpus(ctx, Gen(ctx.seed, Cells("lookup"))))
    val failures = ArrayBuffer.empty[String]
    failures ++= decodeFailure("lookup corpus", corpus, answer.range(0, answer.partitions)
      .copy(cells = answer.liveCells, digest = answer.liveDigest))
    val probes = Lookup.probes(answer, ctx.seed)
    probes.take(WarmCalls * Lookup.Kinds.length).foreach(p => call(ctx, corpus, p))
    val steal0 = Load.stealTicks()
    val samples = Lookup.Kinds.map(_ -> ArrayBuffer.empty[Double]).toMap
    val wall0 = System.nanoTime()
    def enough = samples.values.map(_.sum).sum >= ctx.seconds &&
      samples.values.forall(_.length >= MinCallsPerKind)
    while (!enough && System.nanoTime() - wall0 < 100e9) {
      val p = probes.next()
      val (t, _, bad) = call(ctx, corpus, p)
      samples(p.kind) += t; failures ++= bad
    }
    val steal = Load.stealTicks() - steal0
    val all = samples.values.flatten.toSeq
    val pct = for (k <- Lookup.Kinds; (q, tag) <- Seq(0.5 -> "p50", 0.9 -> "p90");
      v <- Stats.percentile(samples(k).toSeq, q)) yield s"${k}_${tag}_ms" -> v * 1000
    Result(all.length + 1, failures.toSeq,
      metrics(setupS, all.length / all.sum, Stats.percentile(samples("get").toSeq, 0.5).get,
        DiskUse.of(corpus).total.toDouble / answer.livePayloadBytes),
      Seq("setup_samples_s" -> setupS,
        "samples_per_kind" -> Lookup.Kinds.map(k => k -> samples(k).length).toMap,
        "percentiles" -> pct.toMap, "files" -> DiskUse.of(corpus).files,
        "steal_ticks_measure" -> steal))
  }
}

package perfbench

import java.io.{File, FileInputStream, FileOutputStream}
import java.nio.file.Files

import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(work)
  }

  test("the same seed gives the same input digest, another seed another") {
    val a = Gen(7, 20000).answer(2)
    assert(Gen(7, 20000).answer(2).inputDigest == a.inputDigest)
    assert(Gen(8, 20000).answer(2).inputDigest != a.inputDigest)
    assert(Gen(7, 20000).widths.sum == 20000)
  }

  test("the input has the shape the workloads are sized for") {
    val g = Gen(7, 500000)
    val w = g.widths.sorted
    assert(w(w.length / 2) >= 10 && w(w.length / 2) < 100)
    assert(w.count(_ >= 10000) >= 2)
    val a = g.answer(2)
    val liveFrac = a.liveCells.toDouble / g.cells
    assert(liveFrac > 0.5 && liveFrac < 0.65, liveFrac)
    // every partition not tombstoned yields a row, even when no cell is live
    assert(a.rows == (0 until g.partitions).count(p => (1000000L + 2L * p) % 50 != 0))
  }

  test("percentiles are reported only with 10 samples beyond them") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9).contains(90.0))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile(xs.take(20), 0.5).contains(10.0))
    assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  /** A fresh convert output of a small input, and what it must hold. */
  private def converted(): (String, Totals) = {
    val gen = Gen(3, 5000)
    val in = new File(work, s"in-${System.nanoTime()}").getPath
    val out = new File(work, s"out-${System.nanoTime()}").getPath
    val ops = new Ops(spark)
    ops.input(gen, in)
    ops.convert(in, out)
    val a = gen.answer(2)
    (out, Totals(a.rows, a.liveCells, a.liveDigest))
  }

  test("the checker accepts the sink's output as written") {
    val (out, want) = converted()
    assert(Check.compare("out", Check.decodeDir(out), want).isEmpty)
  }

  test("the checker fails on a truncated .proto.zst") {
    val (out, want) = converted()
    val f = Check.dataFiles(out).maxBy(_.length)
    val bytes = Files.readAllBytes(f.toPath)
    Files.write(f.toPath, bytes.take(bytes.length - 7))
    val failed = try Check.compare("out", Check.decodeDir(out), want).nonEmpty
      catch { case _: Check.Corrupt => true }
    assert(failed)
  }

  test("the checker fails on a dropped row") {
    val (out, want) = converted()
    val f = Check.dataFiles(out).maxBy(_.length)
    val in = new ZstdInputStream(new FileInputStream(f))
    val raw = try in.readAllBytes() finally in.close()
    // skip the first varint-framed row, keep the rest
    var pos = 0; var len = 0L; var shift = 0
    while ({ val b = raw(pos); len |= (b & 0x7fL) << shift; shift += 7; pos += 1; (b & 0x80) != 0 }) ()
    val os = new ZstdOutputStream(new FileOutputStream(f))
    try os.write(raw, pos + len.toInt, raw.length - pos - len.toInt) finally os.close()
    val got = Check.decodeDir(out)
    assert(got.rows == want.rows - 1)
    assert(Check.compare("out", got, want).nonEmpty)
  }

  test("lookup calls return exactly the answer key's rows, cells and digest") {
    val gen = Gen(5, 5000)
    val a = gen.answer(2)
    val ops = new Ops(spark)
    val in = new File(work, "lookup-in").getPath
    val corpus = new File(work, "lookup-corpus").getPath
    ops.input(gen, in)
    ops.generations(in, corpus)
    val ctx = new Ctx(spark, 5, 1, work)
    val probes = Lookup.probes(a, 5).take(9).toList
    assert(probes.map(_.kind).distinct == Lookup.Kinds)
    probes.foreach(p => assert(Bench.call(ctx, corpus, p)._3.isEmpty, p.kind))
    val get = probes.head
    val wrong = get.copy(want = get.want.copy(cells = get.want.cells + 1))
    assert(Bench.call(ctx, corpus, wrong)._3.nonEmpty)
  }
}

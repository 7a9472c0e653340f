package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnPq, CellModel, Events, Multimodal, Relational, SimSearch, Sink, SinkMaintain, StreamCurate, Streaming, VectorOps}
import graft.sources.Tables

/** Cross-operator semantic invariants on sf0.001: conservation laws,
  * brute-force agreement, batch/stream parity, sink round-trip totals.
  */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001, sf001}

  test("q55 distributed global rank equals the single-partition window rank") {
    import org.apache.spark.sql.expressions.Window
    val naive = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rnk", row_number().over(Window.orderBy(
        col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
    val dist = Relational.globalRank(spark, sf0001)
    assert(dist.count() === naive.count())
    assert(dist.exceptAll(naive).count() === 0)
    // ranks are a permutation-free 1..N sequence
    val n = dist.count()
    assert(dist.agg(min(col("rnk")), max(col("rnk")),
      countDistinct(col("rnk"))).collect()(0).toSeq === Seq(1L, n, n))
  }

  test("q56 exact quantiles match a driver-side sorted-array selection") {
    val lens = Tables.documents(spark, sf0001)
      .select(col("n_chars")).collect().map(_.getLong(0)).sorted
    val n = lens.length
    val got = graft.operators.TextAnalysis.quantiles(spark, sf0001)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === Set(250, 500, 750, 900, 990))
    got.foreach { case (p, (trank, v)) =>
      assert(trank === (p.toLong * n + 999) / 1000)
      assert(v === lens(trank.toInt - 1), s"p$p")
    }
  }

  test("q57 packing: offsets are exact prefix sums and conserve tokens") {
    val rows = graft.operators.TextAnalysis.packSequences(spark, sf0001)
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0), r.getInt(3),
        r.getLong(4), r.getLong(5)))
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, shard) =>
      var cum = 0L
      shard.sortBy(_._3).foreach { case (_, _, _, nTok, start, seqId) =>
        assert(start === cum)
        assert(seqId === start / graft.operators.TextAnalysis.SeqLen)
        cum += nTok
      }
    }
    val totalTokens = rows.map(_._4.toLong).sum
    val expected = Tables.documents(spark, sf0001)
      .select(size(graft.functions.Portable.words(col("text"))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(totalTokens === expected)
  }

  test("q59 kmeans matches a driver-side Lloyd run with identical rules") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), graft.functions.Portable.qvec(col("embedding")))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    def d2(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    var cents: Seq[(Int, Array[Long])] =
      vecs.take(8).map { case (id, v) => id.toInt -> v }.toSeq
    def assign(): Array[(Long, Int, Long)] = vecs.map { case (id, v) =>
      val (cell, dist) = cents.map { case (c, cv) => (c, d2(v, cv)) }
        .minBy { case (c, dist) => (dist, c) }
      (id, cell, dist)
    }
    for (_ <- 1 to 2) {
      val byCell = assign().groupBy(_._2)
      cents = byCell.toSeq.sortBy(_._1).map { case (cell, members) =>
        val vmap = vecs.toMap
        val vs = members.map(m => vmap(m._1))
        cell -> Array.tabulate(64)(i =>
          Math.floorDiv(vs.map(_(i)).sum, vs.length.toLong))
      }
    }
    val truth = assign().groupBy(_._2)
      .map { case (c, ms) => c -> (ms.length.toLong, ms.map(_._3).sum) }
    val got = SimSearch.kmeansEmbed(spark, sf0001).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === truth)
  }

  test("k-means loop-until-converged is the unroll at its stopping depth", SlowTest) {
    val (cent, iters) = SimSearch.trainCentroidsConverged(spark, sf0001, 8)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    val unroll = SimSearch.trainedAfter(
      SimSearch.featurized(spark, sf0001), 8, iters)
    assert(snap(cent) === snap(unroll))
    // converged means the last two rounds were identical, so the
    // (iters-1)-deep unroll already reached the same fixpoint
    assert(snap(cent) === snap(SimSearch.trainedAfter(
      SimSearch.featurized(spark, sf0001), 8, iters - 1)))
    assert(iters >= 2)
  }

  test("q19 rank-1 neighbour agrees with independently computed argmax") {
    val res = SimSearch.annBrute(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // recompute cosine argmax for query 0 from raw embeddings
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000).toLong).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum
      val nb = b.map(x => x * x).sum
      dot.toDouble / math.sqrt((na * nb).toDouble)
    }
    val q0 = vecs(0L)
    val best = vecs.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(q0, v) }
      .maxBy { case (id, c) => (c, -id) }
    assert(res((0L, 1)) === best._1)
  }

  test("q205 filtered recall scores q85 against an independent filtered truth") {
    val rows = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(x =>
        math.floor(x.toDouble * 1000).toLong).toArray,
        r.getAs[Number](2).longValue))
    val vecs = rows.map(t => t._1 -> t._2).toMap
    val evenIds = rows.filter(_._3 % 2 == 0).map(_._1).toSet
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble /
        math.sqrt((a.map(x => x * x).sum * b.map(x => x * x).sum).toDouble)
    }
    // truth: per query, top-3 cosine among even-label non-self vectors
    val truth = (0L until 8L).flatMap { q =>
      rows.filter(t => evenIds(t._1) && t._1 != q)
        .map(t => (cos(vecs(q), t._2), t._1))
        .sortBy { case (c, id) => (-c, id) }
        .take(3).map { case (_, id) => (q, id) }
    }.toSet
    val approx = SimSearch.annFiltered(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val expHits = (approx & truth).size.toLong
    val got = SimSearch.annFilteredRecall(spark, sf0001).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getString(0) === "ivf_filtered")
    assert(r.getLong(1) === expHits)
    assert(r.getLong(2) === truth.size.toLong)
    assert(r.getLong(3) === 1000L * expHits / truth.size)
    // the predicate leaves every query K qualifying candidates at this
    // SF, and the probe finds a usable share of them
    assert(truth.size === 24)
    assert(r.getLong(3) > 0)
  }

  test("q99 top-k aggregator output is identical to the q19 window form") {
    val win = SimSearch.annBrute(spark, sf0001)
    val agg = SimSearch.annTopkAgg(spark, sf0001)
    assert(agg.schema.map(f => (f.name, f.dataType)) ===
      win.schema.map(f => (f.name, f.dataType)))
    assert(agg.count() === win.count())
    assert(agg.exceptAll(win).count() === 0)
    assert(win.exceptAll(agg).count() === 0)
  }

  test("q20 LSH results are a subset-by-construction of scored candidates") {
    val lsh = SimSearch.annLsh(spark, sf0001).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r => assert(r.getInt(1) >= 1 && r.getInt(1) <= 3) }
  }

  test("q34 IVF never beats brute force and matches it per probed rank") {
    val brute = SimSearch.annBrute(spark, sf0001)
      .select(col("q_id"), col("rnk"), col("cosine").as("exact_cos"))
    val ivf = SimSearch.annIvf(spark, sf0001)
      .select(col("q_id"), col("rnk"), col("cosine").as("ivf_cos"))
    // at each rank the approximate neighbour can't exceed the exact one
    assert(ivf.join(brute, Seq("q_id", "rnk"))
      .filter(col("ivf_cos") > col("exact_cos") + 1e-12).count() === 0)
  }

  test("q35 as-of join keeps every order and never matches a later event") {
    import org.apache.spark.sql.functions.{expr, unix_micros}
    val out = Events.asofJoin(spark, sf0001)
    assert(out.count() === Tables.orders(spark, sf0001).count())
    val orders = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"))
    assert(out.join(orders, "o_orderkey")
      .filter(col("last_event_us") > col("order_us")).count() === 0)
    // a matched event really belongs to that user at that µs
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id").as("o_custkey"),
        expr("ts DIV 1000").as("last_event_us"),
        col("event_id").as("last_event_id"))
    assert(out.filter(col("last_event_id").isNotNull)
      .join(ev, Seq("o_custkey", "last_event_us", "last_event_id"), "left_anti")
      .count() === 0)
  }

  test("q26/q27 conserve event counts") {
    val total = Tables.events(spark, sf0001).count()
    val winSum = Events.windowAgg(spark, sf0001)
      .agg(sum("n_events")).collect()(0).getLong(0)
    val sessSum = Events.sessionize(spark, sf0001)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(winSum === total)
    assert(sessSum === total)
  }

  test("q27 sessions have nonnegative durations and start at 1") {
    val s = Events.sessionize(spark, sf0001)
    assert(s.filter(col("duration_us") < 0).count() === 0)
    assert(s.filter(col("session_no") < 1).count() === 0)
  }

  test("q28 streaming result equals q26 batch result") {
    val batch = Events.windowAgg(spark, sf0001)
    val stream = Streaming.streamWindowAgg(spark, sf0001)
      .select(batch.columns.map(col): _*)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("q31 streaming sessionization equals batch sessions closed by the watermark") {
    import org.apache.spark.sql.functions.{expr, max => smax}
    val batch = Events.sessionize(spark, sf0001)
    val gap = 43200000000L
    val mx = Tables.events(spark, sf0001)
      .agg(smax(expr("ts DIV 1000"))).collect()(0).getLong(0)
    val lastSn = batch.groupBy(col("user_id"))
      .agg(smax(col("session_no")).as("last_sn"))
    val closed = batch.join(lastSn, "user_id")
      .filter(col("session_no") < col("last_sn") ||
        expr(s"(end_us + $gap) DIV 1000") < mx / 1000) // ms granularity, as the state store tracks timeouts
      .drop("last_sn")
    val stream = Streaming.streamSessionize(spark, sf0001)
      .select(closed.columns.map(col): _*)
    assert(stream.exceptAll(closed).count() === 0)
    assert(closed.exceptAll(stream).count() === 0)
    // and every session the stream holds back is an open tail session
    assert(stream.count() < batch.count())
  }

  test("q69 stream-stream join equals the static attribution join") {
    val ev = Tables.events(spark, sf0001)
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        expr("ts DIV 1000").as("view_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        expr("ts DIV 1000").as("purchase_us"))
    val batch = v.join(p,
        col("user_id") === col("pu") &&
          col("purchase_us") >= col("view_us") &&
          col("purchase_us") <= col("view_us") + 3600000000L)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_us"), col("purchase_us"),
        (col("purchase_us") - col("view_us")).as("gap_us"))
    val stream = Streaming.streamStreamJoin(spark, sf0001)
      .select(batch.columns.map(col): _*)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
    assert(batch.count() > 0, "attribution window must be non-vacuous")
  }

  test("q25 multimodal features match source-text expectations") {
    val feats = Multimodal.multimodal(spark, sf0001)
      .join(Tables.documents(spark, sf0001), "doc_id")
    assert(feats.filter(col("payload_len") =!= col("n_chars")).count() === 0)
    // lowercase-ascii text: mean byte in [32 (space), 122 (z)]
    assert(feats.filter(col("brightness_milli") < 32000 ||
      col("brightness_milli") > 122000).count() === 0)
  }

  test("q203 modal batches: exact quotas replayed; only tails go underfull") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val ids = Tables.documents(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val byModality = ids.groupBy(id => if (id % 4 == 0) "image" else "text")
    val assigns = byModality.toSeq.flatMap { case (m, ms) =>
      val quota = if (m == "image") 2 else 6
      ms.map(id => (h60("mb:" + id), id))
        .sorted.zipWithIndex
        .map { case (_, i) => (m, i.toLong / quota) }
    }
    val expected = assigns.groupBy(_._2).map { case (b, xs) =>
      val ni = xs.count(_._1 == "image").toLong
      val nt = xs.count(_._1 == "text").toLong
      (b, ni, nt, if (ni == 2 && nt == 6) 1 else 0)
    }.toSet
    val got = Multimodal.modalBatches(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === expected)
    // the mix holds: complete batches exist, and underfull ones can
    // only be each modality's final partial batch (≤ 2 total), because
    // the 1:3 modality split matches the 2:6 quota by construction
    assert(got.count(_._4 === 1) >= 1)
    assert(got.count(_._4 === 0) <= 2, got.filter(_._4 === 0).toString)
  }

  test("q32 frame sampling fans out ceil(frames/stride) rows per doc") {
    import org.apache.spark.sql.functions.{ceil => sceil, expr}
    val perDoc = Multimodal.frameSample(spark, sf0001)
      .groupBy(col("doc_id")).count()
    val expected = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        sceil(sceil(expr("length(text) / 32")) / 4).cast("long").as("want"))
    assert(perDoc.join(expected, "doc_id")
      .filter(col("count") =!= col("want")).count() === 0)
  }

  test("q29 sink round-trip totals equal live partition/cell counts") {
    val out = Sink.sinkRoundtrip(spark, sf0001).collect()(0)
    val nested = CellModel.nestRows(spark, sf0001)
    assert(out.getLong(0) === nested.count())
    val liveCells = CellModel.liveCells(spark, sf0001).count()
    assert(out.getLong(1) === liveCells)
  }

  test("q67 interval join: crafted bursts produce the expected incidents") {
    import spark.implicits._
    val m = 60000000L // IncCellUs
    // burst: cells 10 and 11 each hold 2 errors -> one merged run;
    // lone error in cell 20 is not hot; bystanders in/out of bounds
    val ev = Seq(
      (1L, "error", 10 * m + 1000000L), // incident start
      (2L, "error", 10 * m + 2000000L),
      (1L, "error", 11 * m + 5000000L),
      (3L, "error", 11 * m + 6000000L), // incident end
      (4L, "click", 10 * m + 1500000L), // inside -> counted
      (4L, "view", 11 * m + 6000000L), // inside, boundary-inclusive
      (5L, "click", 10 * m + 500000L), // same cell, before s_us -> out
      (6L, "click", 11 * m + 7000000L), // same cell, after e_us -> out
      (7L, "error", 20 * m + 1000000L), // lone error: no incident
      (8L, "click", 20 * m + 1000000L)
    ).toDF("user_id", "event_type", "us")
    val got = Events.intervalJoinOf(ev).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getLong(0) === 10L) // incident_cell
    assert(r.getLong(1) === 10 * m + 1000000L) // s_us
    assert(r.getLong(2) === 11 * m + 6000000L) // e_us
    assert(r.getLong(3) === 4L) // n_err
    assert(r.getLong(4) === 6L) // 4 errors + 2 in-bounds bystanders
    assert(r.getLong(5) === 4L) // users 1,2,3,4
  }

  test("q68 semantic dedup: removal verdicts match brute-force within-cell cosine") {
    val verdicts = SimSearch.semanticDedup(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val qv = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
      .toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / math.sqrt((a.map(x => x * x).sum * b.map(x => x * x).sum).toDouble)
    }
    val byCell = verdicts.groupBy(_._2)
    verdicts.foreach { case (id, cell, removed) =>
      val hasLowerNeighbour = byCell(cell).exists { case (other, _, _) =>
        other < id && cos(qv(other), qv(id)) >= 0.4
      }
      assert(removed === hasLowerNeighbour, s"vec $id in cell $cell")
    }
    assert(verdicts.exists(_._3) && verdicts.exists(!_._3),
      "want both kept and removed vectors")
  }

  test("q78 PQ output cosines are the exact integer cosines of its pairs") {
    val qv = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
      .toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble /
        math.sqrt((a.map(x => x * x).sum * b.map(x => x * x).sum).toDouble)
    }
    val rows = AnnPq.annPq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length === 8 * 3) // NQ queries × K neighbours
    assert(rows.map(r => (r._1, r._3)).distinct.length === rows.length)
    rows.foreach { case (q, _, v, c) =>
      assert(q !== v)
      assert(c === cos(qv(q), qv(v)), s"pair ($q, $v)")
    }
    // ranks are 1..K per query, ordered by descending cosine
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq === Seq(1, 2, 3), s"query $q")
      assert(rs.sortBy(_._2).map(_._4).toSeq ===
        rs.map(_._4).sorted.reverse.toSeq, s"query $q")
    }
  }

  test("q187 fertility equals q124's per-doc token counts folded by language") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf0001).select("doc_id", "lang")
    val perDoc = TextAnalysis.bpeEncode(spark, sf0001)
      .join(docs, "doc_id")
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val got = TextAnalysis.tokenizerFertility(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.length === perDoc.size)
    got.foreach { case (lang, nd, nw, nb, fert) =>
      assert((nd, nw, nb) === perDoc(lang), lang)
      assert(fert === 1000L * nb / nw, lang)
    }
  }

  test("q185 per-dimension variances match an exact driver-side replay") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0)
        .map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val dims = vecs.head.length
    val expected = (0 until dims).map { d =>
      val xs = vecs.map(_(d))
      val (n, sx, sxx) = (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
      d -> (n, sx, n * sxx - sx * sx)
    }.toMap
    val rows = VectorOps.dimVariance(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(rows.length === dims)
    rows.foreach { case (d, n, sx, vn, _, inPrefix) =>
      assert((n, sx, vn) === expected(d), s"dim $d")
      assert(inPrefix === (if (d < 32) 1 else 0), s"dim $d")
    }
    // ranks are the descending variance order, dim as tie-break
    val byRank = rows.sortBy(_._5).map(r => (r._4, r._1))
    assert(byRank.toSeq ===
      rows.map(r => (r._4, r._1)).sortBy(t => (-t._1, t._2)).toSeq)
  }

  test("q192 covariance: q185 diagonal, full triangle, spot-replayed pairs") {
    val rows = VectorOps.embedCovariance(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val dims = 64
    assert(rows.size === dims * (dims + 1) / 2, "full upper triangle")
    // the diagonal IS q185's variance column
    val vars = VectorOps.dimVariance(spark, sf0001).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    (0 until dims).foreach(d => assert(rows((d, d))._3 === vars(d), s"dim $d"))
    // exact replay of a few off-diagonal pairs
    val vecs = Tables.embeddings(spark, sf0001).select(col("embedding"))
      .collect().map(_.getSeq[Float](0)
        .map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    Seq((0, 1), (3, 40), (62, 63)).foreach { case (i, j) =>
      val n = vecs.length.toLong
      val sxy = vecs.map(v => v(i) * v(j)).sum
      val cov = n * sxy - vecs.map(_(i)).sum * vecs.map(_(j)).sum
      assert(rows((i, j)) === ((n, sxy, cov)), s"pair ($i,$j)")
    }
  }

  test("q208 stream curation: 2-batch split + redelivery equals the batch gates") {
    import graft.sources.GenManifest
    val docs = Tables.documents(spark, sf0001)
    val inv = StreamCurate.boilerInventory(spark, sf0001)
    val rates = StreamCurate.mixtureRates(spark, sf0001)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (mid, maxId) = (ids(ids.length / 2), ids.last)
    // a gate-PASSING doc from the first half, duplicated into the
    // second file under a fresh id: same (text, lang, source) → same
    // content tuple, landing in the OTHER micro-batch
    val dupId = StreamCurate.curationGates(docs, inv, rates)
      .filter(col("doc_id") < mid)
      .agg(min(col("doc_id"))).head().getLong(0)
    val dupH = docs.filter(col("doc_id") === dupId)
      .select(md5(col("text"))).head().getString(0)
    val dupRow = docs.filter(col("doc_id") === dupId)
      .withColumn("doc_id", lit(maxId + 1))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sing_src")
      .toFile.getAbsolutePath
    docs.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    docs.filter(col("doc_id") >= mid).unionByName(dupRow).coalesce(1)
      .write.mode("append").parquet(srcDir)
    // redelivery (the q84 union) on top of the 2-file split: each leg
    // admits one file per trigger → two data micro-batches, the
    // duplicate pair straddling them
    def leg = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft_sing_out")
      .toFile.getAbsolutePath
    val got = StreamCurate.streamCurateOf(spark, leg.union(leg), inv, rates,
      out, java.nio.file.Files.createTempDirectory("graft_sing_ck")
        .toFile.getAbsolutePath)
      .collect().map(_.mkString("|")).sorted
    val want = StreamCurate.curationGates(docs.unionByName(dupRow), inv, rates)
      .select(col("h"), col("lang"), col("shard"), col("n_tokens"),
        col("n_redactions"), col("boiler_milli"))
      .distinct().collect().map(_.mkString("|")).sorted
    assert(got.toSeq === want.toSeq,
      "split+redelivered stream diverged from the batch gate composition")
    assert(got.count(_.startsWith(dupH + "|")) === 1,
      "cross-batch duplicate must collapse to one exported tuple")
    // each data micro-batch folded in as ONE atomic epoch commit
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val versions = fs.listStatus(
      new org.apache.hadoop.fs.Path(out, GenManifest.DirName))
      .count(_.getPath.getName.endsWith(".delta"))
    assert(versions === 2, s"expected 2 epoch commits, saw $versions")
  }

  test("q253 stream model gate: split + redelivery equals batch gates incl. the trained model") {
    import graft.operators.Classifier
    val docs = Tables.documents(spark, sf001)
    val inv = StreamCurate.boilerInventory(spark, sf001)
    val rates = StreamCurate.mixtureRates(spark, sf001)
    val wmap = Classifier.modelWeightMap(spark, sf001)
    // the row-local literal-map kernel must agree doc-for-doc with the
    // broadcast-join scorer (q216's shape) — the seam where bucket
    // arithmetic could silently drift
    val viaColumn = docs.filter(StreamCurate.modelKeep(wmap))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val viaJoin = graft.operators.Curation.classifierScore(spark, sf001)
      .filter(col("keep") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(viaColumn === viaJoin,
      "literal-map model gate diverged from the broadcast-join scorer")
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (mid, maxId) = (ids(ids.length / 2), ids.last)
    // a doc passing BOTH the model gate and the rule ladder, duplicated
    // across the split (the q208 straddle discipline)
    val dupId = StreamCurate.curationGates(
        docs.filter(StreamCurate.modelKeep(wmap)), inv, rates)
      .filter(col("doc_id") < mid)
      .agg(min(col("doc_id"))).head().getLong(0)
    val dupRow = docs.filter(col("doc_id") === dupId)
      .withColumn("doc_id", lit(maxId + 1))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_smg_src")
      .toFile.getAbsolutePath
    docs.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    docs.filter(col("doc_id") >= mid).unionByName(dupRow).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def leg = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val got = StreamCurate.streamModelGateOf(spark, leg.union(leg), wmap,
      inv, rates,
      java.nio.file.Files.createTempDirectory("graft_smg_out")
        .toFile.getAbsolutePath,
      java.nio.file.Files.createTempDirectory("graft_smg_ck")
        .toFile.getAbsolutePath)
      .collect().map(_.mkString("|")).sorted
    val want = StreamCurate.curationGates(
        docs.unionByName(dupRow).filter(StreamCurate.modelKeep(wmap)),
        inv, rates)
      .select(col("h"), col("lang"), col("shard"), col("n_tokens"),
        col("n_redactions"), col("boiler_milli"))
      .distinct().collect().map(_.mkString("|")).sorted
    assert(got.nonEmpty, "the model-gated export must land documents")
    assert(got.toSeq === want.toSeq,
      "split+redelivered model-gated stream diverged from the batch " +
        "composition")
  }

  test("q255 near-dup screen: split + redelivery equals the batch twin; bites, defers, state bounded") {
    import graft.sources.GenManifest
    val docs = Tables.documents(spark, sf0001)
    val inv = StreamCurate.boilerInventory(spark, sf0001)
    val rates = StreamCurate.mixtureRates(spark, sf0001)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (mid, maxId) = (ids(ids.length / 2), ids.last)
    // the q208 straddle discipline: a gate-passing doc duplicated into
    // the other micro-batch under a fresh id — same content, an event
    // time whole horizons away: exact-dedup's case, NEVER the screen's
    val dupId = StreamCurate.curationGates(docs, inv, rates)
      .filter(col("doc_id") < mid)
      .agg(min(col("doc_id"))).head().getLong(0)
    val dupH = docs.filter(col("doc_id") === dupId)
      .select(md5(col("text"))).head().getString(0)
    val dupRow = docs.filter(col("doc_id") === dupId)
      .withColumn("doc_id", lit(maxId + 1))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_nds_src")
      .toFile.getAbsolutePath
    docs.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    docs.filter(col("doc_id") >= mid).unionByName(dupRow).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def leg = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft_nds_out")
      .toFile.getAbsolutePath
    val q = StreamCurate.streamNearDupRun(spark, leg.union(leg), inv,
      rates, out, java.nio.file.Files.createTempDirectory("graft_nds_ck")
        .toFile.getAbsolutePath)
    val gotDf = StreamCurate.nearDupReadBack(spark, out)
    val got = gotDf.collect().map(_.mkString("|")).sorted
    val allDocs = docs.unionByName(dupRow)
    val want = StreamCurate.nearDupBatchTwin(allDocs, inv, rates,
      Some(StreamCurate.NdsHorizonDocs))
      .collect().map(_.mkString("|")).sorted
    assert(got.toSeq === want.toSeq,
      "split+redelivered near-dup stream diverged from the batch twin")
    assert(got.count(_.startsWith(dupH + "|")) === 1,
      "the cross-batch exact duplicate must collapse, not quarantine")
    // the band-0 emit rule holds AT THE SINK: exactly one kind-0
    // content row per gated (ts, h) — not 4 (one per band); the
    // read-back DISTINCT is for redelivery, not write amplification
    val gatedAll = StreamCurate.curationGates(allDocs, inv, rates).count()
    val rawKind0 = spark.read.format("proto-zst").load(out)
      .filter(decode(col("key"), "UTF-8").startsWith("d:")).count()
    assert(rawKind0 === gatedAll,
      s"sink holds $rawKind0 content rows for $gatedAll gated docs — " +
        "the per-band 4x write amplification is back")
    // the screen BITES within the horizon…
    val flagged = gotDf.filter(col("nd_quarantined") === 1)
      .select(col("h")).collect().map(_.getString(0)).toSet
    assert(flagged.nonEmpty,
      "within-horizon verified pairs exist at this sf — the screen must fire")
    // …DEFERS what the horizon cannot see, and stream ∘ nightly
    // CONVERGES to the full batch ladder: the no-horizon twin (= the
    // q211 backstop's verdict surface) strictly contains the online
    // verdicts and nothing else is ever flagged
    val full = StreamCurate.nearDupBatchTwin(allDocs, inv, rates, None)
      .filter(col("nd_quarantined") === 1)
      .select(col("h")).collect().map(_.getString(0)).toSet
    assert(flagged.subsetOf(full),
      "the stream may only flag what the full batch ladder flags")
    assert((full -- flagged).nonEmpty,
      "cross-horizon pairs exist at this sf — the nightly backstop " +
        "must have work left, else the horizon proved nothing")
    // state is bounded by the watermark window, not the corpus: the
    // window holds ≤ one entry per (band, gated doc) and the horizon
    // eviction must have removed batch-1 entries older than
    // wm − horizon by the time batch 2 committed
    val gatedN = StreamCurate.curationGates(docs, inv, rates).count()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows > 0 && stateRows < 4L * gatedN,
      s"state rows $stateRows must stay under 4 bands × $gatedN gated docs")
    // each data micro-batch folded in as ONE atomic epoch commit
    val conf = graft.sources.ProtoZstFiles.hadoopConf()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val versions = fs.listStatus(
      new org.apache.hadoop.fs.Path(out, GenManifest.DirName))
      .count(_.getPath.getName.endsWith(".delta"))
    assert(versions === 2, s"expected 2 epoch commits, saw $versions")
  }

  /** The q208 crash-restart exactly-once contract: kill the stream at
    * a chosen point around the second micro-batch's manifest epoch
    * commit, restart from the SAME checkpointLocation, and prove the
    * landed corpus + manifest epochs equal the uninterrupted run — no
    * duplicate, no hole. `killPoint` = "before" (driver dies after the
    * batch's file writes but before the epoch commit: the whole batch
    * replays and commits once) or "after" (driver dies between our
    * epoch commit and Spark's own commit log: the replay is refused,
    * its duplicate files rolled back, the published files spared).
    */
  private def q208CrashRestart(killPoint: String): Unit = {
    import graft.sources.{EpochCommitHooks, GenManifest, ProtoZstFiles}
    val docs = Tables.documents(spark, sf0001)
    val inv = StreamCurate.boilerInventory(spark, sf0001)
    val rates = StreamCurate.mixtureRates(spark, sf0001)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_crash_src")
      .toFile.getAbsolutePath
    docs.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    docs.filter(col("doc_id") >= mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def leg = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    def fresh(p: String) = java.nio.file.Files.createTempDirectory(p)
      .toFile.getAbsolutePath
    // the uninterrupted twin: same source split, its own checkpoint
    val want = StreamCurate.streamCurateOf(spark, leg, inv, rates,
      fresh("graft_crash_base"), fresh("graft_crash_base_ck"))
      .collect().map(_.mkString("|")).sorted
    val out = fresh("graft_crash_out"); val ck = fresh("graft_crash_ck")
    val conf = ProtoZstFiles.hadoopConf()
    try {
      // arm: one injected driver death at the second DATA epoch
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val killer: Long => Unit = e =>
        if (e >= 1L && armed.compareAndSet(true, false))
          throw new RuntimeException(
            s"injected driver crash $killPoint epoch commit")
      if (killPoint == "before") EpochCommitHooks.beforeCommit = killer
      else EpochCommitHooks.afterCommit = killer
      val crashed = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamCurate.streamCurateOf(spark, leg, inv, rates, out, ck)
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(crashed).exists(c =>
        String.valueOf(c.getMessage).contains("injected driver crash")),
        chain(crashed).map(_.toString).mkString("\n"))
      EpochCommitHooks.reset()
      // mid-crash state pins the kill point: "before" died with only
      // epoch 0 committed; "after" died with epoch 1 already durable
      val midSnap = GenManifest.read(out, conf).getOrElse(fail("no manifest"))
      if (killPoint == "before") {
        assert(midSnap.version === 1L, s"v=${midSnap.version}")
        assert(midSnap.epochs.forall(_.endsWith("/0")), midSnap.epochs)
      } else {
        assert(midSnap.version === 2L, s"v=${midSnap.version}")
        assert(midSnap.epochs.exists(_.endsWith("/1")), midSnap.epochs)
      }
      // restart from the SAME checkpoint: AvailableNow finishes the
      // replayed batch and terminates
      val got = StreamCurate.streamCurateOf(spark, leg, inv, rates, out, ck)
        .collect().map(_.mkString("|")).sorted
      assert(got.toSeq === want.toSeq,
        s"$killPoint-crash restart diverged from the uninterrupted run")
      // exactly two data epochs committed across crash + restart, the
      // disk holds exactly the committed files (replay duplicates
      // rolled back, nothing published twice), counts conserved
      val s = GenManifest.read(out, conf).getOrElse(fail("no manifest"))
      assert(s.version === 2L, s"v=${s.version}: an epoch committed twice")
      assert(s.epochs.size === 1 && s.epochs.forall(_.endsWith("/1")),
        s.epochs)
      val listed = ProtoZstFiles.list(out, conf).map(f =>
        new org.apache.hadoop.fs.Path(f).getName).sorted
      assert(s.entries.map(_.name).sorted.toSeq === listed.toSeq,
        "disk diverged from the committed entry set")
      assert(s.entries.map(_.count).sum === got.length.toLong)
    } finally EpochCommitHooks.reset()
  }

  test("q208 crash BEFORE the epoch commit: restart lands the batch exactly once", SlowTest) {
    q208CrashRestart("before")
  }

  test("q208 crash AFTER the epoch commit: the replay is refused, published files spared", SlowTest) {
    q208CrashRestart("after")
  }

  /** q255's crash-restart contract — the q208 proof extended to the
    * STATEFUL stream: kill the near-dup screen around its second data
    * epoch's manifest commit, restart from the same checkpoint (RocksDB
    * state restores to the pre-crash batch, the replayed arrivals are
    * the at-least-once case the processor's event-time verdicts make
    * deterministic), and prove the read-back equals the uninterrupted
    * run's batch twin with exactly one manifest epoch surviving.
    */
  private def q255CrashRestart(killPoint: String): Unit = {
    import graft.sources.{EpochCommitHooks, GenManifest, ProtoZstFiles}
    val docs = Tables.documents(spark, sf0001)
    val inv = StreamCurate.boilerInventory(spark, sf0001)
    val rates = StreamCurate.mixtureRates(spark, sf0001)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ndsc_src")
      .toFile.getAbsolutePath
    docs.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    docs.filter(col("doc_id") >= mid).coalesce(1)
      .write.mode("append").parquet(srcDir)
    def leg = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    def fresh(p: String) = java.nio.file.Files.createTempDirectory(p)
      .toFile.getAbsolutePath
    val out = fresh("graft_ndsc_out"); val ck = fresh("graft_ndsc_ck")
    val conf = ProtoZstFiles.hadoopConf()
    try {
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      val killer: Long => Unit = e =>
        if (e >= 1L && armed.compareAndSet(true, false))
          throw new RuntimeException(
            s"injected driver crash $killPoint epoch commit")
      if (killPoint == "before") EpochCommitHooks.beforeCommit = killer
      else EpochCommitHooks.afterCommit = killer
      val crashed = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamCurate.streamNearDupRun(spark, leg, inv, rates, out, ck)
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(crashed).exists(c =>
        String.valueOf(c.getMessage).contains("injected driver crash")),
        chain(crashed).map(_.toString).mkString("\n"))
      EpochCommitHooks.reset()
      // restart from the SAME checkpoint; AvailableNow drains the
      // replayed batch and terminates
      StreamCurate.streamNearDupRun(spark, leg, inv, rates, out, ck)
      val got = StreamCurate.nearDupReadBack(spark, out)
        .collect().map(_.mkString("|")).sorted
      val want = StreamCurate.nearDupBatchTwin(docs, inv, rates,
        Some(StreamCurate.NdsHorizonDocs))
        .collect().map(_.mkString("|")).sorted
      assert(got.toSeq === want.toSeq,
        s"$killPoint-crash restart diverged from the batch twin")
      // epoch ledger: only the max committed epoch is retained per
      // query and nothing committed twice — the landed file set is
      // exactly the manifest's
      val s = GenManifest.read(out, conf).getOrElse(fail("no manifest"))
      assert(s.epochs.size === 1 && s.epochs.forall(_.endsWith("/1")),
        s.epochs)
      val listed = ProtoZstFiles.list(out, conf).map(f =>
        new org.apache.hadoop.fs.Path(f).getName).sorted
      assert(s.entries.map(_.name).sorted.toSeq === listed.toSeq,
        "disk diverged from the committed entry set")
    } finally EpochCommitHooks.reset()
  }

  test("q255 crash BEFORE its epoch commit: stateful restart lands the batch exactly once", SlowTest) {
    q255CrashRestart("before")
  }

  test("q255 crash AFTER its epoch commit: the stateful replay is refused, files spared", SlowTest) {
    q255CrashRestart("after")
  }

  test("q210 hybrid fusion: RRF arithmetic, pool bounds, dense ranks = q19") {
    import graft.operators.Retrieval
    val rows = Retrieval.hybridRrf(spark, sf0001).collect().map { r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        if (r.isNullAt(5)) None else Some(r.getInt(5)))
    }
    assert(rows.length === 40, "8 queries × fused top-5")
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1 to 5), s"query $q ranks")
      // fused order is rrf-desc with doc_id tie-break
      val order = rs.sortBy(_._2).map(r => (-r._4, r._3))
      assert(order.toSeq === order.sorted.toSeq, s"query $q fusion order")
    }
    rows.foreach { case (q, _, d, rrf, s, dn) =>
      assert(s.nonEmpty || dn.nonEmpty, s"($q,$d) in neither pool")
      assert(s.forall(r => r >= 1 && r <= 10) && dn.forall(r => r >= 1 && r <= 10))
      // the fused score IS the integer RRF of the two ranks
      val expect = s.fold(0L)(r => 1000000L / (60 + r)) +
        dn.fold(0L)(r => 1000000L / (60 + r))
      assert(rrf === expect, s"($q,$d) rrf")
    }
    // the dense ranks are q19's exact cosine ranking: every fused row
    // ranked ≤3 dense-side must be exactly the brute top-3 row
    val brute = SimSearch.annBrute(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val checked = rows.flatMap { case (q, _, d, _, _, dn) =>
      dn.filter(_ <= 3).map(r => ((q, r), d)) }
    assert(checked.nonEmpty, "no dense-ranked rows reached the fusion")
    checked.foreach { case (k, d) =>
      assert(brute(k) === d, s"dense rank $k diverged from q19") }
  }

  test("q211 sweep quarantines exactly the near-dup partner hashes") {
    import graft.operators.Dedup
    val rows = StreamCurate.ingestSweep(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(6)))
    val nearH = Dedup.dedupMinhash(spark, sf0001)
      .select(col("doc_b")).distinct()
      .join(Tables.documents(spark, sf0001),
        col("doc_b") === col("doc_id"))
      .select(md5(col("text"))).collect().map(_.getString(0)).toSet
    rows.foreach { case (h, q) =>
      assert((q == 1) === nearH.contains(h), s"hash $h") }
    assert(rows.exists(_._2 == 1) && rows.exists(_._2 == 0),
      "sweep must flag some content and keep the rest at this SF")
    // the sweep covers exactly the exported corpus: one verdict row
    // per q208 content tuple (the stream's set, by the split-parity
    // proof above)
    assert(rows.length ===
      StreamCurate.streamCurate(spark, sf0001).count().toInt,
      "sweep rows = exported content tuples")
  }

  test("q209 adaptive probes recover what the static probe misses") {
    import spark.implicits._
    // 1-D geometry on the qv plane: six trained cells at x = 0..50;
    // the query sits in cell 0, the static NProbe=4 probes (cells
    // 0-3) hold only predicate-FAILING vectors, and the true
    // qualifying neighbours live in cell 4 (probe rank 5). A farther
    // qualifying vector in cell 5 proves the widening STOPS at the
    // floor instead of draining the cell list.
    val cent = (0 to 5).map(c =>
      (c, Seq(c * 10L, 0L), c * 10L * (c * 10L))).toDF("cell", "cqv", "cn2")
    def v(id: Long, x: Long, label: Long) = (id, Seq(x, 0L), x * x, label)
    val e0 = (Seq(v(0, 1, 0)) ++ // the query (vec_id < NQ), label-passing
      Seq(v(110, 9, 1), v(111, 11, 1), v(120, 19, 1), v(121, 21, 1),
        v(130, 29, 1), v(131, 31, 1)) ++ // cells 1-3: predicate-failing
      Seq(v(200, 39, 0), v(201, 40, 0), v(202, 41, 0)) ++ // cell 4: truth
      Seq(v(210, 51, 0))) // cell 5: qualifying but beyond the floor
      .toDF("vec_id", "qv", "n2", "label")
    val static = SimSearch.adaptiveFiltered(e0, cent, col("label") === 0,
      floor = 0L, cap = 4).collect()
    assert(static.isEmpty,
      "static NProbe=4 must return nothing: its probed cells hold no " +
        "qualifying candidate (the silent under-recall q209 fixes)")
    val adaptive = SimSearch.adaptiveFiltered(e0, cent, col("label") === 0,
      floor = 2L, cap = 12).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(4)))
      .sortBy(_._2)
    assert(adaptive.toSeq === Seq((0L, 1, 200L, 5), (0L, 2, 201L, 5),
      (0L, 3, 202L, 5)),
      s"adaptive probing diverged: ${adaptive.toSeq}")
  }

  test("q192 overflow guard refuses once n²·max|x|² leaves exact-long range") {
    import spark.implicits._
    // n = 2, max|x| = 3·10⁹ → n²·max|x|² = 3.6·10¹⁹ > Long.Max/2: the
    // in-plan guard must refuse rather than emit a silently-overflowed
    // matrix (3·10⁹ squared already wraps a long on its own)
    val hot = Seq(Seq(3000000000L, 1L), Seq(2L, 4L)).toDF("qv")
    val e = intercept[Exception](VectorOps.covKernel(hot).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("exact-long range"), msgs)
    // the same kernel inside the bound computes the exact triangle
    val ok = VectorOps.covKernel(Seq(Seq(1L, 2L), Seq(3L, 4L)).toDF("qv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(ok.size === 3)
    // n·Σxy − Σx·Σy by hand: (0,0): 2·10−16=4; (0,1): 2·14−4·6=4; (1,1): 2·20−36=4
    assert(ok((0, 0)) === ((2L, 10L, 4L)))
    assert(ok((0, 1)) === ((2L, 14L, 4L)))
    assert(ok((1, 1)) === ((2L, 20L, 4L)))
  }

  test("q193 cell loads replay the trained argmin assignment exactly") {
    val rows = SimSearch.ivfBalance(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.length === 16, "one row per trained cell, empties included")
    val total = rows.map(_._2).sum
    assert(total === Tables.embeddings(spark, sf0001).count())
    rows.foreach { case (cell, n, bal, skewed) =>
      assert(bal === 1000L * n * 16 / total, s"cell $cell")
      assert(skewed === (if (bal >= 2000) 1 else 0), s"cell $cell")
    }
    // the audit counts the SAME assignment q34 probes: replay argmin
    // against the shared trained centroids, exact integer distances
    val cent = SimSearch.centroidFixture(spark, sf0001, 16).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val got = rows.map(r => r._1 -> r._2).toMap
    val expected = Tables.embeddings(spark, sf0001).select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000).toLong)
        .toArray)
      .map { qv =>
        val n2 = qv.map(x => x * x).sum
        cent.map { case (cell, cqv, cn2) =>
          val dot = qv.zip(cqv).map { case (a, b) => a * b }.sum
          (n2 - 2 * dot + cn2, cell)
        }.min._2
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    (0 until 16).foreach { c =>
      assert(got(c) === expected.getOrElse(c, 0L), s"cell $c")
    }
  }

  test("q85 filtered search returns only predicate-passing exact neighbours") {
    val labels = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = SimSearch.annFiltered(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length === 8 * 3)
    rows.foreach { case (q, _, v, _) =>
      assert(labels(v) % 2 === 0, s"vec $v label ${labels(v)}")
      assert(q !== v)
    }
    // and the filter genuinely changes the answer vs unfiltered IVF
    val unfiltered = SimSearch.annIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows.exists { case (q, _, v, _) => !unfiltered.contains((q, v)) })
  }

  test("q71 heavy hitters equal a full-sort count over the exploded corpus") {
    val naive = Tables.documents(spark, sf0001)
      .select(explode(graft.functions.Portable.words(col("text"))).as("w"),
        col("doc_id"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_occur"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occur").desc, col("w").asc)
      .limit(30)
    val got = graft.operators.TextAnalysis.heavyHitters(spark, sf0001)
    assert(got.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(got).count() === 0)
    assert(got.count() === 30)
  }

  test("q72 salted join equals the plain unsalted join") {
    val plain = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(round(col("l_quantity") * 100, 0).cast("long"))
          .cast("double") / 100.0).as("sum_qty"))
    val salted = Relational.saltedJoin(spark, sf0001)
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("q73 grouped median matches a driver-side sorted-array median") {
    val byLang = Tables.documents(spark, sf0001)
      .select(col("lang"),
        size(graft.functions.Portable.words(col("text"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong)
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sorted }
    val got = graft.operators.TextAnalysis.groupMedian(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet === byLang.keySet)
    byLang.foreach { case (lang, xs) =>
      val n = xs.length
      val expect = (xs((n - 1) / 2) + xs(n / 2)) / 2.0
      assert(got(lang) === ((n.toLong, expect)), lang)
    }
  }

  test("morton codes round-trip: deinterleaving recovers both dimensions") {
    val rows = spark.range(2000).select(
      pmod(xxhash64(col("id")), lit(65536L)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(65536L)).as("y"))
      .withColumn("z", graft.operators.Layout.morton(col("x"), col("y")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (x, y, z) =>
      val xr = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val yr = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert((xr, yr) === ((x, y)), s"z=$z")
    }
  }

  test("q74 morton code interleaves bits; z-shards beat a 1-D sort on box area") {
    // known interleavings: x bits land even, y bits land odd
    val codes = spark.range(1).select(
      graft.operators.Layout.morton(lit(0L), lit(0L)),
      graft.operators.Layout.morton(lit(1L), lit(0L)),
      graft.operators.Layout.morton(lit(0L), lit(1L)),
      graft.operators.Layout.morton(lit(3L), lit(1L)),
      graft.operators.Layout.morton(lit(0xFFFFL), lit(0L)))
      .collect()(0).toSeq
    assert(codes === Seq(0L, 1L, 2L, 7L, 0x55555555L))
    // locality: on a full 256×256 grid cut into 64 power-of-4-aligned
    // z-ranges, every shard is EXACTLY a 32×32 quadtree block — both
    // dimensions' spans bounded, so a predicate on EITHER column prunes
    // 56/64 shards. The 1-D contrast: sorting by px alone gives shards
    // spanning 4 in px but all 256 of sy — zero pruning on sy. (Sum of
    // box areas can't distinguish the two — any partition of the grid
    // tiles the same total area — per-dimension span is the metric.)
    val z = spark.range(65536)
      .select(expr("id DIV 256").as("px"), pmod(col("id"), lit(256L)).as("sy"))
      .withColumn("zcode", graft.operators.Layout.morton(col("px"), col("sy")))
      .withColumn("shard", expr("zcode DIV 1024"))
      .groupBy(col("shard"))
      .agg(min(col("px")).as("p0"), max(col("px")).as("p1"),
        min(col("sy")).as("s0"), max(col("sy")).as("s1"))
      .collect()
    assert(z.length === 64)
    z.foreach { r =>
      assert(r.getLong(2) - r.getLong(1) + 1 === 32, s"px span in $r")
      assert(r.getLong(4) - r.getLong(3) + 1 === 32, s"sy span in $r")
    }
  }

  test("q76 streaming funnel equals the q75 batch funnel") {
    val batch = Events.funnel(spark, sf0001)
    val stream = Streaming.streamFunnel(spark, sf0001)
      .select(batch.columns.map(col): _*)
    assert(stream.count() === batch.count())
    assert(stream.exceptAll(batch).count() === 0)
  }

  /** The ONE documented engine/batch divergence, constructed and
    * pinned: under cross-batch REORDERING the q76 three-longs state is
    * first-wins — a later batch delivering an EARLIER view can neither
    * retroactively lower t1 nor resurrect a click the state already
    * rejected (batch q75, with full history, would do both). This test
    * builds exactly that reordering (two files streamed oldest-first,
    * one per micro-batch) and asserts the documented first-wins
    * answer, so the approximation is held by test, not prose.
    */
  test("q76 cross-batch reordering: the first-wins approximation is pinned") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val srcDir = Files.createTempDirectory("graft_funnel_src")
    def writeBatch(name: String, mtimeMs: Long,
        rows: Seq[(Long, Long, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_funnel_tmp").toString
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir.toString, name)
      Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      // the file source admits oldest-first: the mtimes ARE the batch order
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
      ()
    }
    val t0 = System.currentTimeMillis() - 120000
    def ns(us: Long) = us * 1000L // streamFunnelOf divides ts by 1000
    // batch 1: user 1 completes view→click; user 2 offers a click with
    // no view yet (rejected by the step-order gate)
    writeBatch("b1.parquet", t0, Seq(
      (1L, 1L, "view", ns(200)), (1L, 2L, "click", ns(300)),
      (2L, 5L, "click", ns(100))))
    // batch 2 delivers EARLIER events: user 1 an earlier view (must not
    // lower t1=200) and a purchase at 250 < t2=300 (must stay
    // rejected); user 2 the view at 50 that PRECEDES its dead click
    // (the click must not resurrect)
    writeBatch("b2.parquet", t0 + 60000, Seq(
      (1L, 3L, "view", ns(50)), (1L, 4L, "purchase", ns(250)),
      (2L, 6L, "view", ns(50))))
    val schema = spark.read.parquet(srcDir.toString).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val got = Streaming.streamFunnelOf(spark, src)
      .select(col("user_id"), col("view_us"), col("click_us"),
        col("purchase_us"), col("funnel_depth"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))
      .sortBy(r => (r._1, r._5)).toSeq
    // one emission per (user, batch); the SECOND emission per user is
    // the documented first-wins state — batch q75 over the union would
    // instead give user 1 t1=50 and user 2 (50, 100, depth 2)
    assert(got === Seq(
      (1L, Some(200L), Some(300L), None, 2),
      (1L, Some(200L), Some(300L), None, 2),
      (2L, None, None, None, 0),
      (2L, Some(50L), None, None, 1)))
  }

  test("q82 BPE pair counts match a driver-side trainer over word freqs") {
    val wf = Tables.documents(spark, sf0001)
      .select(explode(graft.functions.Portable.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    wf.foreach { case (w, f) =>
      val syms = w.map(_.toString) :+ "</w>"
      syms.sliding(2).foreach { p =>
        val k = p.mkString(" ")
        counts(k) = counts.getOrElse(k, 0L) + f
      }
    }
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = graft.operators.TextAnalysis.bpePairs(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got === expect)
  }

  test("q83 mixture plan: rates cap at 1000 and conserve token budgets") {
    val rows = graft.operators.Curation.mixturePlan(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length === 5)
    val total = rows.map(_._2).sum
    rows.foreach { case (lang, n, share, target, rate, kept) =>
      assert(share === n * 1000 / total, lang)
      assert(rate <= 1000 && rate >= 0, lang)
      assert(kept === n * rate / 1000, lang)
      assert(kept <= n, lang)
      // a source above its target share must down-sample; one below
      // must keep everything
      if (share > target) assert(rate < 1000, lang)
      if (share < target) assert(rate === 1000, lang)
    }
  }

  test("q86 native session_window equals the hand-rolled q27 sessions") {
    val native = Events.sessionWindowAgg(spark, sf0001)
    val rolled = Events.sessionize(spark, sf0001)
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"), col("duration_us"))
    assert(native.count() === rolled.count())
    assert(native.exceptAll(rolled).count() === 0)
    assert(rolled.exceptAll(native).count() === 0)
  }

  test("q86 boundary convention holds: no per-user gap of exactly SessionGapUs") {
    // session_window breaks a session at a gap of EXACTLY the gap
    // duration (exclusive window end) where q27's `>` keeps it — the
    // two agree only on a corpus with no exact-gap consecutive pair.
    // Assert that at every SF the driver verifies against, so a
    // regenerated corpus can't silently violate the convention.
    import org.apache.spark.sql.expressions.Window
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val exact = Tables.events(spark, dir)
        .select(col("user_id"), expr("ts DIV 1000").as("us"))
        .withColumn("prev", lag(col("us"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("us"))))
        .filter(col("us") - col("prev") === Events.SessionGapUs)
        .count()
      assert(exact === 0L,
        s"$dir has $exact exact-${Events.SessionGapUs}us gaps; " +
          "q86/q27 boundary conventions diverge on this corpus")
    }
  }

  test("event_id uniqueness convention holds (q84/q98 key state on it alone)") {
    // q84's TTL-dedup keys state on event_id where the oracle dedups
    // full rows, and q98's upsert feed assumes one row per (user,
    // event): both are valid ONLY while event ids are unique. Assert
    // it at every SF the driver verifies against (the q86 exact-gap
    // discipline), so a regenerated corpus can't silently break parity.
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val ev = Tables.events(spark, dir)
      val dupIds = ev.groupBy(col("event_id")).count()
        .filter(col("count") > 1).count()
      assert(dupIds === 0L,
        s"$dir has $dupIds duplicated event_ids; q84/q98 state keying " +
          "no longer matches their full-row oracles")
    }
  }

  test("q84 state is provider-portable: RocksDB store yields identical results") {
    // the spill-to-disk provider a 100 TB streaming deployment runs
    // (state larger than executor memory) must agree with the default
    // in-memory HDFS-backed store bit-for-bit
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val rocks =
      try Streaming.streamDedupTtl(spark, sf0001)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    val default = Streaming.streamDedupTtl(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rocks === default)
    assert(rocks.values.sum === Tables.events(spark, sf0001).count())
  }

  test("q92 profile: key column is unique and null-free; row counts agree") {
    val p = graft.operators.Relational.profile(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = Tables.documents(spark, sf0001).count()
    p.foreach { case (c, (rows, nulls, _)) =>
      assert(rows === n, c); assert(nulls === 0L, c)
    }
    // doc_id is the primary key: exactly one distinct value per row
    assert(p("doc_id")._3 === n)
    assert(p("lang")._3 <= 10) // bounded language set
  }

  test("q93 unpivot inverts q88: counts conserve and scaffold is complete") {
    val long = Events.unpivotDaily(spark, sf0001)
    val days = Tables.events(spark, sf0001)
      .select(expr("(ts DIV 1000) DIV 86400000000").as("d")).distinct().count()
    assert(long.count() === days * 5) // full day x type scaffold
    val total = long.agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(total === Tables.events(spark, sf0001).count())
  }

  test("q94 lm surprisal: token conservation and sane bit range") {
    val q = graft.operators.TextAnalysis.lmQuality(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    assert(q.count() === docs.count())
    // every token scores: per-doc token counts sum to the corpus total
    val corpusToks = docs
      .agg(sum(size(graft.functions.Portable.words(col("text")))))
      .collect()(0).getLong(0)
    assert(q.agg(sum(col("n_tokens"))).collect()(0).getLong(0) === corpusToks)
    // mean surprisal is positive and under 64 bits/token by construction
    val bounds = q.agg(min(col("surprisal_milli")), max(col("surprisal_milli")))
      .collect()(0)
    assert(bounds.getLong(0) >= 0L && bounds.getLong(1) < 64000L)
  }

  test("q75 funnel only counts steps at-or-after the previous step") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full ordered funnel, same-instant click counts via >=
      (1L, "view", 100L), (1L, "click", 100L), (1L, "purchase", 300L),
      // user 2: purchase BEFORE the first view — depth stops at view
      (2L, "purchase", 50L), (2L, "view", 100L),
      // user 3: click before view, valid click after — picks the later
      (3L, "click", 10L), (3L, "view", 20L), (3L, "click", 30L),
      // user 4: no view at all — depth 0 despite click+purchase
      (4L, "click", 10L), (4L, "purchase", 20L))
      .toDF("user_id", "event_type", "us")
    val got = Events.funnelOf(ev).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4))).toMap
    assert(got(1L) === ((Some(100L), Some(100L), Some(300L), 3)))
    assert(got(2L) === ((Some(100L), None, None, 1)))
    assert(got(3L) === ((Some(20L), Some(30L), None, 2)))
    assert(got(4L) === ((None, None, None, 0)))
  }

  test("q103 vacuum: reads survive, history refuses loudly, files gone") {
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    // private generation pair — never the shared q61/q80/q81 fixture
    val (g0, g1) = Sink.buildGens(spark, sf0001)
    val headBefore = snap(Sink.asofOf(spark, g0, g1, Long.MaxValue))
    val (g2, cutUs) = SinkMaintain.compactGeneration(spark, g0, g1)
    val atCutBefore = snap(Sink.asofOf(spark, g0, g1, cutUs))
    // a cut below a still-present write_time must refuse, files intact
    val refused = intercept[IllegalStateException](
      SinkMaintain.vacuumGenerations(spark, Seq(g0, g1), g2, cutUs - 1))
    assert(refused.getMessage.contains("vacuum refused"))
    assert(new java.io.File(g0).exists() && new java.io.File(g1).exists())
    SinkMaintain.vacuumGenerations(spark, Seq(g0, g1), g2, cutUs)
    assert(!new java.io.File(g0).exists() && !new java.io.File(g1).exists(),
      "vacuumed generation directories must actually be deleted")
    // HEAD and post-cut as-of reads are unchanged by the vacuum
    assert(snap(SinkMaintain.asofReadRetained(spark, g2, Long.MaxValue)) === headBefore)
    assert(snap(SinkMaintain.asofReadRetained(spark, g2, cutUs)) === atCutBefore)
    assert(headBefore === atCutBefore) // cut covers every write_time
    // an as-of below the cut (q80's historical instant) fails LOUDLY
    val e = intercept[IllegalStateException](
      SinkMaintain.asofReadRetained(spark, g2, Sink.AsOfUs))
    assert(e.getMessage.contains("retention cut"))
  }

  test("q101 event-time timer retires dormant state; a re-appearing key restarts from zero") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long)](
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        spark.sqlContext) // (user_id, vc, us)
      val ds = in.toDS()
        .withColumn("ets", timestamp_micros(col("_3")))
        .withWatermark("ets", "0 seconds")
        .select(col("_1"), col("_2"), col("_3")).as[(Long, Long, Long)]
      val q = ds.groupByKey(_._1)
        .transformWithState(
          new graft.operators.RetiringFeatureProcessor(1000L), // 1 s TTL
          TimeMode.EventTime(), OutputMode.Update())
        .writeStream.format("memory").queryName("q101_spec")
        .outputMode("update").start()
      def step(rows: (Long, Long, Long)*): Unit = {
        in.addData(rows); q.processAllAvailable()
      }
      step((1L, 10L, 0L), (2L, 5L, 0L)) // both users born at t=0
      step((2L, 7L, 5000000L))  // wm -> 5 s after this batch
      step((2L, 1L, 6000000L))  // user 1 timer (1 s) fires: retire (1,10,0)
      step((1L, 3L, 7000000L))  // user 1 re-appears
      step((2L, 1L, 20000000L)) // wm -> 20 s
      step((2L, 1L, 21000000L)) // user 1 second retirement fires
      val u1 = spark.table("q101_spec")
        .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L).toSet
      q.stop()
      // first retirement carries the pre-drop accumulator; the second
      // carries ONLY the post-retirement event — n_events restarts at 1
      // (2 would mean the timer emitted without dropping state)
      assert(u1 === Set((1L, 1L, 10L, 0L), (1L, 1L, 3L, 7000000L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q102 outer join: null rows only for watermark-final views; state evicts") {
    // user 1: matched inside the window; user 2: matchless, finalized;
    // user 3: matchless, window end base+4.5 h > final watermark
    //         base+4 h; user 4: matchless, window end EXACTLY the
    //         watermark — the boundary pinning strict `<` eviction;
    // users 98/99: drivers pushing BOTH sides' max to base+5 h (the
    // query watermark is the MIN across the two nodes) - 1 h = base+4 h.
    // `base` is 2023-era: event times near the 1970 epoch sit below the
    // join's initial state-cleanup cutoffs and emit nothing (see
    // outerAttributionOf scaladoc)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600000000L
    val base = 1700000000000000L
    val vIn = MemoryStream[(Long, Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
      spark.sqlContext) // (user_id, view_id, view_us)
    val pIn = MemoryStream[(Long, Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
      spark.sqlContext) // (user_id, purchase_id, purchase_us)
    val views = vIn.toDS().toDF("user_id", "view_id", "view_us")
      .withColumn("view_time", timestamp_micros(col("view_us")))
    val purchases = pIn.toDS()
      .toDF("p_user", "purchase_id", "purchase_us")
      .withColumn("purchase_time", timestamp_micros(col("purchase_us")))
    val q = Streaming.outerAttributionOf(views, purchases)
      .writeStream.format("memory").queryName("q102_spec")
      .outputMode("append").start()
    vIn.addData((1L, 100L, base), (2L, 200L, base),
      (3L, 300L, base + 3L * hourUs + hourUs / 2),
      (4L, 400L, base + 3L * hourUs),
      (98L, 980L, base + 5L * hourUs))
    pIn.addData((1L, 101L, base + hourUs / 2), (99L, 990L, base + 5L * hourUs))
    q.processAllAvailable()
    val rows = spark.table("q102_spec")
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("gap_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)),
        Option(r.get(3)))).toSet
    val removed = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    q.stop()
    assert(rows === Set(
      (1L, 100L, Some(101L), Some(hourUs / 2)), // matched, gap 30 min
      (2L, 200L, None, None)), // finalized matchless view
      "user 3 (young) and user 4 (window end == watermark) must not emit")
    // the outer half works by EVICTION: finalized state must actually
    // leave the store, not linger behind the emission
    assert(removed > 0L, "no state rows were evicted")
  }

  test("q110 perceptual-hash kernel: identical payloads collide, an edit stays near") {
    import graft.operators.{MediaRec, Multimodal}
    def rec(id: Long, payload: String) =
      MediaRec(id, "fake_rgb8", 10, 10, payload.getBytes("UTF-8"))
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val edited = base.updated(5, 'Q').updated(100, 'z') // two local edits
    val shuffled = new String(base.toCharArray.sorted) // same bytes, new layout
    val hs = Multimodal.phashBatch(Iterator(
      rec(1, base), rec(2, base), rec(3, edited), rec(4, shuffled)))
      .toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hs(a) ^ hs(b))
    assert(ham(1, 2) === 0) // identical payloads: identical hash
    assert(ham(1, 3) <= 4, s"local edits moved ${ham(1, 3)} bits")
    // a global re-layout of the same bytes is NOT a near-dup: the
    // block structure (not just the byte histogram) is what's hashed
    assert(ham(1, 4) > 10, s"shuffled payload only ${ham(1, 4)} bits away")
  }

  test("q113 upsert merge across batches: supersede updated keys, keep the rest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val target = java.nio.file.Files
      .createTempDirectory("graft_upsert_spec").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_upsert_ckpt_spec").toFile.getAbsolutePath
    val in = MemoryStream[(Long, Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
      spark.sqlContext) // (user_id, vc, us)
    val agg = in.toDS().toDF("user_id", "vc", "us")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sum_vc"),
        max(col("us")).as("last_us"))
    val q = agg.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch(Streaming.mergeIntoKeyed(target) _)
      .start()
    in.addData((1L, 10L, 100L), (2L, 5L, 50L)); q.processAllAvailable()
    in.addData((1L, 3L, 200L)); q.processAllAvailable()
    q.stop()
    // two generations: batch 1 changed only user 1, whose row must be
    // the CUMULATIVE aggregate; user 2's batch-0 row must survive
    assert(Streaming.latestGen(target) === Some(1L))
    val rows = spark.read.parquet(s"$target/g1")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows === Set((1L, 2L, 13L, 200L), (2L, 1L, 5L, 50L)))
  }

  test("q105 cohort retention on a crafted grid of known retention") {
    import spark.implicits._
    val weekUs = 604800000000L
    // u1 active weeks 0,1,2; u2 weeks 0,2; u3 week 1 only
    val ev = Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (2L, 2L), (3L, 1L))
      .map { case (u, w) => (u, w * weekUs + u * 1000L) }
      .toDF("user_id", "us")
    val got = Events.cohortRetentionOf(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (0L, 0L, 2L, 2L, 1000L), // both cohort-0 users active in week 0
      (0L, 1L, 1L, 2L, 500L), // only u1 returns in week 1
      (0L, 2L, 2L, 2L, 1000L), // both return in week 2
      (1L, 0L, 1L, 1L, 1000L))) // u3 is its own week-1 cohort
  }

  test("q104 stream-static join holds NO join state (only the aggregate)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[(Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long)],
      spark.sqlContext) // (user_id, vc)
    val dim = Seq((1L, "SEG_A"), (2L, "SEG_B"), (3L, "SEG_A"))
      .toDF("c_custkey", "c_mktsegment")
    val q = Streaming.staticEnrichOf(
      in.toDS().toDF("user_id", "vc"), dim)
      .writeStream.format("memory").queryName("q104_spec")
      .outputMode("complete").start()
    in.addData((1L, 100L), (2L, 250L), (3L, 50L), (1L, 100L))
    q.processAllAvailable()
    val rows = spark.table("q104_spec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).toSet
    val stateOps = q.lastProgress.stateOperators
    q.stop()
    assert(rows === Set(("SEG_A", 3L, 2, 2.5), ("SEG_B", 1L, 1, 2.5)))
    // the static side must never enter a state store: a stateful join
    // would surface as a second state operator
    assert(stateOps.length === 1, stateOps.map(_.operatorName).mkString(","))
    assert(stateOps.head.operatorName.contains("Aggregate") ||
      stateOps.head.operatorName.contains("stateStoreSave"),
      stateOps.head.operatorName)
  }

  test("q107 append-mode windows finalize at window_end == watermark (pins <=)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    val b = 1700006400000000L // a day boundary (19675 * 86400 s)
    assert(b % dayUs === 0L)
    val in = MemoryStream[(String, Long, Long)](
      org.apache.spark.sql.Encoders.product[(String, Long, Long)],
      spark.sqlContext) // (event_type, us, vc)
    val q = Streaming.windowFinalOf(
      in.toDS().toDF("event_type", "us", "vc"))
      .writeStream.format("memory").queryName("q107_spec")
      .outputMode("append").start()
    // old: window [b-2d, b-d), end strictly below the final watermark;
    // probe: window [b-d, b), end EXACTLY the watermark b_ms;
    // driver: event at b + 1 h pushes max event time so wm = b_ms
    in.addData(("old", b - dayUs - hourUs, 100L),
      ("probe", b - hourUs, 200L),
      ("driver", b + hourUs, 300L))
    q.processAllAvailable()
    val rows = spark.table("q107_spec")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    q.stop()
    // `<=` finalization: the probe window EMITS; the driver's own
    // window stays open. An engine shift to strict `<` would drop the
    // probe row here and flip the oracle loudly.
    assert(rows === Set(
      ((b - 2 * dayUs) / dayUs, "old", 1L, 1.0),
      ((b - dayUs) / dayUs, "probe", 1L, 2.0)))
  }

  test("q45 recall floors: every ANN method clears its minimum") {
    // The driver's oracle hash pins q45's EXACT recall values — but a
    // testdata regen re-baselines that hash silently, so a recall
    // collapse could hide inside a "new corpus, new hash" round. These
    // floors are corpus-independent guardrails: set ~15% under the
    // observed sf0.001 values (ivf 916, lsh 750, pq 666, ivfpq 875,
    // matryoshka 916 milli), they survive regen wiggle but fail
    // loudly under a real degradation (e.g. a probe-count or band
    // sabotage halves ivf/lsh recall).
    val got = graft.operators.SimSearch.annRecall(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val floors = Map("ivf" -> 800L, "lsh" -> 600L, "pq" -> 550L,
      "ivfpq" -> 750L, "matryoshka" -> 800L, "ivf_adaptive" -> 800L)
    assert(got.keySet === floors.keySet, got.keySet)
    floors.foreach { case (m, f) =>
      assert(got(m) >= f, s"$m recall ${got(m)} milli < floor $f")
    }
    // widening can only ADD candidate cells past the static base, so
    // the adaptive leg's recall must never fall below static ivf's
    assert(got("ivf_adaptive") >= got("ivf"),
      s"adaptive ${got("ivf_adaptive")} < static ivf ${got("ivf")}")
  }

  test("q231 pack ablation: local replay; straddles fall and padding grows with length") {
    val shardDocs = graft.operators.TextAnalysis.ShardDocs
    val rows = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").count(_.nonEmpty).toLong))
    // per (lang, shard) streams in doc_id order with running offsets
    val streams = rows.groupBy(t => (t._2, t._1 / shardDocs)).values.map { ds =>
      val nts = ds.sortBy(_._1).map(_._3).toSeq
      (nts, nts.scanLeft(0L)(_ + _).init)
    }.toSeq
    val expected = graft.operators.Releases.PackLens.map { l =>
      var nseqs = 0L; var toks = 0L; var straddles = 0L
      streams.foreach { case (nts, offs) =>
        val t = nts.sum
        toks += t
        nseqs += (t + l - 1) / l
        nts.zip(offs).foreach { case (nt, st) =>
          if (nt > 0) straddles += (st + nt - 1) / l - st / l
        }
      }
      val pad = nseqs * l - toks
      (l, nseqs, pad, 1000 * pad / (nseqs * l), straddles)
    }
    val got = graft.operators.Releases.packAblation(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got === expected.sortBy(_._1))
    // nested powers of two: every longer length's boundaries are a
    // subset of every shorter one's, so straddles can only fall while
    // tail padding can only grow — the trade the table exists to price
    got.sliding(2).foreach { w =>
      assert(w(1)._5 <= w(0)._5, s"straddles rose ${w(0)._1}->${w(1)._1}")
      assert(w(1)._3 >= w(0)._3, s"padding fell ${w(0)._1}->${w(1)._1}")
    }
    // both effects non-vacuous at this SF, or the table prices nothing
    assert(got.head._5 > got.last._5 && got.last._3 > got.head._3)
  }

  test("q235 release decontam: shipped bytes are slate-free; the detector fires on contamination") {
    import graft.operators.{Quality, Releases}
    val r = Releases.releaseDecontam(spark, sf0001).head()
    val (nEval, nTrain, nLeaked) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val slate = Quality.evalSlate(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val packable = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .filter(_.getString(1).split(" ").exists(_.nonEmpty))
      .map(_.getLong(0)).toSet
    assert(nEval === slate.size.toLong)
    assert(nTrain === (packable -- slate).size.toLong,
      "shipped membership diverged from corpus-minus-slate")
    assert(nLeaked === 0L)
    // non-vacuity: pack WITHOUT the exclusion and the same
    // from-the-bytes intersection fires on every packable slate doc
    val dirty = java.nio.file.Files.createTempDirectory("graft_reldirty")
      .toFile.getAbsolutePath
    Releases.writePackRel(Releases.packRelKeyed(Releases.packRelSeqs(
      Releases.packRelDocs(spark, sf0001, 4))), dirty, 4)
    val dirtyMembers = Releases.packRelParse(spark, dirty)
      .select(explode(split(col("members"), ",")).as("m"))
      .select(regexp_extract(col("m"), ":d(\\d{10})\\+", 1)
        .cast("long").as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert((dirtyMembers & slate) === (packable & slate),
      "detector failed to fire on a contaminated release")
    assert((packable & slate).nonEmpty,
      "slate has no packable member at this SF — the test proves nothing")
  }

  test("q234 epoch shuffle: per-worker bijection, full coverage, decorrelated epochs") {
    import graft.operators.Releases
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val ids = Tables.documents(spark, sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    // local replay: salt, hash, deal, position
    val expected = (0 until Releases.ShufEpochs).flatMap { e =>
      ids.map(d => (e, d, h60(s"epshuf:$e:$d")))
        .groupBy(t => t._3 % Releases.ShufWorkers).toSeq
        .flatMap { case (w, rows) =>
          rows.sortBy(t => (t._3, t._2)).zipWithIndex.map {
            case ((e, d, _), i) => (e, w.toInt, d, i + 1)
          }
        }
    }.toSet
    val got = Releases.epochShuffle(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(got.toSet === expected)
    // every epoch covers every document exactly once (deal + positions
    // form a bijection: contiguous 1..count per worker)
    got.groupBy(_._1).foreach { case (e, rows) =>
      assert(rows.map(_._3).sorted.toSeq === ids.sorted, s"epoch $e")
      rows.groupBy(_._2).foreach { case (w, ws) =>
        assert(ws.map(_._4).sorted.toSeq === (1 to ws.length),
          s"epoch $e worker $w positions not contiguous")
      }
    }
    // decorrelation: consecutive epochs must not replay the same
    // global order (the whole point of reshuffling per epoch)
    def order(e: Int) = got.filter(_._1 == e)
      .sortBy(t => (t._2, t._4)).map(_._3).toSeq
    assert(order(0) != order(1) && order(1) != order(2),
      "epochs replayed an identical order")
  }

  test("q141 runs TWO stateful window aggregates in one query, both bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    val b = 1700006400000000L // a day boundary
    val in = MemoryStream[(String, Long, Long)](
      org.apache.spark.sql.Encoders.product[(String, Long, Long)],
      spark.sqlContext) // (event_type, us, vc)
    val q = Streaming.chainedAggOf(
      in.toDS().toDF("event_type", "us", "vc"))
      .writeStream.format("memory").queryName("q141_spec")
      .outputMode("append").start()
    // day 0: one event in each of hours 0..23; day 1: one event in
    // hour 0; driver at day 3 pushes the watermark past both day ends
    val day0 = (0 until 24).map(h => ("A", b + h * hourUs + 1L, 100L))
    in.addData(day0 ++ Seq(("A", b + dayUs + 1L, 200L),
      ("A", b + 3 * dayUs, 0L)): _*)
    q.processAllAvailable()
    val rows = spark.table("q141_spec")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val stateOps = q.lastProgress.stateOperators
    q.stop()
    // the daily roll-up is built FROM the finalized hourly windows:
    // day 0 aggregates its 24 distinct hours, day 1 its single hour;
    // the driver's own day stays open
    assert(rows === Set(
      (b / dayUs, "A", 24L, 24L, 24.0),
      (b / dayUs + 1, "A", 1L, 1L, 2.0)))
    // TWO stateful operators in ONE query — the chained-stateful
    // capability every other streaming query here uses singly
    assert(stateOps.length === 2,
      stateOps.map(_.operatorName).mkString(","))
    // and both hold only the watermark-open windows, not history:
    // the driver's hour + day are all that can remain
    stateOps.foreach { op =>
      assert(op.numRowsTotal <= 4,
        s"${op.operatorName} holds ${op.numRowsTotal} rows")
    }
  }

  test("q162 join+window chain: TWO stateful ops, finalized hours only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourUs = 3600000000L
    val b = 1700006400000000L // an hour boundary
    // (user_id, view_id, view_us) / (p_user, purchase_id, purchase_us)
    val vs = MemoryStream[(Long, Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
      spark.sqlContext)
    val ps = MemoryStream[(Long, Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
      spark.sqlContext)
    def viewsDf = vs.toDS().toDF("user_id", "view_id", "view_us")
      .withColumn("view_time", timestamp_micros(col("view_us")))
    def purchDf = ps.toDS().toDF("p_user", "purchase_id", "purchase_us")
      .withColumn("purchase_time", timestamp_micros(col("purchase_us")))
    val q = Streaming.joinWindowOf(viewsDf, purchDf)
      .writeStream.format("memory").queryName("q162_spec")
      .outputMode("append").start()
    // hour 0: view at +1, purchase at +10 (one conversion, gap 9µs);
    // driver rows 5 hours later push the watermark past hour 0's end
    vs.addData((7L, 1L, b + 1L), (7L, 2L, b + 5 * hourUs))
    ps.addData((7L, 10L, b + 10L), (7L, 11L, b + 5 * hourUs))
    q.processAllAvailable()
    val rows = spark.table("q162_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stateOps = q.lastProgress.stateOperators
    q.stop()
    // hour 0 finalized with its single conversion; the driver hour
    // (which also self-joins) is still open and must NOT emit
    assert(rows === Set((b / hourUs, 1L, 9L)), rows.toString)
    assert(stateOps.length === 2, // symmetric join + window agg
      stateOps.map(_.operatorName).mkString(","))
  }

  test("q163 sketch fold: batch-split invariant and replay-idempotent") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("user_id"))
    def estimates(target: String): Map[String, Long] =
      spark.read.parquet(s"$target/g${
          graft.operators.Streaming.latestGen(target).get}")
        .select(col("event_type"), expr("hll_sketch_estimate(sk)"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // one-shot ledger vs a 3-way split fold — identical registers
    val t1 = java.nio.file.Files.createTempDirectory("q163a").toString
    graft.operators.Streaming.mergeSketchInto(t1)(ev, 0L)
    val t2 = java.nio.file.Files.createTempDirectory("q163b").toString
    (0 to 2).foreach(i => graft.operators.Streaming.mergeSketchInto(t2)(
      ev.filter(col("user_id") % 3 === i), i.toLong))
    assert(estimates(t1) === estimates(t2),
      "split fold diverged from one-shot sketch")
    // replaying the last batch (crash recovery) must change nothing
    graft.operators.Streaming.mergeSketchInto(t2)(
      ev.filter(col("user_id") % 3 === 2), 2L)
    assert(estimates(t1) === estimates(t2), "replay broke exactly-once")
  }

  test("q165 keeper is a member and no member beats it") {
    val labs = graft.operators.DedupClusters.dupClusters(spark, sf0001)
      .select(col("doc_id"), col("cluster_id"))
    val scores = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.functions.Portable.words(col("text"))
        .as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        expr("CAST((1000 * size(array_distinct(ws))) DIV size(ws) AS BIGINT)")
          .as("sc"))
    val members = labs.join(scores, "doc_id")
    val elect = graft.operators.DedupClusters.clusterElect(spark, sf0001)
    // keeper is a real member with its claimed score
    assert(elect.join(members,
      elect("keeper_doc_id") === members("doc_id") &&
        elect("cluster_id") === members("cluster_id") &&
        elect("keeper_score_milli") === members("sc"), "left_anti")
      .count() === 0L)
    // and no member strictly beats it under (score DESC, doc_id ASC)
    val beaten = elect.join(members, "cluster_id")
      .filter(col("sc") > col("keeper_score_milli") ||
        (col("sc") === col("keeper_score_milli") &&
          col("doc_id") < col("keeper_doc_id")))
    assert(beaten.count() === 0L, "a cluster member outranks its keeper")
  }

  test("q164 drift rates are per-slice consistent and bounded") {
    val rows = graft.operators.TextAnalysis.vocabDrift(spark, sf0001)
      .collect()
    assert(rows.length === 30)
    rows.foreach { r =>
      val (na, nb, ra, rb, delta, shifted) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getInt(6))
      assert(ra <= 1000000L && rb <= 1000000L)
      assert(delta === math.abs(ra - rb))
      assert((shifted === 1) === (delta >= 2000L))
      assert(na + nb > 0L)
    }
  }

  test("q166 chunk windows cover every token and overlap by stride") {
    val lens = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(graft.functions.Portable.words(col("text"))).as("n"))
      .filter(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = graft.operators.TextAnalysis.ragChunks(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).groupBy(_._1)
    assert(chunks.keySet === lens.keySet)
    chunks.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 === 0L, s"doc $doc first chunk not at 0")
      sorted.zipWithIndex.foreach { case ((_, idx, start, n), i) =>
        assert(idx === i.toLong && start === 48L * i)
        assert(n > 0L && n <= 64L)
      }
      val last = sorted.last
      assert(last._3 + last._4 === lens(doc).toLong,
        s"doc $doc tail chunk stops short of the last token")
    }
  }

  test("q167 negatives: k per anchor, cross-label, no repeats") {
    val labels = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = graft.operators.VectorOps.negSample(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3)))
    rows.groupBy(_._1).foreach { case (anchor, ns) =>
      assert(ns.length === 5 && ns.map(_._2).sorted.toSeq === (1 to 5))
      assert(ns.map(_._3).distinct.length === 5, s"anchor $anchor repeats")
      ns.foreach { case (_, _, neg, negLabel) =>
        assert(labels(neg) === negLabel && negLabel != labels(anchor),
          s"anchor $anchor drew a same-label negative $neg")
      }
    }
  }

  test("q168 agreement classes conserve the q15/q18 pair sets") {
    val t = graft.operators.Dedup.dedupMinhash(spark, sf0001).count()
    val g = graft.operators.Dedup.dedupEmbed(spark, sf0001).count()
    val byClass = graft.operators.DedupClusters.modalAgreement(spark, sf0001)
      .groupBy(col("agreement")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    assert(byClass("both") + byClass("text_only") === t)
    assert(byClass("both") + byClass("embed_only") === g)
    assert(byClass.keySet.subsetOf(Set("both", "text_only", "embed_only")))
  }

  test("q169 nested export conserves items and the canon string is complete") {
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val got = graft.operators.Relational.nestedExport(spark, sf0001).cache()
    try {
      assert(got.count() ===
        li.select(col("l_orderkey")).distinct().count())
      val sums = got.agg(sum(col("n_items"))).collect()(0).getLong(0)
      assert(sums === li.count(), "an item went missing from the nest")
      // the canonical string carries exactly n_items entries
      assert(got.filter(size(split(col("items_str"), "\\|")) =!=
        col("n_items")).count() === 0L)
    } finally { got.unpersist(); () }
  }

  test("q170 epochs are complete, positions contiguous, permutations fresh") {
    val rows = graft.operators.Curation.epochShards(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    (0 to 1).foreach { e =>
      val ep = rows.filter(_._1 == e)
      assert(ep.length.toLong === nDocs, s"epoch $e lost docs")
      assert(ep.map(_._2).distinct.length.toLong === nDocs)
      ep.groupBy(_._3).foreach { case (sh, ss) =>
        assert(ss.map(_._4).sorted.toSeq === (1L to ss.length).toSeq,
          s"epoch $e shard $sh positions not contiguous")
      }
    }
    // decorrelation: epoch 1 must re-deal shards (same-shard rate near
    // 1/8, loosely pinned — a shared salt would give 1.0)
    val byDoc = rows.groupBy(_._2).view.mapValues(v =>
      v.sortBy(_._1).map(_._3))
    val same = byDoc.count { case (_, s) => s.head == s.last }
    assert(same.toDouble / nDocs < 0.3,
      s"epoch permutations correlated: $same/$nDocs same-shard")
  }

  test("q118 SCD2 intervals tile per customer and never repeat a status") {
    import org.apache.spark.sql.expressions.Window
    val iv = Relational.scd2Intervals(spark, sf0001).cache()
    try {
      // adjacent runs always change status (runs are maximal)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("run_id"))
      val repeats = iv
        .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
        .filter(col("prev_status") === col("o_orderstatus")).count()
      assert(repeats === 0L)
      // intervals tile: every valid_to equals the next run's valid_from,
      // and exactly one open (NULL valid_to) interval per customer
      val broken = iv
        .withColumn("next_from", lead(col("valid_from_us"), 1).over(w))
        .filter(coalesce(col("valid_to_us"), lit(-1L)) =!=
          coalesce(col("next_from"), lit(-1L))).count()
      assert(broken === 0L)
      val openPerCust = iv.filter(col("valid_to_us").isNull)
        .groupBy(col("o_custkey")).count()
        .filter(col("count") =!= 1).count()
      assert(openPerCust === 0L)
      // conservation: run row counts sum to the order count
      assert(iv.agg(sum(col("n_orders"))).collect()(0).getLong(0) ===
        Tables.orders(spark, sf0001).count())
    } finally { iv.unpersist(); () }
  }

  test("q121 split assignment: byte-identical duplicate texts share a split") {
    val s = graft.operators.Curation.splitAssign(spark, sf0001)
      .join(Tables.documents(spark, sf0001).select(col("doc_id"), col("text")),
        "doc_id")
    val crossSplit = s.groupBy(col("text"))
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(crossSplit === 0L)
    // all three splits are populated at sf0.001 (800/100/100 permille)
    assert(s.select(col("split")).distinct().count() === 3L)
  }

  test("q122 weighted sample: k per stratum, priorities ranked, weight-monotone hashes") {
    val got = graft.operators.Curation.weightedSample(spark, sf0001).cache()
    try {
      // exactly k winners per language (corpus has >= k docs per lang)
      assert(got.groupBy(col("lang")).count()
        .filter(col("count") =!= 20).count() === 0L)
      // rn order agrees with (priority, doc_id) order
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("priority").asc, col("doc_id").asc)
      assert(got.withColumn("rn2", row_number().over(w))
        .filter(col("rn") =!= col("rn2")).count() === 0L)
    } finally { got.unpersist(); () }
  }

  test("q124 BPE encode: merges only shrink, and bounds hold") {
    val t = graft.operators.TextAnalysis.bpeEncode(spark, sf0001)
    // every merge reduces token count by >= 0; the char tokenization is
    // the upper bound, one token per word the lower bound
    assert(t.filter(col("n_bpe_tokens") > col("n_char_tokens")).count() === 0L)
    assert(t.filter(col("n_bpe_tokens") < col("n_words")).count() === 0L)
  }

  test("q126 interval coverage conservation bounds") {
    val cov = graft.operators.Events.intervalCoverage(spark, sf0001)
    // covered time can never exceed the sum of the user's durations,
    // and islands can never outnumber events
    assert(cov.filter(col("n_islands") > col("n_events")).count() === 0L)
    val durs = Tables.events(spark, sf0001)
      .select(col("user_id"),
        ((pmod(round(col("value") * 100, 0).cast("long"), lit(3600L)) + 600L)
          * 1000000L).as("dur"))
      .groupBy(col("user_id")).agg(sum(col("dur")).as("sum_dur"))
    assert(cov.join(durs, "user_id")
      .filter(col("covered_us") > col("sum_dur")).count() === 0L)
  }

  test("q127 blocking loses no pair the brute-force fuzzy join finds") {
    val got = graft.operators.Dedup.fuzzyJoin(spark, sf0001)
      .select(col("name_a"), col("name_b"))
    val names = Tables.part(spark, sf0001)
      .select(col("p_name").as("name")).distinct()
    val brute = names.as("a").join(names.withColumnRenamed("name", "nb").as("b"),
        col("name") < col("nb") &&
          levenshtein(col("name"), col("nb")) <= 2)
      .select(col("name").as("name_a"), col("nb").as("name_b"))
    assert(got.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(got).count() === 0L,
      "q-gram blocking dropped a true pair on this corpus")
  }

  test("q129 drift monitor: warm-up NULLs exactly cover the baseline horizon") {
    val d = graft.operators.Events.driftDetect(spark, sf0001).cache()
    try {
      // the corpus is 30 contiguous days per type: the first 12 days
      // (short-1 + long) have no full baseline and must be NULL, the
      // remaining 18 must carry a real 0/1 verdict
      val counts = d.groupBy(col("event_type"))
        .agg(sum(when(col("shift_up").isNull, 1).otherwise(0)).as("warm"),
          sum(when(col("shift_up").isNotNull, 1).otherwise(0)).as("live"))
      assert(counts.filter(col("warm") =!= 12 || col("live") =!= 18)
        .count() === 0L)
    } finally { d.unpersist(); () }
  }

  test("q129 post-outage resumption alarms (empty baseline counts as rate 0)") {
    import spark.implicits._
    // steady intake days 0-17, a 12-day outage, resumption day 30:
    // day 30 is past warm-up, its ENTIRE baseline window [18, 27] is
    // empty, and the verdict must be 1 (not NULL, which reads warm-up)
    val daily = ((0L to 17L) :+ 30L).map(d => ("a", d, 10L))
      .toDF("event_type", "day", "n")
    val got = graft.operators.Events.driftOf(daily)
      .filter(col("day") === 30).collect()
    assert(got.length === 1)
    val r = got(0)
    assert(r.getLong(r.fieldIndex("sum_long")) === 0L)
    assert(!r.isNullAt(r.fieldIndex("shift_up")) &&
      r.getInt(r.fieldIndex("shift_up")) === 1,
      "resumption after outage must raise shift_up = 1")
  }

  test("q127 repeated-gram names survive (no unsound count prune)") {
    import spark.implicits._
    // 'aaaaaaaaaaaa' vs 'aaaaaaaaaaab': ed = 1, but only ONE distinct
    // shared trigram — the multiset count filter this operator
    // deliberately omits would have pruned the pair
    val got = graft.operators.Dedup.fuzzyJoinOf(
      Seq("aaaaaaaaaaaa", "aaaaaaaaaaab").toDF("name")).collect()
    assert(got.length === 1 && got(0).getInt(3) === 1,
      s"expected the ed-1 pair to survive, got ${got.mkString(";")}")
  }

  test("q150 oriented wedges count K4's triangles once each; stars none") {
    import spark.implicits._
    // K4 on {1,2,3,4}: 4 triangles, every node in exactly 3 of them;
    // star 10-(11,12,13): zero triangles (its wedges never close), and
    // its nodes must be ABSENT, not zero-rows
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L), (10L, 12L), (10L, 13L)).toDF("u", "v")
    val got = graft.operators.Relational.trianglesOf(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L),
      (4L, 3L, 3L)))
  }

  test("q154 gc_grace: recent markers retained, old purged, no resurrection") {
    import spark.implicits._
    val d = 86400000000L // µs/day; grace = 15 days, max wt = day 100
    // (key, name): live then RECENT delete -> marker kept, data gone;
    // live then OLD delete -> fully purged; OLD delete then newer live
    // -> live wins; untouched live -> passes through
    val u = Seq(
      ("k1", "a", "v", 1 * d, "live", false, 0),
      ("k1", "a", "", 100 * d, "deleted", false, 1),
      ("k1", "b", "v", 2 * d, "live", false, 0),
      ("k1", "b", "", 10 * d, "deleted", false, 1),
      ("k1", "c", "", 3 * d, "deleted", false, 0),
      ("k1", "c", "vc", 90 * d, "live", false, 1),
      ("k2", "d", "vd", 4 * d, "live", false, 0)
    ).toDF("key", "name", "value", "write_time", "kind",
      "partition_deleted", "gen")
    val got = graft.operators.Compaction.gcGraceOf(u).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(("k1", "a", "deleted"), ("k1", "c", "live"),
      ("k2", "d", "live")))
  }

  test("q153 planner is manifest-only: zero data listings, zero sidecars") {
    graft.operators.Compaction.tieredFixture(spark, sf0001) // build untimed
    graft.sources.MetaIO.reset()
    val plan = graft.operators.Compaction.sizeTiered(spark, sf0001).collect()
    assert(plan.nonEmpty)
    assert(graft.sources.MetaIO.dataListings.get() === 0L,
      s"${graft.sources.MetaIO.dataListings.get()} data listings while planning")
    assert(graft.sources.MetaIO.sidecarReads.get() === 0L,
      s"${graft.sources.MetaIO.sidecarReads.get()} sidecar reads while planning")
    assert(graft.sources.MetaIO.manifestReads.get() > 0L)
  }

  test("q155 ranges partition the token ring and cover every cell") {
    val rows = graft.operators.Core.tokenRanges(spark, sf0001).collect()
    val span = 1L << 55
    rows.foreach { r =>
      val (id, lo, hi) = (r.getLong(0), r.getLong(3), r.getLong(4))
      assert(lo >= id * span && hi < (id + 1) * span,
        s"range $id bounds [$lo,$hi] escape its span")
    }
    val cells = graft.operators.CellModel.cellStrings(spark, sf0001).count()
    assert(rows.map(r => r.getLong(2)).sum === cells,
      "ranges must cover every cell exactly once")
  }

  test("q161 SRP estimate tracks exact cosine (bounded mean error)") {
    val rows = graft.operators.VectorOps.srpSignatures(spark, sf0001)
      .filter(col("cosine").isNotNull)
      .select(col("est_milli"), (col("cosine") * 1000).as("cm")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getLong(0) >= -1000L && r.getLong(0) <= 1000L))
    // estimator-quality floor (q45's recall-floor discipline): the
    // linear 1-2h/B form is biased at mid angles, but on this corpus
    // the mean |est - exact| staying under 250 milli is what makes the
    // 32-byte signature usable as a dedup pre-filter; a corpus regen
    // or a broken projection that degrades it must fail loudly.
    val mae = rows.map(r => math.abs(r.getLong(0) - r.getDouble(1)))
      .sum / rows.length
    assert(mae <= 250.0, f"SRP mean abs error $mae%.1f milli")
  }

  test("q161 packed SRP masks decode to the md5-parity matrix") {
    val masks = graft.operators.VectorOps.srpMasks
    assert(masks.length === 256)
    // every (row, dim): the in-plan unpack 2·bit(m,i)−1 must equal the
    // md5-parity sign the oracle recomputes — the exactness of the
    // whole signature pipeline rides on this bit↔parity agreement
    for (b <- masks.indices; i <- 0 until 64) {
      val fromMask = ((masks(b) >>> i) & 1L) * 2L - 1L
      assert(fromMask === graft.operators.VectorOps.srpSignAt(b, i + 1),
        s"projection row $b dim ${i + 1}")
    }
  }

  test("q240 SRP-locality pack order beats the hash baseline on adjacent coherence") {
    val rows = graft.operators.VectorOps.icpOrder(spark, sf0001)
      .select(col("ordering"), col("n_pairs"), col("sum_cos_milli"))
      .collect()
    def mean(name: String): Double = {
      val rs = rows.filter(_.getString(0) == name)
      assert(rs.nonEmpty, name)
      rs.map(_.getLong(2)).sum.toDouble / rs.map(_.getLong(1)).sum
    }
    // the whole point of the ICP reorder: adjacent documents under the
    // locality sort are measurably more related than under the salted
    // hash the packer uses today. A projection/key regression that
    // erases the gain must fail loudly, not ship a no-op reorder.
    assert(mean("icp") > mean("hash"),
      f"icp ${mean("icp")}%.1f !> hash ${mean("hash")}%.1f milli")
    // both orderings pair the same corpus: identical pair counts per shard
    val byOrd = rows.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sum).toMap
    assert(byOrd("icp") === byOrd("hash"))
  }

  test("q245 ICP release reorders within streams but conserves the packed mass") {
    import graft.operators.Releases
    def perStream(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("stream"))
        .agg(sum(col("n_tokens")).as("toks"), count(lit(1)).as("seqs"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val std = Releases.packedRelease(spark, sf0001)
    val icp = Releases.icpRelease(spark, sf0001)
    // stream ASSIGNMENT is unchanged (salted hash), so each stream's
    // token mass — and therefore its sequence count — must be
    // identical; only the within-stream order moved
    assert(perStream(std) === perStream(icp))
    // and the order DID move: at least one sequence's membership
    // string differs (same (stream, seq) key, different constituents)
    val stdM = std.select(col("stream"), col("seq_id"), col("members"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getString(2)).toMap
    val moved = icp.select(col("stream"), col("seq_id"), col("members"))
      .collect().exists(r =>
        stdM.get((r.getInt(0), r.getLong(1))).exists(_ != r.getString(2)))
    assert(moved, "ICP order must actually change the packing")
    // and the SHIPPED bytes carry the coherence the reorder promised:
    // within-sequence adjacent cosine beats the hash packing (q246)
    val coh = Releases.shippedCoherence(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2).toDouble / r.getLong(1))).toMap
    assert(coh("icp") > coh("hash"),
      f"shipped icp ${coh("icp")}%.1f !> hash ${coh("hash")}%.1f milli")
  }

  test("q160 golden records conserve rows and names; clusters do merge") {
    val parts = graft.sources.Tables.part(spark, sf0001)
      .filter(length(col("p_name")) >= 3)
    val got = graft.operators.DedupClusters.goldenRecord(spark, sf0001).cache()
    try {
      // conservation: every record and every distinct name lands in
      // exactly one golden row
      val sums = got.agg(sum(col("n_records")), sum(col("n_names")))
        .collect()(0)
      assert(sums.getLong(0) === parts.count())
      assert(sums.getLong(1) ===
        parts.select(col("p_name")).distinct().count())
      // the fuzzy pairs at this SF are non-empty, so something merged
      assert(got.filter(col("n_names") > 1).count() > 0L)
      // canonical names are real names
      assert(got.join(parts.select(col("p_name").as("canonical")).distinct(),
        Seq("canonical"), "left_anti").count() === 0L)
    } finally { got.unpersist(); () }
  }

  test("q158 identity replicas agree everywhere; divergence is detected") {
    val a = graft.operators.CellModel.cellStrings(spark, sf0001)
    // self-comparison: every range digest-matches with equal counts
    val self = graft.operators.Core.rangeRepairOf(a, a).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getInt(3) === 0 && r.getLong(1) === r.getLong(2),
        s"range ${r.getLong(0)} self-compare diverged")
    }
    // the simulated lost/stale divergence must flag at least one range
    // and never invent rows (n_b <= n_a everywhere: B is a degradation)
    val real = graft.operators.Core.rangeRepair(spark, sf0001).collect()
    assert(real.exists(_.getInt(3) === 1), "no divergence detected")
    real.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("q159 coreset: k per label, ranks contiguous, d2 monotone in rank") {
    val rows = graft.operators.VectorOps.labelCoreset(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (label, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1 to byRank.length).toSeq,
        s"label $label ranks not contiguous")
      assert(byRank.length <= 10)
      byRank.sliding(2).foreach {
        case Array(x, y) => assert(x._3 <= y._3,
          s"label $label d2 not monotone at rank ${y._2}")
        case _ =>
      }
    }
  }

  test("q179 head coverage matches a brute frequency-sort replay") {
    val freq = graft.sources.Tables.documents(spark, sf0001)
      .select(col("text")).collect()
      .flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
    val ranked = freq.toSeq.sortBy { case (w, n) => (-n, w) }
    val total = freq.values.sum
    val expected = Seq(5, 20, 10000).map { k =>
      val covered = ranked.take(k).map(_._2).sum
      (k.toLong, freq.size.toLong, total, covered, 1000L * covered / total)
    }.toSet
    val got = graft.operators.TextAnalysis.headCoverage(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === expected)
    // the curve is a genuine curve at this SF, not saturated
    assert(got.map(_._5).size > 1, "all budgets saturated — raise cuts")
  }

  test("q180 quota sample: per-cell caps, contiguous ranks, hash-min members") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // q68 computes the IDENTICAL assignment (same fixture, same
    // argmin tie-break) and is itself brute-checked above — reuse it
    // as the cell ground truth, then replay the per-cell bottom-k
    // election by independent md5 priorities
    val cells = graft.operators.SimSearch.semanticDedup(spark, sf0001)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val expected = cells.groupBy(_._2).toSeq.flatMap { case (cell, ms) =>
      ms.toSeq.map { case (v, _) => (h60(s"quota:$v"), v) }
        .sortBy(identity).take(24).zipWithIndex
        .map { case ((pri, v), i) => (cell, i + 1, v, pri) }
    }.toSet
    val got = graft.operators.SimSearch.cellQuotaSample(spark, sf0001)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
    got.groupBy(_._1).foreach { case (cell, rs) =>
      assert(rs.size <= 24, s"cell $cell over quota")
      assert(rs.map(_._2).toSeq.sorted === (1 to rs.size).toSeq,
        s"cell $cell ranks not contiguous")
    }
  }

  test("q173 int8 round-trip errors match an exact reimplementation") {
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong))
      .toMap
    val dims = vecs.head._2.length
    val cal = (0 until dims).map { i =>
      val col = vecs.values.map(_(i))
      val mn = col.min
      (mn, math.max(col.max - mn, 1L))
    }
    val expect = vecs.map { case (id, qv) =>
      val errs = qv.zipWithIndex.map { case (v, i) =>
        val (mn, span) = cal(i)
        val q8 = (v - mn) * 255 / span
        math.abs(v - (mn + q8 * span / 255))
      }
      id -> ((errs.sum, errs.max))
    }
    val got = graft.operators.VectorOps.int8Quant(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (id, (s, m, n)) =>
      assert(n === dims)
      assert((s, m) === expect(id), s"vec $id")
      // the affine contract: per-dim error never exceeds one level
      assert(m <= cal.map(c => c._2 / 255 + 1).max)
    }
  }

  test("q156 L0 files overlap exactly their straddled L1 runs, manifest-only") {
    graft.operators.Compaction.leveledFixture(spark, sf0001) // build untimed
    graft.sources.MetaIO.reset()
    val rows = graft.operators.Compaction.leveledPlan(spark, sf0001).collect()
    // fixture geometry: L0 ['1','4') straddles L1 ['0','3')+['3','6');
    // L0 ['3','7') straddles ['3','6')+['6',':') — 2 each, never 3
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getLong(3) === 2L,
        s"L0 [${r.getString(0)},${r.getString(1)}] fan-in ${r.getLong(3)}")
      assert(r.getLong(4) > r.getLong(2), "rewrite must include L1 rows")
    }
    assert(graft.sources.MetaIO.dataListings.get() === 0L &&
      graft.sources.MetaIO.sidecarReads.get() === 0L,
      "LCS planning must touch only manifests")
  }

  test("q157 budget binds per source and the kept prefix is maximal") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"),
        graft.functions.Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"),
        size(col("ws")).cast("long").as("n_tokens"),
        expr("CAST((1000 * size(array_distinct(ws))) DIV size(ws) AS BIGINT)")
          .as("score_milli"))
    val kept = graft.operators.Curation.tokenBudgetFill(spark, sf0001)
    val keptAgg = kept.groupBy(col("source"))
      .agg(max(col("cum_tokens")).as("kept_tokens"),
        count(lit(1)).as("n_kept"))
    assert(keptAgg.filter(col("kept_tokens") > 300).count() === 0L)
    // greedy maximality: the best-ranked DROPPED doc would overflow
    val dropped = docs.join(kept.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    val nextUp = dropped
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("score_milli").desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("source"), col("n_tokens").as("next_tokens"))
    val bad = nextUp.join(keptAgg, Seq("source"), "left")
      .withColumn("kt", coalesce(col("kept_tokens"), lit(0L)))
      .filter(col("kt") + col("next_tokens") <= 300)
    assert(bad.count() === 0L, "a droppable doc still fit the budget")
  }

  test("q152 CMS never underestimates and overcounts stay collision-sized") {
    val rows = graft.operators.TextAnalysis.cmsHeavy(spark, sf0001).collect()
    assert(rows.length === 20)
    val total = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(graft.functions.Portable.words(col("text"))))
      .count()
    rows.foreach { r =>
      val (exact, est, geOk) = (r.getLong(1), r.getLong(2), r.getInt(3))
      assert(geOk === 1 && est >= exact)
      // expected overcount per row is total/2048 before the 4-way min;
      // 8x that is a loose deterministic pin on this fixed corpus
      assert(est - exact <= 8 * total / 2048,
        s"token ${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("q127 short names with ZERO shared grams still pair (band path)") {
    import spark.implicits._
    // 'abc' vs 'bcd': ed = 2 but no shared trigram at all — the q-gram
    // generator is structurally blind here (max len 3 < q*(k+1) = 9);
    // the length-band path must surface the pair with
    // n_shared_grams = 0. 'abcdefghij' is a gram-candidate against
    // 'abc' (shared gram 'abc') but ed = 7 fails verify — candidates
    // may over-generate, the output may not.
    val got = graft.operators.Dedup.fuzzyJoinOf(
      Seq("abc", "bcd", "abcdefghij").toDF("name")).collect()
    assert(got.length === 1, s"expected exactly 1 pair, got " +
      s"${got.mkString(";")}")
    assert(got(0).getString(0) === "abc" && got(0).getString(1) === "bcd")
    assert(got(0).getLong(2) === 0L && got(0).getInt(3) === 2)
  }

  test("q130 MapState accumulates across real micro-batches") {
    // spec-local fixture pinned to 3 files so maxFilesPerTrigger=1
    // genuinely yields multiple batches (AQE can coalesce the shared
    // fixture to one file at this scale)
    val fix = java.nio.file.Files.createTempDirectory("q130fix").toString
    Sink.writeNested(
      CellModel.nestRows(spark, sf0001).repartition(3), fix)
    val raw = Streaming.streamTopUsersRaw(spark, sf0001, Some(fix)).cache()
    try {
      // admission control actually split the fixture: > 1 emission
      val maxSeq = raw.agg(max(col("seq"))).collect()(0).getLong(0)
      assert(maxSeq >= 2L, s"expected multi-batch, got $maxSeq emission(s)")
      // cross-batch growth is monotone: a type's top-1 count never
      // shrinks from one emission to the next
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("seq"))
      val shrank = raw.filter(col("rnk") === 1)
        .withColumn("prev", lag(col("n_cells"), 1).over(w))
        .filter(col("prev").isNotNull && col("n_cells") < col("prev"))
        .count()
      assert(shrank === 0L)
      // final snapshot equals the batch live-cell top-3
      val fin = Streaming.streamTopUsers(spark, sf0001)
      val batch = Tables.events(spark, sf0001)
        .filter(!col("event_type").isInCollection(
          Seq("error", "signup", "view")) && col("user_id") % 50 =!= 0)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_cells"))
      val wr = Window.partitionBy(col("event_type"))
        .orderBy(col("n_cells").desc, col("user_id").asc)
      val expect = batch.withColumn("rnk", row_number().over(wr))
        .filter(col("rnk") <= 3)
        .select(col("event_type"), col("rnk"), col("user_id"), col("n_cells"))
      assert(fin.exceptAll(expect).count() === 0L &&
        expect.exceptAll(fin).count() === 0L)
    } finally { raw.unpersist(); () }
  }

  test("q131 ListState buffer stays bounded across real micro-batches") {
    // a nested Row is per-user ATOMIC, so splitting the standard
    // fixture by file can never put one user in two batches; write two
    // GENERATIONS (even/odd event ids, one file each) so most users'
    // cells genuinely span micro-batches
    val fix = java.nio.file.Files.createTempDirectory("q131fix").toString
    val ev = Tables.events(spark, sf0001)
    def gen(p: org.apache.spark.sql.Column) =
      CellModel.nestCells(CellModel.cellsOf(CellModel.cellStringsOf(
        ev.filter(p)))).repartition(1)
    Sink.writeNested(gen(col("event_id") % 2 === 0), fix)
    Sink.writeNested(gen(col("event_id") % 2 === 1), fix)
    val raw = Streaming.streamRecentBufferRaw(spark, sf0001, Some(fix)).cache()
    try {
      assert(raw.agg(max(col("seq"))).collect()(0).getLong(0) >= 2L,
        "expected multi-batch")
      // the buffer NEVER exceeds its bound, in any emission
      assert(raw.filter(col("n_recent") > 5).count() === 0L)
      // recency is monotone: a later emission's latest_us never regresses
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("seq"))
      assert(raw.withColumn("prev", lag(col("latest_us"), 1).over(w))
        .filter(col("prev").isNotNull && col("latest_us") < col("prev"))
        .count() === 0L)
    } finally { raw.unpersist(); () }
  }

  test("q133 gap fill: real gaps at sf0.001, filled by the last observation") {
    val g = graft.operators.Events.gapFill(spark, sf0001).cache()
    try {
      // the thin cohort leaves genuine holes at this sf (15 of 30 days)
      assert(g.filter(col("is_gap") === 1).count() > 0L)
      // the scaffold is dense: rows == full day span
      val mm = g.agg(min(col("day")), max(col("day")), count(lit(1)))
        .collect()(0)
      assert(mm.getLong(2) === mm.getLong(1) - mm.getLong(0) + 1)
      // every gap row carries a fill, equal to the previous non-gap value
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expectFill = g.withColumn("lastrev",
        last(col("revenue"), ignoreNulls = true).over(w))
      assert(expectFill.filter(col("filled_revenue") =!= col("lastrev"))
        .count() === 0L)
      assert(g.filter(col("is_gap") === 1 && col("filled_revenue").isNull)
        .count() === 0L)
    } finally { g.unpersist(); () }
  }

  test("transformWithState processing-time TTLConfig evicts dormant state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long, Long)](
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        spark.sqlContext)
      val q = in.toDS().groupByKey(_._1)
        .transformWithState(new TtlProbeProcessor(400L),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .writeStream.format("memory").queryName("ttl_spec")
        .outputMode("update").start()
      // ProcessingTime mode re-batches continuously (requiresAnotherBatch
      // stays true while TTL state may expire), so noNewData never
      // latches and processAllAvailable would block forever: poll the
      // sink for the expected row count instead.
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (spark.table("ttl_spec").count() < n) {
          assert(System.nanoTime() < deadline, s"timed out waiting for $n rows")
          Thread.sleep(100)
        }
      }
      in.addData((1L, 10L, 1L)); awaitRows(1)
      Thread.sleep(1500) // let wall time pass the 400 ms state TTL
      in.addData((1L, 5L, 2L)); awaitRows(2)
      val rows = spark.table("ttl_spec")
        .as[(Long, Long, Long, Long)].collect().toSet
      q.stop()
      // second emission accumulates from scratch: n_events=1, sum=5 —
      // (1, 2, 15, 2) here would mean the TTL never evicted
      assert(rows === Set((1L, 1L, 10L, 1L), (1L, 1L, 5L, 2L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q149 pagerank matches a driver-side integer replay") {
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.toSeq.flatMap { order =>
      for (a <- order.toSeq; b <- order.toSeq if a._2 != b._2)
        yield (a._2, b._2)
    }
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = deg.map { case (id, _) => id -> 1000000L }
    (1 to 3).foreach { _ =>
      val contrib = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          (r(src) * 850L) / (1000L * deg(src))
        }.sum
      }
      r = contrib.map { case (id, c) => id -> (150000L + c) }
    }
    val got = graft.operators.Relational.pagerank(spark, sf0001)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(got.keySet === r.keySet)
    r.foreach { case (id, rank) =>
      assert(got(id)._1 === deg(id), s"deg $id")
      assert(got(id)._2 === rank, s"rank $id")
    }
  }

  test("q146 PMI: ranks strict, support floor holds, marginals conserve") {
    val got = graft.operators.TextAnalysis.pmiBigrams(spark, sf0001).cache()
    try {
      val rows = got.orderBy(col("rnk")).collect()
      assert(rows.nonEmpty && rows.length <= 50)
      assert(rows.map(_.getInt(0)).toSeq === (1 to rows.length))
      // lift is non-increasing down the ranking and support floor holds
      val lifts = rows.map(_.getLong(6))
      assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(_.getLong(3) >= 5L))
      // marginals are true bigram marginals: recompute naively
      val naive = Tables.documents(spark, sf0001)
        .select(graft.functions.Portable.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1"), col("p.w2")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      rows.foreach { r =>
        val (w1, w2) = (r.getString(1), r.getString(2))
        assert(r.getLong(3) === naive.count(p => p == (w1, w2)), s"c_ab $w1 $w2")
        assert(r.getLong(4) === naive.count(_._1 == w1).toLong, s"c_a $w1")
        assert(r.getLong(5) === naive.count(_._2 == w2).toLong, s"c_b $w2")
      }
    } finally { got.unpersist(); () }
  }

  test("q147 HDR bucket bound holds on adversarial values, quantiles exact-ok") {
    // the deterministic contract behind est_ok: for EVERY v ≥ 1,
    // bucket_ub(v) ≥ v and (bucket_ub(v) − v)·32 ≤ v
    val vals = (Seq(1L, 2L, 31L, 32L, 63L, 64L, 65L, 127L, 128L, 1000L,
      (1L << 40) - 1, 1L << 40, (1L << 40) + 1, Long.MaxValue / 2) ++
      (0 to 61).map(b => 1L << b)).distinct
    import spark.implicits._
    val bad = vals.toDF("v")
      .selectExpr("v",
        "CASE WHEN v < 64 THEN v ELSE length(bin(v)) * 64 + " +
          "shiftright(v, length(bin(v)) - 6) END AS idx")
      .selectExpr("v",
        "CASE WHEN idx < 64 THEN idx ELSE " +
          "shiftleft(idx % 64 + 1, idx DIV 64 - 6) - 1 END AS ub")
      .filter(col("ub") < col("v") || (col("ub") - col("v")) * 32 > col("v"))
    assert(bad.count() === 0L)
    // and the full sketch pipeline's self-check verdicts all pass
    val got = graft.operators.TextAnalysis.quantileSketch(spark, sf0001)
    assert(got.count() > 0L)
    assert(got.filter(col("est_ok") =!= 1).count() === 0L)
  }

  test("q144 k-anonymity: actions consistent, ladder conserves individuals") {
    val got = graft.operators.Curation.kAnonymity(spark, sf0001).cache()
    try {
      // action agrees with the thresholds row by row
      assert(got.filter(
        (col("action") === "keep" && col("n") < 5) ||
        (col("action") === "generalize" &&
          (col("n") >= 5 || col("n_generalized") < 5)) ||
        (col("action") === "suppress" && col("n_generalized") >= 5))
        .count() === 0L)
      // the level-1 rung is an exact re-aggregation of level 0
      assert(got.groupBy(col("nation"), col("bal_bucket"))
        .agg(sum(col("n")).as("s"), min(col("n_generalized")).as("g1"),
          max(col("n_generalized")).as("g2"))
        .filter(col("s") =!= col("g1") || col("s") =!= col("g2"))
        .count() === 0L)
      // classes partition the table: sizes sum to the customer count
      val total = got.agg(sum(col("n"))).collect()(0).getLong(0)
      assert(total === Tables.customer(spark, sf0001).count())
    } finally { got.unpersist(); () }
  }

  test("q145 sorted neighborhood equals a single-window naive replay") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sf0001)
      .select(col("doc_id"), substring(col("text"), 1, 24).as("skey"),
        graft.functions.Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("skey"), array_sort(array_distinct(
        graft.functions.HashOps.shingle_hash60(col("ws"), 3))).as("hsh"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("skey"), col("doc_id"))))
    val naive = d.as("a").join(d.as("b"),
        col("b.rn") - col("a.rn") >= 1 && col("b.rn") - col("a.rn") <= 8)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("b.rn") - col("a.rn")).cast("long").as("gap"),
        (graft.functions.ArrayOps.sorted_intersect_count(
          col("a.hsh"), col("b.hsh")).cast("double") /
          (size(col("a.hsh")) + size(col("b.hsh")) -
            graft.functions.ArrayOps.sorted_intersect_count(
              col("a.hsh"), col("b.hsh")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val dist = graft.operators.Dedup.sortedNeighborhood(spark, sf0001)
    assert(dist.count() > 0L, "SNM must be non-vacuous at sf0.001")
    assert(dist.exceptAll(naive).count() === 0L)
    assert(naive.exceptAll(dist).count() === 0L)
  }

  test("q218 hard pairs: label contracts hold and the fold equals a local ranking replay") {
    import graft.functions.Portable
    val got = SimSearch.hardPairs(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    val labels = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rebuild the candidate/cosine table with the same public pieces
    val e0 = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Portable.qvec(col("embedding")).as("qv"),
        col("label"))
      .withColumn("n2", Portable.norm2(col("qv")))
    val cent = SimSearch.centroidFixture(spark, sf0001, SimSearch.NCells)
    val scored = e0.crossJoin(broadcast(cent))
      .withColumn("d2", col("n2") + col("cn2") -
        lit(2L) * Portable.dotq(col("qv"), col("cqv")))
    val corpus = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("w"))
      .select(col("vec_id"), col("w.cell").as("cell"))
    val probes = scored.filter(col("vec_id") < 8)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= 4)
      .select(col("vec_id").as("q_id"), col("cell"))
    val qf = e0.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"),
        col("n2").as("qn2"))
    val cands = corpus.join(probes, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
      .join(e0.select(col("vec_id"), col("qv"), col("n2")), "vec_id")
      .join(qf, "q_id")
      .select(col("q_id"), col("vec_id"),
        (Portable.dotq(col("qqv"), col("qv")).cast("double") /
          sqrt(nullif(col("qn2").cast("double") * col("n2").cast("double"),
            lit(0.0)))).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byAnchor = cands.groupBy(_._1)
    (0L until 8L).foreach { q =>
      val row = got(q)
      assert(row.getAs[Number](1).longValue() === labels(q),
        s"anchor $q label")
      val cs = byAnchor.getOrElse(q, Array.empty)
      def top(side: Boolean): Option[(Long, Double)] =
        cs.filter(c => (labels(c._2) == labels(q)) == side)
          .sortBy(c => (-c._3, c._2)).headOption.map(c => (c._2, c._3))
      (top(true), Option(row.get(2)).map(_ => (row.getLong(2),
        row.getDouble(3)))) match {
        case (Some((id, cos)), Some((gid, gcos))) =>
          assert(id === gid && math.abs(cos - gcos) < 1e-12, s"pos $q")
        case (e, g) => assert(e.isEmpty === g.isEmpty, s"pos $q: $e vs $g")
      }
      (top(false), Option(row.get(4)).map(_ => (row.getLong(4),
        row.getDouble(5)))) match {
        case (Some((id, cos)), Some((gid, gcos))) =>
          assert(id === gid && math.abs(cos - gcos) < 1e-12, s"neg $q")
        case (e, g) => assert(e.isEmpty === g.isEmpty, s"neg $q: $e vs $g")
      }
    }
    // the miner must produce at least one usable training triple here
    assert(got.values.exists(r => !r.isNullAt(6)),
      "no anchor yielded both a positive and a hard negative")
  }

  test("q220 late interaction equals a local MaxSim replay") {
    import graft.functions.Portable
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Portable.qvec(col("embedding")).as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val byDoc = vecs.groupBy(_._1 / 4)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val expected = (0L until 4L).flatMap { q =>
      val qvs = byDoc(q).map(_._2)
      byDoc.keys.filter(_ != q).toSeq.map { c =>
        val score = qvs.map(qv =>
          byDoc(c).map(cv => dot(qv, cv._2)).max).sum
        (q, c, score)
      }.sortBy { case (_, c, s) => (-s, c) }.take(5).zipWithIndex
        .map { case ((qd, c, s), i) => (qd, i + 1, c, s) }
    }.toSet
    val got = graft.operators.Retrieval.lateInteraction(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === expected)
  }

  test("q222 context assembly equals a local greedy replay; dedup and budget both bite") {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")
        .filter(_.nonEmpty).toSeq)
      .filter(_._2.nonEmpty)
    val qs = docs.filter(_._1 < 4).map { case (id, ws) =>
      id -> ws.distinct.toSet }
    val chunks = docs.filter(_._1 >= 4).flatMap { case (id, ws) =>
      val nChunks = math.max((ws.length - 17) / 48, 0) + 1
      (0 until nChunks).map { ci =>
        val cw = ws.slice(ci * 48, ci * 48 + 64)
        (id, ci.toLong, cw.length.toLong, h60(cw.mkString(" ")),
          cw.distinct.toSet)
      }
    }
    var totalScored = 0
    val expected = qs.flatMap { case (q, qts) =>
      val ranked = chunks
        .map { case (d, ci, n, h, cts) => (d, ci, n, h,
          (cts & qts).size.toLong) }
        .filter(_._5 > 0)
        .sortBy { case (d, ci, _, _, s) => (-s, d, ci) }
      totalScored += ranked.length
      val kept = ranked.foldLeft(
        (Seq.empty[(Long, Long, Long, Long, Long)], Set.empty[Long])) {
        case ((acc, seen), (d, ci, n, h, s)) =>
          if (seen(h)) (acc, seen)
          else (acc :+ ((d, ci, n, h, s)), seen + h)
      }._1
      kept.scanLeft(0L)(_ + _._3).tail.zip(kept).zipWithIndex
        .takeWhile { case ((cum, _), _) => cum <= 256L }
        .map { case ((cum, (d, ci, n, _, s)), i) =>
          (q, i + 1, d, ci, n, s, cum) }
    }.toSet
    val got = graft.operators.Retrieval.contextAssembly(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === expected)
    // the operator's two guards are non-vacuous on this corpus: the
    // budget rejected scored candidates (or dedup collapsed some)
    assert(got.size < totalScored,
      "every scored chunk was admitted — budget and dedup never fired")
  }
}

/** Spec-local TTLConfig probe: q98's accumulator under
  * TimeMode.ProcessingTime with a sub-second state TTL — the knob is
  * processing-time-only by engine contract, so it can only be PROVEN
  * where wall time passes inside the run (here), never in a
  * driver-checked oracle query (see [[graft.operators.UserFeatureProcessor]]).
  */
class TtlProbeProcessor(ttlMillis: Long) extends org.apache.spark.sql
    .streaming.StatefulProcessor[Long, (Long, Long, Long),
      graft.operators.UserFeatOut] {
  import graft.operators.{UserFeatAcc, UserFeatOut}
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig}
  @transient private var st: org.apache.spark.sql.streaming.ValueState[UserFeatAcc] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[UserFeatAcc]("features",
      org.apache.spark.sql.Encoders.product[UserFeatAcc],
      TTLConfig(java.time.Duration.ofMillis(ttlMillis)))
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
      timers: TimerValues): Iterator[UserFeatOut] = {
    var acc = if (st.exists()) st.get()
      else UserFeatAcc(0L, 0L, Long.MinValue)
    rows.foreach { case (_, vc, us) =>
      acc = UserFeatAcc(acc.n + 1, acc.vc + vc, math.max(acc.last_us, us))
    }
    st.update(acc)
    Iterator.single(UserFeatOut(key, acc.n, acc.vc, acc.last_us))
  }
}

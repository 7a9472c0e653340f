package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Portable
import graft.operators.{Decontam, Dedup, DedupClusters}

/** Semantic checks for the dedup operators against brute-force ground
  * truth on sf0.001 (small enough for all-pairs).
  */
class DedupSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf0001}

  private lazy val bruteforcePairs: Map[(Long, Long), Double] = {
    // exact shingle-set Jaccard for ALL pairs, computed independently
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        array_distinct(Portable.wordShingles(col("ws"))).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter) if jac >= 0.4
    } yield (a, b) -> jac).toMap
  }

  test("q15 minhash finds exactly the >=0.5-Jaccard pairs (here: all planted)") {
    val found = Dedup.dedupMinhash(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expected = bruteforcePairs.filter(_._2 >= 0.5)
    // every reported pair must be a true >=0.5 pair with the exact score
    found.foreach { case (k, j) =>
      assert(expected.contains(k), s"false positive $k")
      assert(math.abs(expected(k) - j) < 1e-12)
    }
    // planted near-dups are ~0.97 similar: band-miss probability is
    // ~(1-j^2)^4 < 1e-4, so all must be recalled
    val strong = expected.filter(_._2 >= 0.9)
    assert(strong.keySet.subsetOf(found.keySet),
      s"missed strong pairs: ${strong.keySet.diff(found.keySet)}")
    assert(strong.nonEmpty, "testdata should contain planted near-dups")
  }

  test("q14 exact dedup: singleton groups on raw corpus, pairs on doubled corpus") {
    val raw = Dedup.dedupExact(spark, sf0001)
    assert(raw.filter(col("n_copies") =!= 1).count() === 0)
    // re-ingesting the same corpus must collapse to the same groups
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val doubled = docs.unionAll(docs)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"))
    assert(doubled.filter(col("n") =!= 2).count() === 0)
    assert(doubled.count() === raw.count())
  }

  test("q16 simhash: near-dup pairs land within hamming distance 4") {
    val sh = Dedup.dedupSimhash(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val near = bruteforcePairs.filter(_._2 >= 0.9).keys
    near.foreach { case (a, b) =>
      val d = Integer.bitCount(sh(a) ^ sh(b))
      assert(d <= 4, s"pair ($a,$b) jac>=0.9 but hamming $d")
    }
  }

  test("q54 clusters equal union-find over the q15 pairs (fixpoint reached)") {
    val pairs = Dedup.dedupMinhash(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(n => n -> find(n)).toMap
    val sizes = truth.values.groupBy(identity).map { case (c, g) => c -> g.size.toLong }
    val got = DedupClusters.dupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet === truth.keySet)
    got.foreach { case (node, (cid, sz, canon)) =>
      assert(cid === truth(node), s"node $node wrong cluster")
      assert(sz === sizes(cid))
      assert(canon === (node == cid))
    }
    assert(pairs.nonEmpty)
  }

  test("q54 loop-until-converged equals the unrolled (guarded) query") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val unrolled = rows(DedupClusters.dupClusters(spark, sf0001))
    val looped = rows(DedupClusters.dupClustersConverged(spark, sf0001))
    assert(looped === unrolled)
    assert(looped.nonEmpty)
  }

  test("q58 incremental verdicts agree with brute-force ground truth") {
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpusTexts = texts.collect { case (id, t) if id % 10 != 7 => t }.toSet
    val verdicts = Dedup.dedupIncremental(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts.keySet === texts.keySet.filter(_ % 10 == 7))
    def hasNearPartner(id: Long, minJ: Double): Boolean =
      bruteforcePairs.exists { case ((a, b), j) =>
        j >= minJ && ((a == id && b % 10 != 7) || (b == id && a % 10 != 7))
      }
    verdicts.foreach { case (id, v) =>
      v match {
        case "dup_exact" => assert(corpusTexts.contains(texts(id)))
        case "dup_near" =>
          assert(!corpusTexts.contains(texts(id)))
          assert(hasNearPartner(id, 0.5), s"doc $id near-dup w/o partner")
        case "new" =>
          assert(!corpusTexts.contains(texts(id)))
          // strong pairs always collide in some band (p_miss < 1e-4)
          assert(!hasNearPartner(id, 0.9), s"doc $id missed a strong dup")
      }
    }
    assert(verdicts.values.toSet.size > 1, "want a mix of verdicts")
  }

  test("q18 embed near-dup pairs all meet the threshold and are label-blocked") {
    val rows = Dedup.dedupEmbed(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.35)
      assert(r.getLong(0) < r.getLong(1))
    }
  }

  test("q66 chunk dedup matches an independent driver-side replay") {
    // independent mirror: chunk every doc in plain Scala, global
    // first-occurrence by (doc_id, chunk_idx), reassemble
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .filter(_._2.nonEmpty).sortBy(_._1)
    val chunks = docs.flatMap { case (id, ws) =>
      ws.grouped(10).zipWithIndex.map { case (c, i) => (id, i.toLong, c.mkString(" ")) }
    }
    val firstOrd = chunks.groupBy(_._3).map { case (c, xs) =>
      c -> xs.map(x => x._1 * 1000000L + x._2).min
    }
    val expected = chunks.groupBy(_._1).map { case (id, xs) =>
      val kept = xs.sortBy(_._2).filter(x => x._1 * 1000000L + x._2 == firstOrd(x._3))
      id -> (xs.length.toLong, (xs.length - kept.length).toLong,
        if (kept.isEmpty) null else kept.map(_._3).mkString(" "))
    }
    val got = Dedup.dedupChunks(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got === expected)
    assert(expected.values.exists(_._2 > 0), "corpus should contain duplicate chunks")
    // a doc with nothing removed reassembles to its exact original text
    val untouched = docs.toMap
    got.collect { case (id, (_, 0L, cleaned)) =>
      assert(cleaned === untouched(id).mkString(" "), s"doc $id altered")
    }
  }

  test("q95 CDC chunking re-synchronizes after an insertion (q66's failure mode)") {
    import spark.implicits._
    // ~200 words of varied content, then doc 2 = one word prepended:
    // every fixed-stride chunk shifts, but content-defined boundaries
    // realign within one expected chunk length
    val base = (1 to 200).map(i => s"w${i * 7919 % 997}").mkString(" ")
    val docs = Seq((1L, base), (2L, "INSERTED " + base)).toDF("doc_id", "text")
    val got = graft.operators.Dedup.cdcDedupOf(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (n1, rem1) = got(1L)
    val (n2, rem2) = got(2L)
    assert(rem1 === 0L) // first occurrence keeps everything
    // all but the perturbed leading chunk(s) dedupe against doc 1
    assert(rem2 >= n2 - 2,
      s"CDC failed to re-sync: only $rem2 of $n2 chunks deduped")
    assert(n1 > 10) // non-vacuous chunking at this length
  }

  test("q137 rarest-first prefixes keep a Zipf-hot shingle out of the buckets") {
    import spark.implicits._
    // 40 docs sharing ONE hot shingle (hash 1 — sorts FIRST by value,
    // so a value-ordered prefix buckets the whole corpus on it) plus 3
    // unique rare shingles each; true Jaccard between any two is
    // 1/7 < 0.5. Docs 100/101 are the one genuine duplicate pair.
    val base = (1 to 40).map(i =>
      (i.toLong, Array(1L) ++ (0 until 3).map(j => 1000L + i * 10 + j)))
    val dup = Seq((100L, Array(5L, 6L, 7L, 8L)), (101L, Array(5L, 6L, 7L, 8L)))
    val d = (base ++ dup).toDF("doc_id", "hsh")
    // |S|=4, t=0.5 → prefix length 3: value order includes the hot
    // shingle in EVERY prefix → quadratic candidates; df order puts it
    // last (df=40 vs 1) → it lands in no prefix at all
    val naive = Dedup.prefixCandidates(d, rarestFirst = false).count()
    val ranked = Dedup.prefixCandidates(d).count()
    assert(naive >= 40L * 39 / 2, s"fixture not hot: $naive candidates")
    assert(ranked <= 5L,
      s"rarest-first prefixes did not defuse the hot shingle: $ranked")
    // and pruning lost nothing: the true duplicate pair still surfaces
    val pairs = Dedup.prefixJoinOf(d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((100L, 101L)))
  }

  test("q140 nightly drop: merged stats read persisted sketch state, not the base corpus") {
    val df = Dedup.nightlyDrop(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the stats side of the composition must scan yesterday's persisted
    // sketches (the graft_sketch parquet state dir) — a base-corpus
    // rescan for stats would defeat the incremental design
    assert(plan.contains("graft_sketch"),
      s"no persisted-sketch scan in plan:\n${plan.take(3000)}")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // sketch-merge bound holds for every source (q90/q134 discipline)
    assert(rows.forall(_.getAs[Int]("est_ok") == 1))
    // the manifest covers exactly the q58-accepted docs
    val accepted = Dedup.dedupIncremental(spark, sf0001)
      .filter(col("verdict") === "new").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === accepted)
  }

  test("q176 preference pairs: chosen/rejected match a brute per-cluster election") {
    // independent ground truth: clusters from q54 (already union-find
    // checked above) joined with scores recomputed here, elected by an
    // in-memory sort instead of the engine's bounded max/min structs
    val scores = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .collect()
      .map { r =>
        val ws = r.getSeq[String](1)
        r.getLong(0) -> 1000L * ws.distinct.size / ws.size
      }.toMap
    val members = DedupClusters.dupClusters(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (d, _, _) => scores.contains(d) }
      .groupBy(_._2)
    val expected = members.collect {
      case (cid, ms) if ms.length >= 2 =>
        val ranked = ms.map { case (d, _, _) => (scores(d), d) }
          .sortBy { case (s, d) => (-s, d) }
        val (cs, cd) = ranked.head
        // rejected: lowest score, ties broken by HIGHEST doc id
        val (rs, rd) = ranked.map { case (s, d) => (s, -d) }
          .sortBy(identity).head match { case (s, nd) => (s, -nd) }
        (cid, ms.head._3, cd, cs, rd, rs, cs - rs)
    }.toSet
    val got = DedupClusters.prefPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture has no multi-member clusters")
    got.foreach { case (_, _, cd, _, rd, _, m) =>
      assert(cd != rd, "chosen == rejected")
      assert(m >= 0, "negative margin")
    }
  }

  test("q177 calibration buckets are consistent and cover every verified q15 pair") {
    val rows = Dedup.minhashCalibration(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (est, n, sum, mn, mx) =>
      // 8 slots → estimates are exact multiples of 125 within [0, 1000]
      assert(est % 125 == 0 && est >= 0 && est <= 1000, s"bucket $est")
      assert(n > 0 && mn >= 0 && mx <= 1000 && mn <= mx)
      assert(mn * n <= sum && sum <= mx * n, "sum outside [min,max]·n")
    }
    // the audit scores every LSH candidate, so it covers at least the
    // pairs q15 verified and kept
    val q15 = Dedup.dedupMinhash(spark, sf0001).count()
    assert(rows.map(_._2).sum >= q15)
    // planted near-dups (exact ≈ 970 milli) must surface in
    // high-agreement buckets whose exact floor stays high — the curve
    // is calibrated, not scrambled (deterministic on this fixture)
    val high = rows.filter(_._1 >= 875)
    assert(high.nonEmpty && high.forall(_._4 >= 500),
      s"high-agreement buckets miscalibrated: ${high.mkString(", ")}")
  }

  test("q178 leakage matches a brute string-gram replay over the raw splits") {
    // fully independent: md5-prefix60 via MessageDigest, string grams
    // (no hash collisions assumed — a collision would fail loudly)
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def grams(text: String): Set[String] = {
      val ws = text.split(" ").filter(_.nonEmpty)
      if (ws.length < 8) Set.empty
      else ws.sliding(8).map(_.mkString(" ")).toSet
    }
    val train = docs.filter { case (_, t) => h60("split:" + t) % 1000 < 800 }
      .flatMap { case (_, t) => grams(t) }.toSet
    val expected = docs
      .filter { case (_, t) => h60("split:" + t) % 1000 >= 900 }
      .map { case (id, t) => id -> grams(t) }
      .filter(_._2.nonEmpty)
      .map { case (id, gs) =>
        val seen = gs.count(train)
        (id, gs.size.toLong, seen.toLong, 1000L * seen / gs.size)
      }.toSet
    val got = Decontam.ngramLeakage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
    assert(got.nonEmpty, "no test-split docs with >= 8 words")
  }

  test("q190 matrix folds exactly q15's pairs onto sources, canonically") {
    val srcOf = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.dedupMinhash(spark, sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).map { case ((lo, hi), ps) =>
      (lo, hi, ps.length.toLong, if (lo != hi) 1 else 0)
    }.toSet
    val got = Dedup.crossSourceDups(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === expected)
    // canonical: every row has source_lo <= source_hi, so a pair can
    // never be counted under both orderings
    assert(got.forall(r => r._1 <= r._2))
  }

  test("q191 weights equal 1000/q54-cluster-size; singletons weigh 1000") {
    val sizes = DedupClusters.dupClusters(spark, sf0001)
      .select(col("doc_id"), col("cluster_size")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = DedupClusters.softDedupWeights(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.length === nDocs, "every corpus doc gets a weight")
    rows.foreach { case (id, size, w) =>
      assert(size === sizes.getOrElse(id, 1L), s"doc $id")
      assert(w === 1000L / size, s"doc $id")
    }
    // equal-mass property: a cluster's total weight is 1000 up to the
    // integer floor (lost mass < cluster_size milli), so no content is
    // over-counted however many copies the crawl caught
    rows.filter(r => sizes.contains(r._1)).groupBy(r => sizes(r._1))
      .foreach { case (size, rs) =>
        val perCluster = rs.map(_._3).sum / (rs.length / size)
        assert(perCluster <= 1000L && perCluster > 1000L - size,
          s"size-$size clusters sum to $perCluster")
      }
    assert(rows.exists(_._2 > 1) && rows.exists(_._2 === 1L),
      "fixture exercises both clustered docs and singletons")
  }

  test("q197 surgery: brute canonical election and interval merge replay") {
    val n = Dedup.DupSpanN
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), Portable.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        graft.functions.HashOps.shingle_hash60(col("ws"), n).as("hs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    val occ = docs.flatMap { case (d, _, hs) =>
      hs.zipWithIndex.map { case (h, p) => (h, d, p.toLong) } }
    val own = occ.groupBy(_._1).filter(_._2.length >= 2)
      .map { case (h, os) => h -> os.map(o => (o._2, o._3)).min }
    val expected = docs.map { case (d, nt, hs) =>
      val ivs = hs.zipWithIndex.collect {
        case (h, p) if own.get(h).exists(_ != ((d, p.toLong))) =>
          (p.toLong, p.toLong + n)
      }.sortBy(_._1)
      var covered = 0L
      var end = -1L
      ivs.foreach { case (s, e) =>
        if (s >= end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      (d, nt, covered, nt - covered, covered * 1000 / nt)
    }.toSet
    val got = Dedup.dupSpanSurgery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === expected)
    // surgery never cuts more than q143 diagnoses — and the canonical
    // exemption genuinely bites at this SF (some doc keeps a span the
    // diagnostic flags, because it owns the first occurrence)
    val diag = Dedup.dupSpans(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val cut = got.map(t => t._1 -> t._3).toMap
    assert(cut.forall { case (d, c) => c <= diag(d) })
    assert(cut.exists { case (d, c) => c < diag(d) })
  }

  test("q198 calibration: bucket rates replay from the shipped kernels") {
    val buckets = graft.operators.TextAnalysis.quality(spark, sf0001)
      .select(col("doc_id"), col("quality_bucket")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byHash = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dupHashes = byHash.groupBy(_._2).filter(_._2.length >= 2).keySet
    val exactIds = byHash.filter(p => dupHashes(p._2)).map(_._1).toSet
    val nearIds = Dedup.dedupMinhash(spark, sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val expected = buckets.groupBy(_._2).map { case (b, ds) =>
      val n = ds.length.toLong
      val e = ds.count(d => exactIds(d._1)).toLong
      val nn = ds.count(d => nearIds(d._1)).toLong
      (b, n, e, nn, 1000 * e / n, 1000 * nn / n)
    }.toSet
    val got = Decontam.qualityDupCalibration(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === expected)
    // the fixture exercises the signal: near-dups occur and more than
    // one quality bucket is populated (verbatim exact duplicates are
    // absent at sf0.001 — the exact channel is covered by the replay
    // equality above and by q14's own oracle at every SF)
    assert(got.map(_._4).sum > 0)
    assert(got.size >= 2)
  }

  test("q202 sharding co-locates every near-dup cluster; singletons keyed by self") {
    val rows = DedupClusters.clusterSharding(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val shardOf = rows.map(t => t._1 -> t._3).toMap
    val clusterOf = rows.map(t => t._1 -> t._2).toMap
    // THE property: both endpoints of every candidate pair land in the
    // same shard — per-shard local dedup is globally complete
    val pairs = Dedup.dedupMinhash(spark, sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(shardOf(a) === shardOf(b), s"pair ($a,$b) split across shards")
      assert(clusterOf(a) === clusterOf(b))
    }
    // docs outside every pair are singletons keyed by their own id
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    rows.filterNot(t => inPairs(t._1)).foreach { case (d, c, _) =>
      assert(c === d)
    }
    // every doc is covered, and the layout actually spreads
    assert(rows.length ===
      graft.sources.Tables.documents(spark, sf0001).count())
    assert(rows.map(_._3).distinct.length > 1)
  }

  test("q194 verdicts compose the shipped split, pair, and gram kernels") {
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(t: String) = h60("split:" + t) % 1000
    val testIds = docs.filter(d => bucket(d._2) >= 900).map(_._1).toSet
    val trainIds = docs.filter(d => bucket(d._2) < 800).map(_._1).toSet
    val pairs = Dedup.dedupMinhash(spark, sf0001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairLeaked = pairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a)
    }.filter { case (d, p) => testIds(d) && trainIds(p) }.map(_._1).toSet
    val gramMilli = Decontam.ngramLeakage(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val expected = testIds.map { id =>
      val lm = gramMilli.getOrElse(id, 0L)
      val (p, g) = (pairLeaked(id), lm >= 500)
      val reason =
        if (p && g) "both" else if (p) "pair" else if (g) "gram" else "none"
      (id, lm, reason, if (reason == "none") "keep" else "quarantine")
    }
    val got = Decontam.evalDecontam(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(got === expected)
    assert(got.size === testIds.size, "every test doc gets a verdict")
  }

  test("q214 bloom screen: no false negatives, flags match a local replay, tiny filter saturates") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val hist = docs.filter(_._1 % 10 != 7).map(_._2).toSet
    def pos(h: String, j: Int, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bloom$j:$h".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m
    }
    val bits = hist.flatMap(h => (0 until Dedup.BloomK).map(pos(h, _,
      Dedup.BloomM)))
    val got = Dedup.bloomHistory(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
      .toMap
    assert(got.keySet === docs.filter(_._1 % 10 == 7).map(_._1).toSet)
    docs.filter(_._1 % 10 == 7).foreach { case (id, h) =>
      val (inBloom, exactDup, falsePos) = got(id)
      val expectBloom = (0 until Dedup.BloomK)
        .forall(j => bits(pos(h, j, Dedup.BloomM)))
      assert(inBloom === (if (expectBloom) 1 else 0), s"doc $id")
      assert(exactDup === (if (hist(h)) 1 else 0), s"doc $id")
      // the Bloom guarantee: membership never missed
      assert(!(exactDup == 1 && inBloom == 0),
        s"doc $id: false negative — not a Bloom filter")
      assert(falsePos === (if (inBloom == 1 && exactDup == 0) 1 else 0))
    }
    // FP regime, constructed: a 2-bit filter saturates on any real
    // history, so every non-dup increment doc becomes a false
    // positive — the audit column demonstrably fires
    val tiny = Dedup.bloomHistory(spark, sf0001, m = 2L).collect()
    assert(tiny.forall(_.getInt(1) == 1), "2-bit filter must saturate")
    val fps = tiny.count(r => r.getInt(3) == 1)
    val nonDups = tiny.count(r => r.getInt(2) == 0)
    assert(fps === nonDups && fps > 0,
      "every non-dup must surface as a measured false positive")
  }
}
